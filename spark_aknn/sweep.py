"""Stage-1 plane-sweep kernel — vectorized numpy kNN inside applyInArrow.

Reference semantics re-expressed (not ported):
  * x-sorted sweep with bidirectional expansion and the dx^2 >= kth prune
    (/root/reference/PlaneSweepParallel/include/PlaneSweepAlgorithm.h:30-158,
    PointNeighbors.h:166-184);
  * per-query bounded top-k container (PointNeighbors.h:125-228) with the
    strict-< replacement rule; we canonicalize ties by (dist_sq,
    neighbor_id) ascending so output is deterministic and SQL-expressible
    (the reference itself only compares distances across variants,
    AllKnnResult.h:200-207).

Numpy-native formulation instead of a per-point cursor loop: for each
query, gather the 2w x-nearest training points via searchsorted (the
"copy" layout, PlaneSweepCopyAlgorithm.h:30-128), compute all distances
as one (chunk x 2w) matrix, take top-k, and *verify* the window was wide
enough: any training point outside the window has dx^2 >= gap^2, so if
kth_dist < gap^2 the sweep provably terminated — that inequality IS the
reference's prune, applied per batch instead of per step. Queries that
fail the check re-run with w doubled (geometric, ~1-2 rounds typical).

The same kernel serves the boundary-exchange refinement (stage 2) via
``cap``: per-query upper bound on useful distance (the stage-1 kth),
mirroring the pending-point prune dy^2 < heap.top
(PlaneSweepStripesParallelExternalAlgorithm.h:201-204).
"""

from __future__ import annotations

import numpy as np

# Soft budget for one round's gather matrix, in float64 elements. Sized
# so ALL the round's per-chunk temporaries (distance matrix, masks, sort
# orders — ~10 arrays of chunk x 2w) stay L2-cache-resident: the kernel
# is otherwise memory-bandwidth-bound streaming ~10 full-size
# temporaries per round through DRAM (measured 1.4x wall-time on the
# 3x10^6-point headline shape from this change alone; 16-24k elements is
# the plateau, 1M+ is ~2x slower). Python-level chunk-loop overhead is
# noise: ~400 queries per chunk at typical windows.
_ELEM_BUDGET = 16 * 1024


def _initial_window(tx: np.ndarray, ty: np.ndarray, n: int, k: int) -> int:
    """Density-derived first window half-width.

    The expected kth-neighbor radius in a cell with uniform density rho
    is r = sqrt(k/(pi*rho)); the x-slab |dx| <= r then holds about
    2*r*n/width training points. Starting there (x1.3 headroom) lets
    ~90% of queries finish in ONE round instead of always paying a
    too-narrow max(k,8) round first and redoing the work doubled (the
    reference's cursor sweep grows per point and never re-scans,
    PlaneSweepAlgorithm.h:30-158; this batched kernel pays per ROUND, so
    the first guess matters). Falls back to max(k,8) for degenerate
    extents (duplicate-heavy cells)."""
    w_fallback = max(k, 8)
    if n < 4 * w_fallback:
        return w_fallback
    width = tx[-1] - tx[0]
    height = ty.max() - ty.min()
    if not (np.isfinite(width) and np.isfinite(height)) or width <= 0 or height <= 0:
        return w_fallback
    r = np.sqrt(k * width * height / (np.pi * n))
    w0 = int(np.ceil(1.3 * r * n / width))
    return int(np.clip(w0, w_fallback, n))


def window_topk(
    qx: np.ndarray,
    qy: np.ndarray,
    tx: np.ndarray,
    ty: np.ndarray,
    tid: np.ndarray,
    k: int,
    cap: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Top-k nearest training points for each query, exact.

    Inputs: queries (qx, qy) [m]; training (tx, ty, tid) — tx MUST be
    sorted ascending, ty/tid aligned to it. ``cap`` (optional) [m]:
    discard candidates with dist_sq > cap (keep == cap: a tied candidate
    with a smaller id must be able to displace one kept elsewhere).

    Returns (ids[m,k] int64 padded -1, dists[m,k] float64 padded +inf,
    counts[m] int32, scanned[m] int64 candidate-evaluation counts —
    the analogue of the reference's heap-addition statistics,
    AllKnnResult.h:236-268).
    """
    m = qx.shape[0]
    n = tx.shape[0]
    out_ids = np.full((m, k), -1, dtype=np.int64)
    out_d = np.full((m, k), np.inf, dtype=np.float64)
    counts = np.zeros(m, dtype=np.int32)
    scanned = np.zeros(m, dtype=np.int64)
    if m == 0 or n == 0:
        return out_ids, out_d, counts, scanned
    capv = np.full(m, np.inf) if cap is None else np.asarray(cap, dtype=np.float64)

    pos = np.searchsorted(tx, qx).astype(np.int64)
    pending = np.arange(m)
    w = _initial_window(tx, ty, n, k)
    while pending.size:
        w = min(w, n)  # window wider than the dataset is a full scan
        # chunk so the gather matrix stays under the element budget
        chunk = max(1, _ELEM_BUDGET // (2 * w))
        still: list[np.ndarray] = []
        for s in range(0, pending.size, chunk):
            sel = pending[s : s + chunk]
            unfinished = _topk_window_round(
                qx[sel], qy[sel], pos[sel], tx, ty, tid, k, w, capv[sel],
                out_ids, out_d, counts, scanned, sel,
            )
            if unfinished.size:
                still.append(sel[unfinished])
        if not still:
            break
        pending = np.concatenate(still)
        if w >= n:
            break  # full scan already done — nothing more to find
        w *= 2
    return out_ids, out_d, counts, scanned


def _topk_window_round(
    qx, qy, pos, tx, ty, tid, k, w, cap,
    out_ids, out_d, counts, scanned, sel,
) -> np.ndarray:
    """One doubling round for a chunk; writes results, returns local
    indices of queries whose window check failed."""
    n = tx.shape[0]
    c = qx.shape[0]
    offs = np.arange(-w, w, dtype=np.int64)
    idx = pos[:, None] + offs[None, :]
    valid = (idx >= 0) & (idx < n)
    idxc = np.where(valid, idx, 0)
    dx = tx[idxc] - qx[:, None]
    dy = ty[idxc] - qy[:, None]
    d = dx * dx + dy * dy
    d[~valid] = np.inf
    d[d > cap[:, None]] = np.inf

    ids_win = tid[idxc]
    # (dist, id) ordering via two stable sorts (== lexsort per row)
    ord1 = np.argsort(ids_win, axis=1, kind="stable")
    d1 = np.take_along_axis(d, ord1, axis=1)
    ord2 = np.argsort(d1, axis=1, kind="stable")
    final = np.take_along_axis(ord1, ord2, axis=1)[:, :k]
    dk = np.take_along_axis(d, final, axis=1)
    idk = np.take_along_axis(ids_win, final, axis=1)
    if dk.shape[1] < k:  # window narrower than k (tiny training set)
        pad = k - dk.shape[1]
        dk = np.pad(dk, ((0, 0), (0, pad)), constant_values=np.inf)
        idk = np.pad(idk, ((0, 0), (0, pad)), constant_values=-1)
    found = (dk < np.inf).sum(axis=1).astype(np.int32)

    # window-sufficiency check: nearest excluded |dx| on each side
    has_left = pos - w > 0
    has_right = pos + w < n
    gap_l = np.where(has_left, qx - tx[np.maximum(pos - w - 1, 0)], np.inf)
    gap_r = np.where(has_right, tx[np.minimum(pos + w, n - 1)] - qx, np.inf)
    bound = np.minimum(gap_l * gap_l, gap_r * gap_r)
    kth = dk[:, k - 1] if k <= 2 * w else np.full(c, np.inf)
    need = np.minimum(kth, cap)  # beyond cap nothing can matter
    # strict <: an excluded point at exactly `need` could win a tie by id
    done = (bound == np.inf) | (need < bound) | (bound > cap)

    idk = np.where(dk < np.inf, idk, -1)
    out_ids[sel] = idk
    out_d[sel] = dk
    counts[sel] = found
    scanned[sel] = valid.sum(axis=1)
    return np.nonzero(~done)[0]


def brute_force_topk(qx, qy, tx, ty, tid, k):
    """Oracle: the reference's brute-force variant
    (/root/reference/PlaneSweepParallel/include/BruteForceAlgorithm.h:28-64),
    in ~10 lines of numpy. Test-only."""
    out_ids = np.full((len(qx), k), -1, dtype=np.int64)
    out_d = np.full((len(qx), k), np.inf)
    for i in range(len(qx)):
        d = (tx - qx[i]) ** 2 + (ty - qy[i]) ** 2
        order = np.lexsort((tid, d))[:k]
        out_d[i, : len(order)] = d[order]
        out_ids[i, : len(order)] = tid[order]
    return out_ids, out_d
