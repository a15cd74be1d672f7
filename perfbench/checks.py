"""Output checks against the benchmark's own numpy references.

Each check returns a list of failure messages (empty when the output is
correct). The references recompute from the generated inputs, never
from engine code.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def _brute_topk(qx: float, qy: float, tx, ty, tid, k: int):
    """Exact top-k of one query: squared distance ``dx*dx + dy*dy``,
    ties broken by neighbor id."""
    dx = tx - qx
    dy = ty - qy
    d = dx * dx + dy * dy
    kk = min(k, len(d))
    kth = np.partition(d, kk - 1)[kk - 1]
    cand = np.nonzero(d <= kth)[0]
    order = cand[np.lexsort((tid[cand], d[cand]))][:kk]
    return tid[order], d[order]


def _slab_topk(qx: float, qy: float, xs, ys, ids, k: int):
    """``_brute_topk`` over training sorted by x, scanning only the slab
    |x - qx| <= w. The slab doubles until its kth distance is at most
    (w/2)^2: every point outside has dx*dx > (w/2)^2 even after rounding,
    so it can neither enter the top k nor tie the kth, and the answer is
    the full scan's."""
    n = len(xs)
    kk = min(k, n)
    w = max(float(xs[-1] - xs[0]), 1e-300) * np.sqrt(kk / n)
    while True:
        lo = np.searchsorted(xs, qx - w, "left")
        hi = np.searchsorted(xs, qx + w, "right")
        if hi - lo >= kk:
            got = _brute_topk(qx, qy, xs[lo:hi], ys[lo:hi], ids[lo:hi], kk)
            if got[1][-1] <= 0.25 * w * w or (lo == 0 and hi == n):
                return got
        w *= 2.0


def _positions(qid: np.ndarray, ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(position in ``qid`` of each of ``ids``, whether it is in ``qid``)."""
    n = len(qid)
    lo, hi = int(qid.min()), int(qid.max())
    if hi - lo < 4 * n:  # dense ids: one gather instead of a binary search
        index = np.full(hi - lo + 1, -1, dtype=np.int64)
        index[qid - lo] = np.arange(n)
        inside = (ids >= lo) & (ids <= hi)
        pos = index[np.where(inside, ids - lo, 0)]
        return np.maximum(pos, 0), inside & (pos >= 0)
    order = np.argsort(qid)
    at = np.clip(np.searchsorted(qid[order], ids), 0, n - 1)
    return order[at], qid[order][at] == ids


def knn_result(
    result: pa.Table,
    query: tuple[np.ndarray, np.ndarray, np.ndarray],
    train: tuple[np.ndarray, np.ndarray, np.ndarray],
    k: int,
    sample: np.ndarray,
) -> list[str]:
    """Row count |Q|*k, ranks exactly 1..k per query, and exact neighbor
    ids and bit-equal distances for the sampled query positions."""
    qid, qx, qy = query
    tid, tx, ty = train
    n = len(qid)
    errs: list[str] = []
    rows = result.num_rows
    if rows != n * k:
        errs.append(f"knn: {rows} rows, expected {n * k}")
    inp = result.column("input_id").to_numpy()
    rank = result.column("rank").to_numpy().astype(np.int64)
    nb = result.column("neighbor_id").to_numpy()
    dist = result.column("dist_sq").to_numpy()
    pos, known = _positions(qid, inp)
    ok_rank = (rank >= 1) & (rank <= k)
    if not known.all() or not ok_rank.all():
        errs.append(f"knn: {int((~known).sum())} unknown ids, {int((~ok_rank).sum())} bad ranks")
        return errs
    slot = pos * k + rank - 1
    if not (np.bincount(slot, minlength=n * k) == 1).all():
        errs.append("knn: ranks are not exactly 1..k for every query")
        return errs
    nb_at = np.empty(n * k, dtype=np.int64)
    d_at = np.empty(n * k, dtype=np.float64)
    nb_at[slot] = nb
    d_at[slot] = dist
    by_x = np.argsort(tx, kind="stable")
    xs, ys, ids_x = tx[by_x], ty[by_x], tid[by_x]
    bad = 0
    for i in sample:
        ids, d = _slab_topk(qx[i], qy[i], xs, ys, ids_x, k)
        got_ids = nb_at[i * k : (i + 1) * k]
        got_d = d_at[i * k : (i + 1) * k]
        if not (np.array_equal(ids, got_ids) and np.array_equal(d.view(np.int64), got_d.view(np.int64))):
            bad += 1
    if bad:
        errs.append(f"knn: {bad}/{len(sample)} sampled queries differ from brute force")
    return errs


def ann_result(result: pa.Table, vecs: np.ndarray, ids: np.ndarray, k: int, sample) -> list[str]:
    """Sampled queries agree with a float64 numpy brute force: same
    neighbor set and distances within float rounding."""
    errs: list[str] = []
    n = len(ids)
    if result.num_rows != n * k:
        errs.append(f"ann: {result.num_rows} rows, expected {n * k}")
    q = result.column("query_id").to_numpy()
    rank = result.column("rank").to_numpy()
    nb = result.column("neighbor_id").to_numpy()
    dist = result.column("dist_sq").to_numpy()
    pos = {int(v): i for i, v in enumerate(ids)}
    v64 = vecs.astype(np.float64)
    bad = 0
    for i in sample:
        sel = np.nonzero(q == ids[i])[0]
        sel = sel[np.argsort(rank[sel])]
        diff = v64 - v64[pos[int(ids[i])]]
        d = (diff * diff).sum(axis=1)
        top = np.lexsort((ids, d))[:k]
        if not (
            set(nb[sel].tolist()) == set(ids[top].tolist())
            and np.allclose(dist[sel], d[top], rtol=1e-6, atol=1e-9)
        ):
            bad += 1
    if bad:
        errs.append(f"ann: {bad}/{len(sample)} sampled queries differ from brute force")
    return errs


def tile_histogram(rows: list, x: np.ndarray, y: np.ndarray, t: int) -> list[str]:
    ax = np.clip(np.floor(x * float(t)).astype(np.int64), 0, t - 1)
    ay = np.clip(np.floor(y * float(t)).astype(np.int64), 0, t - 1)
    want = np.bincount(ay * t + ax, minlength=t * t)
    got = np.zeros(t * t, dtype=np.int64)
    for tile, cnt in rows:
        got[tile] = cnt
    return [] if np.array_equal(want, got) else ["tile histogram differs from numpy"]


def morton(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    """Level-``level`` Morton code: x bit i at position 2i+1, y bit i at 2i."""
    side = 1 << level
    xi = np.clip(np.floor(x * float(side)).astype(np.int64), 0, side - 1)
    yi = np.clip(np.floor(y * float(side)).astype(np.int64), 0, side - 1)
    code = np.zeros(len(x), dtype=np.int64)
    for i in range(level):
        code |= ((xi >> i) & 1) << (2 * i + 1)
        code |= ((yi >> i) & 1) << (2 * i)
    return code


def cell_rollup(rows: list, x: np.ndarray, y: np.ndarray, level: int) -> list[str]:
    cells, counts = np.unique(morton(x, y, level), return_counts=True)
    got = sorted((int(c), int(n)) for c, n in rows)
    if len(got) != len(cells):
        return [f"cells: {len(got)} distinct cells, expected {len(cells)}"]
    if got != list(zip(cells.tolist(), counts.tolist())):
        return ["cells: per-cell counts differ from numpy"]
    return []


def radius_counts(result: pa.Table, pts, radius: float, sample) -> list[str]:
    pid, px, py = pts
    errs = []
    if result.num_rows != len(pid):
        errs.append(f"radius: {result.num_rows} rows, expected {len(pid)}")
    got = dict(zip(result.column("input_id").to_pylist(), result.column("n_within").to_pylist()))
    r2 = radius * radius
    bad = 0
    for i in sample:
        dx = px[i] - px
        dy = py[i] - py
        want = int((dx * dx + dy * dy <= r2).sum())
        if got.get(int(pid[i])) != want:
            bad += 1
    if bad:
        errs.append(f"radius: {bad}/{len(sample)} sampled counts differ from numpy")
    return errs


def pip_tags(rows: list, pts, rings: list) -> list[str]:
    """Even-odd rule, edge (a, b) per ring vertex with the closing edge."""
    pid, px, py = pts
    want = set()
    for j, ring in enumerate(rings):
        r = np.asarray(ring, dtype=np.float64)
        inside = np.zeros(len(px), dtype=bool)
        for (x1, y1), (x2, y2) in zip(r, np.roll(r, -1, axis=0)):
            straddles = (y1 > py) != (y2 > py)
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
            inside ^= straddles & (px < xint)
        want.update((int(i), f"p{j}") for i in pid[inside])
    got = {(int(i), p) for i, p in rows}
    return [] if got == want else [f"pip: {len(got ^ want)} tags differ from numpy"]


def shingles(text: str, n: int = 3) -> set:
    w = text.lower().split()
    return {tuple(w[i : i + n]) for i in range(max(1, len(w) - n + 1))}


def minhash_pairs(result: pa.Table, captions: np.ndarray, threshold: float, sample) -> list[str]:
    """Every pair is ordered a < b with verified Jaccard >= threshold;
    sampled pairs are re-verified on the captions' word 3-gram sets."""
    a = result.column("a").to_numpy()
    b = result.column("b").to_numpy()
    jac = result.column("jaccard").to_numpy()
    errs = []
    if len(a) == 0:
        return ["minhash: no pairs"]
    if not ((a < b).all() and (jac >= threshold).all()):
        errs.append("minhash: unordered pair or jaccard below threshold")
    bad = 0
    for i in sample % len(a):
        sa, sb = shingles(captions[a[i] - 1]), shingles(captions[b[i] - 1])
        if len(sa & sb) / len(sa | sb) < threshold:
            bad += 1
    if bad:
        errs.append(f"minhash: {bad}/{len(sample)} sampled pairs below threshold")
    return errs
