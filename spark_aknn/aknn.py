"""The all-kNN join — the engine's flagship operator.

Logical semantics (identical to the reference's single query,
/root/reference/PlaneSweepParallel/src/PlaneSweepParallel.cpp:29-398):
for every input point, the k nearest training points under squared
Euclidean distance. Output one row per (query, rank):
    (input_id, rank, neighbor_id, dist_sq), rank 1 = nearest,
ties broken by neighbor_id ascending (canonical deterministic order; the
reference only compares distances across its variants,
AllKnnResult.h:200-207, so any fixed tie rule is conformant).

Physical plan (Spark-first, two shuffles + one window):

  stage 0  grid:      quantile y-stripe boundaries (+ x-substripes for
                      skewed stripes) — small driver-side metadata
  stage 1  local kNN: cogroup input/training on cell id ->
                      applyInArrow(numpy windowed plane sweep; ListArray
                      top-k columns built from values+offsets, zero
                      per-row Python) -> per-query top-k + kth bound
  stage 2  exchange:  queries whose kth-radius circle escapes their cell
                      fan out to every other cell whose rectangle is
                      within kth (broadcast cell table, JVM-only
                      pruning); cogroup with training on target cell ->
                      same kernel, capped at kth
  stage 3  merge:     union stage-1/stage-2 candidates ->
                      row_number() over (input_id, dist_sq, neighbor_id)
                      <= k  (whole-stage-codegen window, no Python)

Correctness: stage-1 kth is an upper bound on the true kth distance, so
any true neighbor outside the query's own cell lies within kth of it,
is found by stage 2 in its own cell's capped top-k, and survives the
merge. This single-shot exchange replaces the reference's iterative
outward stripe walk (PlaneSweepStripesAlgorithm.h:71-112) and its
out-of-core pending-point second pass
(PlaneSweepStripesParallelExternalAlgorithm.h:183-234): on a cluster all
cells are simultaneously resident, so one shuffle suffices.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spark_aknn.grid import Grid, assign_cells, assign_cells_margin, cells_df, plan_grid
from spark_aknn.sweep import window_topk

_STAGE1_SCHEMA = (
    "stripe_id int, sub_id int, input_id long, x double, y double, "
    "kth_dist_sq double, n_found int, "
    "neighbor_ids array<long>, dist_sqs array<double>, scanned long"
)
_STAGE1_PA = pa.schema(
    [
        ("stripe_id", pa.int32()),
        ("sub_id", pa.int32()),
        ("input_id", pa.int64()),
        ("x", pa.float64()),
        ("y", pa.float64()),
        ("kth_dist_sq", pa.float64()),
        ("n_found", pa.int32()),
        ("neighbor_ids", pa.list_(pa.int64())),
        ("dist_sqs", pa.list_(pa.float64())),
        ("scanned", pa.int64()),
    ]
)
_CELL_KEYS = ["stripe_id", "sub_id"]
_STAGE2_SCHEMA = "input_id long, neighbor_id long, dist_sq double"
_STAGE2_PA = pa.schema(
    [("input_id", pa.int64()), ("neighbor_id", pa.int64()), ("dist_sq", pa.float64())]
)


def _np(tbl: pa.Table, col: str) -> np.ndarray:
    return tbl.column(col).to_numpy(zero_copy_only=False)


def _sorted_training(tbl: pa.Table, k: int | None = None):
    """x-sorted training arrays; with ``k``, exact-duplicate coordinates
    are pre-capped to their k smallest ids.

    Exactness: all points at one exact (x, y) are equidistant from EVERY
    query, so under the canonical (dist_sq, neighbor_id)-ascending tie
    rule at most the k smallest ids at that coordinate can ever appear
    in any top-k (stage 2's cap filter is distance-only, so it cannot
    re-admit a trimmed point either). Cell assignment is a pure function
    of (x, y), so duplicates share cells and stage 1/stage 2 trim
    identically — merge_topk's bit-equal dedup is preserved. This bounds
    the tie scan on duplicate-heavy data (the reference's duplicate
    fixture semantics, AllKnnResult.h:200-207) to k per coordinate:
    without it, quantized clustered data with ~800 duplicates per
    coordinate ran ~25x below uniform throughput (BENCH/SYNTHETIC.md).
    """
    tx = _np(tbl, "x")
    order = tx.argsort(kind="stable")
    xs = tx[order]
    ys = _np(tbl, "y")[order]
    ids = _np(tbl, "id")[order]
    if k is None or len(xs) <= k:
        return xs, ys, ids
    dup = xs[1:] == xs[:-1]
    if not dup.any():
        return xs, ys, ids  # no duplicate x at all => no duplicate (x,y)
    # re-sort ONLY the duplicate-x runs by (x, y, id): runs are
    # contiguous in the x-sort, so writing the reordered subset back in
    # place preserves global x order. The r5 version re-lexsorted the
    # WHOLE cell whenever any duplicate existed — on clustered/quantized
    # corpora (every cell has a few duplicate x) that double full sort
    # was the prime suspect for the 2.4x images-vs-uniform breach.
    in_run = np.zeros(len(xs), dtype=bool)
    in_run[1:] = dup
    in_run[:-1] |= dup
    sel = np.nonzero(in_run)[0]
    sub = np.lexsort((ids[sel], ys[sel], xs[sel]))
    xs[sel], ys[sel], ids[sel] = xs[sel][sub], ys[sel][sub], ids[sel][sub]
    new = np.empty(len(xs), dtype=bool)
    new[0] = True
    new[1:] = (xs[1:] != xs[:-1]) | (ys[1:] != ys[:-1])
    if new.all():
        return xs, ys, ids  # duplicate x but never duplicate (x, y)
    starts = np.nonzero(new)[0]
    run = np.cumsum(new) - 1
    within = np.arange(len(xs), dtype=np.int64) - starts[run]
    keep = within < k
    if keep.all():
        return xs, ys, ids
    return xs[keep], ys[keep], ids[keep]


def _list_array(flat: np.ndarray, counts: np.ndarray, typ) -> pa.ListArray:
    """O(1)-copy Arrow list column from flat values + per-row counts —
    no per-row Python objects (the reason for applyInArrow here)."""
    offsets = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offsets[1:])
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, type=typ))


def _stage1_kernel_factory(k: int):
    def kernel(key, qtbl: pa.Table, ttbl: pa.Table) -> pa.Table:
        if qtbl.num_rows == 0:
            return _STAGE1_PA.empty_table()
        qx, qy, qid = _np(qtbl, "x"), _np(qtbl, "y"), _np(qtbl, "id")
        tx, ty, tid = _sorted_training(ttbl, k)
        ids, dists, counts, scanned = window_topk(qx, qy, tx, ty, tid, k)
        kth = np.where(counts >= k, dists[:, k - 1], np.inf)
        # validity is positional (first n_found entries, (dist,id)-sorted);
        # NEVER test ids >= 0 — ids may be arbitrary int64 (xxhash64)
        mask = np.arange(ids.shape[1])[None, :] < counts[:, None]
        m = len(qid)
        return pa.Table.from_arrays(
            [
                pa.array(np.full(m, key[0].as_py(), dtype=np.int32)),
                pa.array(np.full(m, key[1].as_py(), dtype=np.int32)),
                pa.array(qid, type=pa.int64()),
                pa.array(qx),
                pa.array(qy),
                pa.array(kth),
                pa.array(counts, type=pa.int32()),
                _list_array(ids[mask], counts, pa.int64()),
                _list_array(dists[mask], counts, pa.float64()),
                pa.array(scanned, type=pa.int64()),
            ],
            schema=_STAGE1_PA,
        )

    return kernel


def _stage2_kernel_factory(k: int):
    def kernel(key, qtbl: pa.Table, ttbl: pa.Table) -> pa.Table:
        if qtbl.num_rows == 0 or ttbl.num_rows == 0:
            return _STAGE2_PA.empty_table()
        qx, qy = _np(qtbl, "x"), _np(qtbl, "y")
        qid = _np(qtbl, "input_id")
        cap = _np(qtbl, "kth_dist_sq")
        tx, ty, tid = _sorted_training(ttbl, k)
        ids, dists, counts, _ = window_topk(qx, qy, tx, ty, tid, k, cap=cap)
        mask = np.arange(ids.shape[1])[None, :] < counts[:, None]
        return pa.Table.from_arrays(
            [
                pa.array(np.repeat(qid, counts), type=pa.int64()),
                pa.array(ids[mask], type=pa.int64()),
                pa.array(dists[mask]),
            ],
            schema=_STAGE2_PA,
        )

    return kernel


def _fresh_lineage(df: DataFrame) -> DataFrame:
    """Re-project every column through an arithmetic no-op, minting new
    expression ids. Required for self-joins: cogrouping two plans that
    SHARE attribute ids trips Spark's dedup/pruning into dropping the
    right side's non-key columns (the kernels then see a key-only
    schema). Values are bit-preserved (+0 cast to the column's type,
    elementwise for array columns; coordinates here are never -0.0)."""

    def plus_zero(c: str, t: str):
        if t.startswith("array<"):
            return F.transform(F.col(c), lambda v: v + F.lit(0).cast(t[6:-1]))
        return F.col(c) + F.lit(0).cast(t)

    return df.select(*[plus_zero(c, t).alias(c) for c, t in df.dtypes])


def _cogroup(queries: DataFrame, training: DataFrame, keys, kernel, schema: str) -> DataFrame:
    """The one kernel boundary of the all-kNN stages and the ANN tier:
    ``kernel(key, queries, training)`` runs once per key group on Arrow
    tables, the training side re-projected by _fresh_lineage."""
    return (
        queries.groupBy(*keys)
        .cogroup(_fresh_lineage(training).groupBy(*keys))
        .applyInArrow(kernel, schema)
    )


def stage1_local_topk(input_cells: DataFrame, training_cells: DataFrame, k: int) -> DataFrame:
    return _cogroup(
        input_cells, training_cells, _CELL_KEYS, _stage1_kernel_factory(k), _STAGE1_SCHEMA
    )


def with_escape_flag(stage1: DataFrame, cells: DataFrame) -> DataFrame:
    """Flag queries whose kth-radius circle escapes their own cell —
    only those can gain candidates from other cells (the Spark analogue
    of the stripe-boundary prune dy_boundary^2 < heap.top,
    PlaneSweepStripesAlgorithm.h:77-110, generalized to rectangles).
    Broadcast join + column math; no Python, no shuffle.

    Squared arithmetic throughout (edge-gap^2 <= kth_dist_sq, inclusive)
    — monotone and exactly conservative; a sqrt-based radius test could
    round a few-ulp boundary case to non-escaping and silently drop a
    true neighbor. The kernel and the reference both compare squared
    distances (PlaneSweepStripesAlgorithm.h:77)."""
    own = cells.select(
        F.col("stripe_id").alias("q_stripe"),
        F.col("sub_id").alias("q_sub"),
        # margin-expanded bounds: the rectangle the cell's training is
        # GUARANTEED to cover (== the plain bounds at margin_factor=0);
        # stage-1 certified the query iff its kth circle stays inside it
        F.col("m_ylo").alias("o_ylo"),
        F.col("m_yhi").alias("o_yhi"),
        F.col("m_xlo").alias("o_xlo"),
        F.col("m_xhi").alias("o_xhi"),
    )
    q = stage1.withColumnsRenamed({"stripe_id": "q_stripe", "sub_id": "q_sub"}).join(
        F.broadcast(own), ["q_stripe", "q_sub"], "left"
    )
    kth = F.col("kth_dist_sq")
    gxl = F.col("x") - F.col("o_xlo")
    gxh = F.col("o_xhi") - F.col("x")
    gyl = F.col("y") - F.col("o_ylo")
    gyh = F.col("o_yhi") - F.col("y")
    escapes = (
        (gxl * gxl <= kth)
        | (gxh * gxh <= kth)
        | (gyl * gyl <= kth)
        | (gyh * gyh <= kth)
        | kth.isNull()
        | (kth == float("inf"))
    )
    return q.withColumn("escapes", escapes).drop("o_ylo", "o_yhi", "o_xlo", "o_xhi")


def build_frontier(flagged: DataFrame, cells: DataFrame, grid: Grid) -> DataFrame:
    """Escaping queries × target cells that might improve their top-k:
    target qualifies iff squared distance from the query to the cell
    rectangle is <= the stage-1 kth bound.

    Scale path: bucketize the query's y-range [y-r, y+r] against the
    stripe boundaries (JVM binary search, one Bucketizer pass for both
    ends), explode the stripe SPAN, then equi-join the broadcast cell
    table on stripe_id — a BroadcastHashJoin whose per-row fanout is the
    stripes the radius actually touches, not a cross join against every
    cell (at 10^5+ cells a BroadcastNestedLoopJoin scans all of them per
    frontier row). The candidate radius is inflated by 1e-9 relative so
    sqrt rounding can never skip a stripe; the exact squared
    rectangle-distance filter below decides membership."""
    from spark_aknn.stripes import assign_stripes_multi

    frontier = flagged.filter(F.col("escapes")).select(
        "q_stripe", "q_sub", "input_id", "x", "y", "kth_dist_sq"
    )
    r = F.sqrt(F.coalesce(F.col("kth_dist_sq"), F.lit(float("inf")))) * F.lit(1.0 + 1e-9)
    spans = assign_stripes_multi(
        frontier.withColumn("y_lo_probe", F.col("y") - r).withColumn(
            "y_hi_probe", F.col("y") + r
        ),
        grid.y_splits,
        ["y_lo_probe", "y_hi_probe"],
        ["s_lo", "s_hi"],
    )
    exploded = spans.select(
        "q_stripe", "q_sub", "input_id", "x", "y", "kth_dist_sq",
        F.explode(F.sequence(F.col("s_lo"), F.col("s_hi"))).alias("stripe_id"),
    )
    tgt = cells.select("stripe_id", "sub_id", "ylo", "yhi", "xlo", "xhi")
    joined = exploded.join(F.broadcast(tgt), "stripe_id").filter(
        (F.col("stripe_id") != F.col("q_stripe")) | (F.col("sub_id") != F.col("q_sub"))
    )
    ddx = F.greatest(F.col("xlo") - F.col("x"), F.col("x") - F.col("xhi"), F.lit(0.0))
    ddy = F.greatest(F.col("ylo") - F.col("y"), F.col("y") - F.col("yhi"), F.lit(0.0))
    mindist = ddx * ddx + ddy * ddy
    return joined.filter(mindist <= F.col("kth_dist_sq")).select(
        "stripe_id", "sub_id", "input_id", "x", "y", "kth_dist_sq"
    )


def stage2_exchange(frontier: DataFrame, training_cells: DataFrame, k: int) -> DataFrame:
    return _cogroup(frontier, training_cells, _CELL_KEYS, _stage2_kernel_factory(k), _STAGE2_SCHEMA)


def _explode_ranked(flagged: DataFrame, id_col: str = "input_id") -> DataFrame:
    """Stage-1 arrays are (dist, id)-sorted: posexplode gives final
    ranks, no shuffle."""
    return flagged.select(
        id_col,
        F.posexplode(F.arrays_zip(F.col("neighbor_ids"), F.col("dist_sqs"))).alias("pos", "z"),
    ).select(
        id_col,
        (F.col("pos") + 1).alias("rank"),
        F.col("z.neighbor_ids").alias("neighbor_id"),
        F.col("z.dist_sqs").alias("dist_sq"),
    )


def _rank_topk(cands: DataFrame, k: int, id_col: str = "input_id") -> DataFrame:
    """row_number() over (id_col; dist_sq, neighbor_id) <= k — the one
    rank window (whole-stage codegen, no Python)."""
    w = Window.partitionBy(id_col).orderBy("dist_sq", "neighbor_id")
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "rank", "neighbor_id", "dist_sq")
    )


def merge_topk(
    flagged_stage1: DataFrame,
    stage2: DataFrame,
    k: int,
    dedup: bool = False,
    escaping: DataFrame | None = None,
) -> DataFrame:
    """Final merge, split by the escape flag:

    * non-escaping queries (the vast majority under margin replication):
      stage-1 rows already carry final ranks — a filter, zero shuffle;
    * escaping queries: union their stage-1 candidates with stage-2
      candidates and window-rank (whole-stage-codegen, no Python) — the
      shuffle is bounded by the frontier, not the corpus.

    ``dedup``: under margin replication a training point seen by stage 1
    in the query's (margin-expanded) cell can be re-found by stage 2 in
    its home cell; both legs compute the identical float64 expression on
    identical doubles, so the duplicate rows are bit-equal and a
    distinct() removes them exactly. Only the escaping tail pays it.

    Equivalent of the reference's final heap drain + sort by
    (inputPointId, position) (AllKnnResultStripesParallelExternal.h:492-510).
    """
    cols = ["input_id", "rank", "neighbor_id", "dist_sq"]
    done = _explode_ranked(flagged_stage1.filter(~F.col("escapes"))).select(*cols)
    # ``escaping``: a pre-filtered (typically separately cached, tiny)
    # escaping subset — saves the needy leg a full scan of the big
    # stage-1 cache
    needy_src = escaping if escaping is not None else flagged_stage1.filter(F.col("escapes"))
    needy = _explode_ranked(needy_src).select("input_id", "neighbor_id", "dist_sq")
    allc = needy.unionByName(stage2)
    if dedup:
        allc = allc.distinct()
    return done.unionByName(_rank_topk(allc, k))


def _checked_points(df: DataFrame) -> DataFrame:
    """(id, x, y) whose x and y raise an error naming the point id when
    either coordinate is null, NaN or infinite — the input check of the
    all-kNN operators and the radius join, which would otherwise drop or
    misplace the point silently. It rides in the projection: no extra
    job."""
    ok = (F.abs("x") < float("inf")) & (F.abs("y") < float("inf"))  # null/NaN/inf fail
    err = F.raise_error(F.format_string("null or non-finite coordinate at point id %s", "id"))
    return df.select("id", *[F.when(ok, F.col(c)).otherwise(err).alias(c) for c in ("x", "y")])


def _check_margin(margin_factor: float) -> None:
    """NaN margins make every escape comparison false, certifying
    queries against coverage that was never replicated; a negative one
    shrinks the cells. Both are rejected before any Spark job."""
    if not margin_factor >= 0:
        raise ValueError(f"margin_factor must be a number >= 0, got {margin_factor!r}")


def _cell_points(
    inputs: DataFrame, training: DataFrame, grid: Grid, margin_factor: float, widen=lambda df: df
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The point projection and cell assignment of both all-kNN
    operators: (input cells, home-assigned training cells, training
    cells margin-replicated for stage 1), each (stripe_id, sub_id, id,
    x, y). ``widen`` wraps the stage-1 map side only. Both sides pass
    _checked_points."""
    cols = [*_CELL_KEYS, "id", "x", "y"]
    inp, trn = _checked_points(inputs), _checked_points(training)
    return (
        assign_cells(widen(inp), grid).select(*cols),
        assign_cells(trn, grid).select(*cols),
        assign_cells_margin(widen(trn), grid, margin_factor).select(*cols),
    )


def _downstream(
    stage1: DataFrame, trn_home: DataFrame, grid: Grid, k: int, margin_factor: float, n_trn=None
) -> DataFrame:
    """Everything after stage 1, shared by both all-kNN operators:
    escape flag -> single-cell exit -> frontier and stage 2 -> merge.
    ``trn_home`` is the home-assigned training; ``n_trn`` (the
    planner's training count) selects the eager-stats shape, None the
    lazy single-action plan."""
    spark = stage1.sparkSession
    cells = cells_df(spark, grid, margin_factor=margin_factor)
    flagged = with_escape_flag(stage1, cells)
    if grid.num_stripes == 1 and not grid.x_splits:
        return merge_topk(flagged, _empty_stage2(spark), k)
    # stage 2 sweeps home-assigned training, restricted to the cells the
    # frontier actually targets: without it every cell's training pays
    # the second cogroup shuffle + Arrow transfer even when no frontier
    # query lands there.
    #
    # Two downstream shapes (measured crossover — see OPTIMIZATION_r06.md
    # "scale check"):
    #  * eager-stats (small/medium corpora): one driver job materializes
    #    the caches and returns per-cell frontier counts that plan
    #    stage 2. Wins where fixed scheduling overhead dominates and
    #    concurrent branches would race the cold cache (sub-second
    #    tasks overlap almost fully).
    #  * lazy (large corpora, and a committed stage 1): the classic
    #    single-action plan with a broadcast-semi-join prune. The eager
    #    job's serialization barrier costs real seconds once the stage-1
    #    pass is long, and the cache race self-resolves at scale (long
    #    tasks populate partitions before sibling branches reach them).
    if n_trn is not None:
        par = spark.sparkContext.defaultParallelism
        # the escaping subset is typically <1% of queries under margin
        # replication — cache it separately so the needy/frontier legs
        # scan a tiny table instead of re-scanning the whole stage-1
        # cache
        esc = flagged.filter(F.col("escapes")).persist()
        _CACHED_STAGE1.append(esc)
        frontier = build_frontier(esc, cells, grid)
        # ONE eager job: computing the per-cell frontier counts also
        # materializes both caches before the downstream query fans out
        # — its independent result/broadcast branches otherwise race on
        # the cold cache and re-run the whole stage-1 kernel up to 3x
        # concurrently (measured 2.5x wall under host contention). The
        # counts themselves are O(#cells) driver data that prune
        # training with a literal IN-set (no broadcast-exchange job) and
        # size the stage-2 cogroup to the frontier instead of the
        # session default (whose partitions would otherwise be ~all
        # empty for the typical sub-1% escaping tail).
        stats = frontier.groupBy(*_CELL_KEYS).count().collect()
        if not stats:
            # no query's kth circle reaches another cell — stage-1 ranks
            # are final
            return merge_topk(flagged, _empty_stage2(spark), k, escaping=esc)
        n_frontier = sum(r["count"] for r in stats)
        # stage-2 task sizing must count BOTH cogroup sides: the
        # frontier queries and the training rows of the touched cells
        # (estimated as the touched share of the planner's row count —
        # equal-count stripes make per-cell counts ~uniform); cells bound
        # the useful parallelism.
        n_cells = sum(grid.num_subs(s) for s in range(grid.num_stripes))
        est_trn = n_trn * len(stats) / max(1, n_cells)
        np2 = max(1, min(2 * par, len(stats), -(-int(n_frontier + est_trn) // 16384)))
        if len(stats) <= 65536:
            ckey = F.col("stripe_id").cast("long") * F.lit(1 << 32) + F.col("sub_id")
            keys = [r["stripe_id"] * (1 << 32) + r["sub_id"] for r in stats]
            trn_s2 = trn_home.filter(ckey.isin(keys))
        else:  # IN-set too large for an expression — broadcast semi-join
            touched = frontier.select(*_CELL_KEYS).distinct()
            trn_s2 = trn_home.join(F.broadcast(touched), _CELL_KEYS, "left_semi")
        stage2 = stage2_exchange(
            frontier.repartition(np2, *_CELL_KEYS), trn_s2.repartition(np2, *_CELL_KEYS), k
        )
        return merge_topk(flagged, stage2, k, dedup=margin_factor > 0, escaping=esc)
    frontier = build_frontier(flagged, cells, grid)
    touched = frontier.select(*_CELL_KEYS).distinct()
    trn_s2 = trn_home.join(F.broadcast(touched), _CELL_KEYS, "left_semi")
    stage2 = stage2_exchange(frontier, trn_s2, k)
    return merge_topk(flagged, stage2, k, dedup=margin_factor > 0)


# The one persisted intermediate per all_knn_join call (stage-1 is read
# by three downstream branches). Bounded: each new call releases the
# previous call's cache, and release_cached() empties it explicitly, so
# a long-running driver issuing many joins holds at most one cached
# stage-1 at a time instead of accumulating until eviction thrash.
_CACHED_STAGE1: list[DataFrame] = []


def release_cached() -> None:
    """Unpersist any stage-1 DataFrame cached by a previous all_knn_join.
    Safe to call after the join's result has been materialized; a
    not-yet-materialized result simply recomputes."""
    while _CACHED_STAGE1:
        _CACHED_STAGE1.pop().unpersist()


def all_knn_join(
    input_points: DataFrame,
    training_points: DataFrame,
    k: int = 10,
    num_stripes: int = 0,
    grid: Grid | None = None,
    margin_factor: float = 0.9,
    eager_stats_max_rows: int = 2_000_000,
) -> DataFrame:
    """All-kNN join: (id,x,y) x (id,x,y) -> (input_id, rank, neighbor_id, dist_sq).

    Every coordinate must be finite: a null, NaN or infinite x or y on
    either side fails the join with an error naming the point id.

    The grid comes from grid.plan_grid on the training side unless
    ``grid`` is given: num_stripes=0 picks round(sqrt(|T|)/sqrt(k)) like
    the reference (AllKnnResultStripes.h:141-151), and any stripe count
    is clamped to QUANTILE_GRID // 2 (8192). Results are identical for
    ANY grid (the boundary exchange is exact); the grid only steers
    balance and stage-2 traffic.

    margin_factor (a number >= 0, else ValueError before any Spark
    job): training points replicate into neighbor cells within
    margin_factor x the stripe height (assign_cells_margin) so stage 1
    certifies ~99% of queries locally instead of ~2% — at the
    reference's own stripe formula the stripe height ~ the expected kth
    radius, so WITHOUT the margin nearly every kth circle crosses a
    boundary and the whole corpus pays the exchange + rank-merge
    shuffles (measured 4-5x the stage-1 cost at n=3x10^6). 0 disables
    (pure reference partitioning). Results are bit-identical either way;
    the stage-2 exchange remains exact for any margin.

    Grids sized by the auto formula tie stripe height to k; reusing a
    grid built for a much smaller k leaves the margin under the kth
    radius — still exact, just more stage-2 traffic.

    Stage 1 is cached in memory; eager_stats_max_rows bounds the planned
    training count up to which the downstream takes its eager-stats
    shape (see _downstream). A caller's ``grid`` takes the lazy shape.
    """
    _check_margin(margin_factor)
    par = input_points.sparkSession.sparkContext.defaultParallelism
    n_trn: int | None = None
    if grid is None:
        grid, n_trn = plan_grid(training_points, k, num_stripes, margin_factor)

    def widen(df: DataFrame) -> DataFrame:
        # parallelism floor for the stage-1 map side only (it runs once,
        # then stage 1 is cached): a source narrower than the cluster —
        # e.g. a table read as a handful of parquet splits — would run
        # the margin replication and the shuffle write at that width.
        # One cheap round-robin shuffle of the raw points fixes it; wide
        # inputs pass through untouched, so this is a no-op at scale.
        return df.repartition(par) if df.rdd.getNumPartitions() < par else df

    inp, trn_home, trn_s1 = _cell_points(input_points, training_points, grid, margin_factor, widen)
    release_cached()
    stage1 = stage1_local_topk(inp, trn_s1, k).persist()
    _CACHED_STAGE1.append(stage1)
    eager = n_trn is not None and n_trn <= eager_stats_max_rows
    return _downstream(stage1, trn_home, grid, k, margin_factor, n_trn if eager else None)


def _empty_stage2(spark) -> DataFrame:
    # empty LocalRelation (not an empty RDD): PropagateEmptyRelation can
    # then erase the whole stage-2 union leg from the optimized plan
    from spark_aknn.localrel import local_df

    return local_df(spark, [], _STAGE2_SCHEMA)
