"""All-kNN join correctness vs the numpy brute-force oracle.

Mirrors the reference's differential-testing methodology
(/root/reference/PlaneSweepParallel/src/PlaneSweepParallel.cpp:353-398:
every algorithm variant compared distance-by-distance against the brute
force result), plus the edge-case fixtures from FIXTURES.md: duplicate
coordinates, exact distance ties, |T| < k, empty stripes, k=1.
"""

from __future__ import annotations

import math

import numpy as np
import pytest

from spark_aknn import grid as grid_mod
from spark_aknn.aknn import all_knn_join
from spark_aknn.grid import Grid, build_grid, plan_grid
from spark_aknn.sweep import brute_force_topk, window_topk
from tests.conftest import make_points_df


def _check(spark, qids, qx, qy, tids, tx, ty, k, **kw):
    inp = make_points_df(spark, qids, qx, qy)
    trn = make_points_df(spark, tids, tx, ty)
    got = (
        all_knn_join(inp, trn, k=k, **kw)
        .toPandas()
        .sort_values(["input_id", "rank"])
        .reset_index(drop=True)
    )
    order = np.argsort(qids)
    exp_ids, exp_d = brute_force_topk(
        np.asarray(qx)[order], np.asarray(qy)[order],
        np.asarray(tx, dtype=float), np.asarray(ty, dtype=float),
        np.asarray(tids), k,
    )
    exp_rows = int((exp_ids >= 0).sum())
    assert len(got) == exp_rows
    # reshape per query, tolerating underfull results
    gi = iter(range(len(got)))
    for qi, qid in enumerate(np.asarray(qids)[order]):
        n_exp = int((exp_ids[qi] >= 0).sum())
        for r in range(n_exp):
            row = got.iloc[next(gi)]
            assert row.input_id == qid
            assert row["rank"] == r + 1
            assert row.neighbor_id == exp_ids[qi, r], (qid, r)
            assert row.dist_sq == exp_d[qi, r], (qid, r)


def _uniform(rng, n, lo=0.0, hi=1.0):
    return lo + (hi - lo) * rng.random(n)


def test_self_join_matches_oracle(spark, rng):
    n = 500
    x, y = _uniform(rng, n), _uniform(rng, n)
    ids = np.arange(1, n + 1)
    _check(spark, ids, x, y, ids, x, y, k=10)


def test_two_table_join(spark, rng):
    nq, nt = 200, 800
    _check(
        spark,
        np.arange(1, nq + 1), _uniform(rng, nq), _uniform(rng, nq),
        np.arange(1, nt + 1), _uniform(rng, nt), _uniform(rng, nt),
        k=7,
    )


def test_invariant_under_stripe_count(spark, rng):
    """Result must not depend on physical partitioning — the analogue of
    the reference's cross-variant comparison."""
    n = 300
    x, y = _uniform(rng, n), _uniform(rng, n)
    ids = np.arange(1, n + 1)
    for stripes in (1, 3, 17):
        _check(spark, ids, x, y, ids, x, y, k=5, num_stripes=stripes)


def test_salted_grid_matches(spark, rng, monkeypatch):
    """Skewed y (80% of mass at exactly y=0.5, the duplicate-y edge case:
    quantile boundaries fuse, leaving one hot stripe) -> salting path,
    armed on 600 points by a lower salting threshold."""
    monkeypatch.setattr(grid_mod, "SALT_FACTOR", 1.5)
    n = 600
    y = np.where(rng.random(n) < 0.8, 0.5, rng.random(n))
    x = _uniform(rng, n)
    ids = np.arange(1, n + 1)
    inp = make_points_df(spark, ids, x, y)
    grid, _ = plan_grid(inp, None, 8)
    assert grid.x_splits, "expected substripes for the hot stripe"
    _check(spark, ids, x, y, ids, x, y, k=5, grid=grid)


def test_exact_split_error_tracks_stripe_count(spark, rng):
    """build_grid refuses a sketch too coarse for the stripe count, and
    plan_grid draws one sized to it, whose rank error stays below the
    gap between boundaries; otherwise adjacent boundary queries return
    the same sample and boundaries spuriously fuse whenever eps > 1/S —
    independent of n (measured at n=64M/S=2530 with a fixed 1e-3: 1114
    of 2530 stripes survived on a UNIFORM corpus)."""
    n, stripes = 100_000, 2000
    ids = np.arange(1, n + 1)
    x, y = _uniform(rng, n), _uniform(rng, n)
    pts = make_points_df(spark, ids, x, y)
    coarse = [i / 100 for i in range(1, 100)]
    with pytest.raises(ValueError, match="sketch_resolution"):
        build_grid(pts, stripes, coarse)
    grid, _ = plan_grid(pts, None, stripes)
    assert grid.num_stripes >= 0.95 * stripes, (
        f"boundary fusion on uniform data: {grid.num_stripes}/{stripes}"
    )


def test_explicit_stripe_count_clamps_without_fusion(spark, rng):
    """Stripe counts above QUANTILE_GRID // 2 are clamped to it, where
    a full-resolution sketch still has >= 2 gaps per stripe: the grid
    is the clamp's full stripe count, with no boundary fused — built
    directly by build_grid and planned by plan_grid."""
    from spark_aknn.grid import QUANTILE_GRID, quantile_sketch

    n = 100_000
    ids = np.arange(1, n + 1)
    pts = make_points_df(spark, ids, _uniform(rng, n), _uniform(rng, n))
    sketch = quantile_sketch(pts, "y", QUANTILE_GRID)
    assert build_grid(pts, 20_000, sketch).num_stripes == QUANTILE_GRID // 2
    grid, counted = plan_grid(pts, None, 20_000)
    assert grid.num_stripes == QUANTILE_GRID // 2
    assert counted == n


def test_both_operators_plan_the_same_grid(spark, rng, tmp_path, monkeypatch):
    """all_knn_join and checkpointed_aknn plan through the one planner
    and get the same grid for the same input: the one all_knn_join uses,
    the one the checkpointed join commits to grid.json, and the one a
    direct plan_grid call returns."""
    import json

    from spark_aknn import aknn, manifest

    n = 3000
    ids = np.arange(1, n + 1)
    # y-skewed so the anisotropy merge shapes the grid
    pts = make_points_df(spark, ids, _uniform(rng, n), _uniform(rng, n) ** 3).persist()
    planned = []

    def recording(*args, **kw):
        out = grid_mod.plan_grid(*args, **kw)
        planned.append(out[0])
        return out

    monkeypatch.setattr(aknn, "plan_grid", recording)
    monkeypatch.setattr(manifest, "plan_grid", recording)
    aknn.all_knn_join(pts, pts, k=5).count()
    manifest.checkpointed_aknn(spark, pts, pts, str(tmp_path / "ck"), k=5).count()
    aknn.release_cached()
    assert len(planned) == 2
    with open(tmp_path / "ck" / "grid.json") as f:
        committed = json.load(f)
    direct, counted = grid_mod.plan_grid(pts, 5)
    assert counted == n
    for g in planned:
        assert g.y_splits == direct.y_splits
        assert g.x_splits == direct.x_splits
    assert committed["y_splits"] == direct.y_splits
    assert {int(s): v for s, v in committed["x_splits"].items()} == direct.x_splits
    pts.unpersist()


def test_clustered_zipf_differential(spark, monkeypatch):
    """The synthetic-campaign families (tools/run_synthetic.py) at small
    n against the brute-force oracle — clustered-quantized (duplicate-
    heavy: salting MUST arm, as the campaign asserts at 8M) and zipf
    (heavy-tailed y), at k=10 and the reference's k=30
    (run_syntheticdata3.cmd:1)."""
    from spark_aknn.grid import count_and_extent, quantile_sketch, sketch_resolution
    from spark_aknn.point_tables import clustered_points, zipf_points
    from spark_aknn.stripes import auto_num_stripes

    # quantize=1 at n=800 plays the role 3 decimals play at the 8M
    # campaign: per-distinct-y counts must exceed the stripe target for
    # boundaries to fuse, and the zipf cluster skew concentrates mass
    # so a fused stripe clears the (lowered) salt threshold (fusion + a
    # hot stripe is what arms salting)
    monkeypatch.setattr(grid_mod, "SALT_FACTOR", 1.5)
    for family, maker in (
        (
            "clustered",
            lambda: clustered_points(spark, 800, num_clusters=8, quantize=1, skew="zipf"),
        ),
        ("zipf", lambda: zipf_points(spark, 800)),
    ):
        pts = maker()
        pdf = pts.toPandas().sort_values("id")
        ids = pdf.id.to_numpy()
        x, y = pdf.x.to_numpy(), pdf.y.to_numpy()
        for k in (10, 30):
            n_t, xe = count_and_extent(pts)
            sketch = quantile_sketch(pts, "y", sketch_resolution(math.isqrt(n_t)))
            stripes = auto_num_stripes(n_t, k, 8)
            grid = build_grid(pts, stripes, sketch)
            if family == "clustered":
                assert grid.x_splits, "quantized clusters must fuse + salt"
            _check(spark, ids, x, y, ids, x, y, k=k, grid=grid)
            # anisotropy-merged grid (what all_knn_join builds by
            # default): exactness must hold for it too
            merged = build_grid(pts, stripes, sketch, k=k, x_extent=xe, n_total=n_t)
            if merged.y_splits != grid.y_splits:
                _check(spark, ids, x, y, ids, x, y, k=k, grid=merged)


def test_zipf_anisotropy_merge_bounds_escapes(spark):
    """Heavy-tailed y (the zipf campaign family): without the anisotropy
    merge, equal-count stripes in the dense band are far thinner than
    the 2-D kth radius, so the 0.9x-height margin cannot contain the kth
    circle — measured at n=10^6: 78.9% of queries escaped and the
    frontier exploded to 38.9M rows (~49 target stripes per escaping
    query), turning the 8M campaign's stage 2 into an hour-long sort
    spill. The merged grid (splits_from_sketch with k/x_extent) must
    keep the escape fraction ~zero; exactness is grid-independent and
    covered by test_clustered_zipf_differential."""
    from spark_aknn.aknn import stage1_local_topk, with_escape_flag
    from spark_aknn.grid import (
        assign_cells,
        assign_cells_margin,
        cells_df,
        count_and_extent,
        quantile_sketch,
        sketch_resolution,
    )
    from spark_aknn.point_tables import zipf_points
    from spark_aknn.stripes import auto_num_stripes

    n = 50_000
    pts = zipf_points(spark, n).persist()
    nt, xe = count_and_extent(pts)
    sk = quantile_sketch(pts, "y", sketch_resolution(math.isqrt(nt)))
    s0 = auto_num_stripes(nt, 10, 8)
    plain = build_grid(pts, s0, sketch=sk)
    merged = build_grid(pts, s0, sketch=sk, k=10, x_extent=xe, n_total=nt)
    assert merged.num_stripes < plain.num_stripes  # the merge fired

    def escape_frac(grid):
        cells = cells_df(spark, grid, margin_factor=0.9)
        cols = ["stripe_id", "sub_id", "id", "x", "y"]
        inp = assign_cells(pts.select("id", "x", "y"), grid).select(*cols)
        trn = assign_cells_margin(pts.select("id", "x", "y"), grid, 0.9).select(*cols)
        s1 = stage1_local_topk(inp, trn, 10)
        return with_escape_flag(s1, cells).filter("escapes").count() / n

    assert escape_frac(merged) < 0.05
    assert escape_frac(plain) > 0.3  # the failure mode the merge exists for
    pts.unpersist()


def test_anisotropy_merge_survives_an_underflowing_margin():
    """A margin whose square underflows to 0 (here 1e-200) crashed the
    anisotropy merge with ZeroDivisionError; no stripe can be tall
    enough for it, so the merge keeps only the first boundary."""
    from spark_aknn.grid import splits_from_sketch

    sketch = [i / 64 for i in range(1, 64)]
    splits = splits_from_sketch(sketch, 8, n=1000, k=5, x_extent=(0.0, 1.0), margin_factor=1e-200)
    assert len(splits) == 3


def test_training_smaller_than_k(spark, rng):
    """|T| < k: underfull results, no sentinel rows in canonical output
    (the reference pads with NULL sentinels in its text sink,
    AllKnnResult.h:147-154; our parquet-canonical form omits them)."""
    _check(
        spark,
        np.arange(1, 21), _uniform(rng, 20), _uniform(rng, 20),
        np.arange(1, 4), _uniform(rng, 3), _uniform(rng, 3),
        k=10,
    )


def test_exact_ties_break_by_id(spark):
    """Four equidistant neighbors, k=2 -> lowest ids win."""
    qx, qy = [0.5], [0.5]
    tx = [0.4, 0.6, 0.5, 0.5]
    ty = [0.5, 0.5, 0.4, 0.6]
    _check(spark, [1], qx, qy, [10, 20, 30, 40], tx, ty, k=2)


def test_duplicate_coordinates(spark, rng):
    """Many points at identical coordinates spanning stripe boundaries."""
    n = 120
    x = np.repeat(_uniform(rng, 12), 10)
    y = np.repeat(_uniform(rng, 12), 10)
    ids = np.arange(1, n + 1)
    _check(spark, ids, x, y, ids, x, y, k=15, num_stripes=5)


def test_duplicate_run_precap(spark, rng):
    """Runs of duplicates LONGER than k: the kernel's pre-cap
    (_sorted_training) trims each exact coordinate to its k smallest
    ids — provably exact under the (dist, id) tie rule — and the join
    still matches brute force on the FULL set."""
    from spark_aknn.aknn import _sorted_training
    import pyarrow as pa

    # kernel-level: 3 coordinates x 40 dupes, shuffled ids
    xs = np.repeat([0.2, 0.2, 0.7], 40)
    ys = np.repeat([0.3, 0.9, 0.5], 40)
    ids = rng.permutation(120).astype(np.int64) + 1
    tbl = pa.table({"x": xs, "y": ys, "id": ids})
    cx, cy, cid = _sorted_training(tbl, k=5)
    assert len(cx) == 15  # 3 coords x 5 kept
    for x0, y0 in {(0.2, 0.3), (0.2, 0.9), (0.7, 0.5)}:
        kept = np.sort(cid[(cx == x0) & (cy == y0)])
        full = np.sort(ids[(xs == x0) & (ys == y0)])[:5]
        assert (kept == full).all()
    # end-to-end: duplicate runs of 40 >> k=5, must still be exact
    n = 200
    x = np.repeat(_uniform(rng, 5), 40)
    y = np.repeat(_uniform(rng, 5), 40)
    pids = np.arange(1, n + 1)
    _check(spark, pids, x, y, pids, x, y, k=5, num_stripes=4)


def test_negative_int64_ids(spark, rng):
    """Regression: ids are arbitrary int64 (e.g. xxhash64 of image ids),
    roughly half negative — padding must not be confused with real ids."""
    n = 400
    x, y = _uniform(rng, n), _uniform(rng, n)
    ids = rng.integers(-(2**62), 2**62, n).astype(np.int64)
    got = (
        all_knn_join(make_points_df(spark, ids, x, y), make_points_df(spark, ids, x, y), k=10)
        .toPandas()
    )
    assert len(got) == n * 10
    exp_ids, exp_d = brute_force_topk(x[np.argsort(ids)], y[np.argsort(ids)], x, y, ids, 10)
    got = got.sort_values(["input_id", "rank"]).reset_index(drop=True)
    assert (got.neighbor_id.values.reshape(-1, 10) == exp_ids).all()
    assert (got.dist_sq.values.reshape(-1, 10) == exp_d).all()


@pytest.mark.parametrize(
    "operator, bad_side, col, value",
    [
        ("join", "both", "x", float("nan")),
        ("join", "training", "y", float("inf")),
        ("join", "input", "y", None),
        ("checkpointed", "both", "x", float("nan")),
    ],
)
def test_non_finite_coordinates_raise(spark, rng, tmp_path, operator, bad_side, col, value):
    """A null, NaN or infinite coordinate fails both all-kNN operators
    with an error naming the point id. A NaN point in a 2,001-point
    self-join (k = 5) used to vanish silently: 10,000 rows, no error,
    and the point was nobody's neighbour."""
    from pyspark.sql import functions as F

    from spark_aknn.manifest import checkpointed_aknn

    n = 2001
    good = make_points_df(spark, np.arange(1, n + 1), rng.random(n), rng.random(n))
    bad = good.withColumn(
        col, F.when(F.col("id") == 8, F.lit(value).cast("double")).otherwise(F.col(col))
    )
    inp = good if bad_side == "training" else bad
    trn = good if bad_side == "input" else bad
    with pytest.raises(Exception, match="null or non-finite coordinate at point id 8"):
        if operator == "join":
            all_knn_join(inp, trn, k=5).collect()
        else:
            checkpointed_aknn(spark, inp, trn, str(tmp_path / "ckpt"), k=5).collect()


@pytest.mark.parametrize("operator", ["join", "checkpointed"])
@pytest.mark.parametrize("margin_factor", [float("nan"), -0.5])
def test_margin_factor_must_be_a_non_negative_number(spark, tmp_path, operator, margin_factor):
    """A NaN margin makes every escape comparison false, so queries were
    certified against coverage that was never replicated: a 3,000-point
    uniform self-join (k = 5) returned 1,967 wrong neighbour ids across
    785 queries with no error. A negative one was silently run as 0.
    Both operators now raise before their first Spark job."""
    from spark_aknn.manifest import checkpointed_aknn

    sc = spark.sparkContext
    n = 300
    pts = make_points_df(spark, np.arange(1, n + 1), np.linspace(0, 1, n), np.linspace(1, 0, n) ** 2)
    group = f"margin-guard-{operator}-{margin_factor}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="margin_factor"):
            if operator == "join":
                all_knn_join(pts, pts, k=5, margin_factor=margin_factor)
            else:
                checkpointed_aknn(spark, pts, pts, str(tmp_path / "ck"), k=5, margin_factor=margin_factor)
        assert not sc.statusTracker().getJobIdsForGroup(group)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_k1_and_single_point(spark):
    _check(spark, [1, 2], [0.1, 0.9], [0.1, 0.9], [7], [0.5], [0.5], k=1)


def test_empty_stripes(spark, rng):
    """Training confined to a narrow band -> most stripes have no
    training points; queries everywhere must still find true neighbors."""
    nq, nt = 100, 50
    qx, qy = _uniform(rng, nq), _uniform(rng, nq)
    tx = _uniform(rng, nt)
    ty = 0.45 + 0.1 * rng.random(nt)
    grid = Grid(y_splits=[-np.inf, 0.2, 0.4, 0.6, 0.8, np.inf])
    _check(
        spark,
        np.arange(1, nq + 1), qx, qy,
        np.arange(1, nt + 1), tx, ty,
        k=5, grid=grid,
    )


def test_window_topk_kernel_matches_brute(rng):
    """Kernel-level property test, no Spark: random sizes/duplicates."""
    for trial in range(20):
        n = int(rng.integers(1, 200))
        m = int(rng.integers(1, 50))
        k = int(rng.integers(1, 12))
        tx = np.sort(np.round(rng.random(n), 2))  # rounding forces duplicates
        ty = np.round(rng.random(n), 2)
        tid = rng.permutation(n).astype(np.int64) + 1
        qx, qy = rng.random(m), rng.random(m)
        ids, d, counts, _ = window_topk(qx, qy, tx, ty, tid, k)
        eids, ed = brute_force_topk(qx, qy, tx, ty, tid, k)
        assert (ids == eids).all(), trial
        assert (d[ids >= 0] == ed[eids >= 0]).all(), trial


def test_window_topk_cap(rng):
    """cap keeps candidates with dist <= cap (inclusive) and nothing above."""
    n = 300
    tx = np.sort(rng.random(n))
    ty = rng.random(n)
    tid = np.arange(1, n + 1)
    qx, qy = rng.random(10), rng.random(10)
    _, d_all, _, _ = window_topk(qx, qy, tx, ty, tid, 20)
    cap = d_all[:, 5].copy()  # exactly the 6th distance -> inclusive bound
    ids, d, counts, _ = window_topk(qx, qy, tx, ty, tid, 20, cap=cap)
    for i in range(10):
        kept = d[i][ids[i] >= 0]
        assert (kept <= cap[i]).all()
        assert counts[i] == (d_all[i] <= cap[i]).sum()


def test_clustered_data(spark, rng):
    """Clustered (Gaussian-blob) distribution — the reference's `sc*`
    benchmark family (run_sc125K.cmd). Exercises uneven stripe density."""
    centers = rng.random((8, 2))
    pick = rng.integers(0, 8, 500)
    x = np.clip(centers[pick, 0] + rng.normal(0, 0.01, 500), 0, 0.999999)
    y = np.clip(centers[pick, 1] + rng.normal(0, 0.01, 500), 0, 0.999999)
    ids = np.arange(1, 501)
    _check(spark, ids, x, y, ids, x, y, k=10)


def test_zipf_skew(spark, rng):
    """Zipf-skewed y (reference's syntheticdata runs) — heavy mass near
    one value; exercises fused boundaries + salting + AQE paths."""
    z = rng.zipf(1.5, 800).astype(float)
    y = np.minimum(z / z.max(), 1.0) * 0.001  # crush most mass into a thin band
    x = rng.random(800)
    ids = np.arange(1, 801)
    _check(spark, ids, x, y, ids, x, y, k=7, num_stripes=10)


def test_stage1_cache_released(spark, rng):
    """Repeated all_knn_join calls must not accumulate cached stage-1
    DataFrames (VERDICT r01: persist() leak)."""
    from spark_aknn.aknn import release_cached

    jsc = spark.sparkContext._jsc
    n = 80
    ids = np.arange(1, n + 1)
    for _ in range(3):
        x, y = rng.random(n), rng.random(n)
        pts = make_points_df(spark, ids, x, y)
        all_knn_join(pts, pts, k=3).count()
        # one join holds at most TWO bounded caches (stage-1 + its tiny
        # escaping subset); the invariant is no growth across calls
        assert jsc.getPersistentRDDs().size() <= 2
    release_cached()
    assert jsc.getPersistentRDDs().size() == 0


def test_lazy_downstream_matches_eager(spark, rng):
    """all_knn_join plans stage 2 two ways by corpus size (eager
    driver-stats below eager_stats_max_rows, the lazy broadcast-semi
    shape above). Both must produce the identical result set — the
    large-corpus lazy shape is otherwise only exercised at scale."""
    n = 500
    ids = np.arange(1, n + 1)
    x, y = rng.random(n), rng.random(n)
    pts = make_points_df(spark, ids, x, y)
    eager = all_knn_join(pts, pts, k=5, eager_stats_max_rows=10**12)
    lazy = all_knn_join(make_points_df(spark, ids, x, y), make_points_df(spark, ids, x, y),
                        k=5, eager_stats_max_rows=0)
    assert eager.exceptAll(lazy).count() == 0
    assert lazy.exceptAll(eager).count() == 0


def test_frontier_plan_has_no_nested_loop_join(spark, rng):
    """The boundary-exchange frontier must probe only the stripes the
    kth-radius touches (BroadcastHashJoin on stripe_id), never cross-join
    the full cell table (BroadcastNestedLoopJoin — the 100x scale
    killer flagged in VERDICT r01)."""
    n = 400
    ids = np.arange(1, n + 1)
    pts = make_points_df(spark, ids, rng.random(n), rng.random(n))
    df = all_knn_join(pts, pts, k=5, num_stripes=8)
    explained = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "BroadcastNestedLoopJoin" not in explained


def test_margin_assignment_covers_expanded_rect(spark, rng, monkeypatch):
    """The exactness of the margin-replicated stage 1 rests on one
    invariant: every cell's training must cover its margin-EXPANDED
    rectangle (cells_df m_* bounds), because the escape test certifies
    queries against exactly those bounds. Check it exhaustively on a
    skewed grid (fused boundaries -> salted substripes) so both the
    y-import and x-span legs are exercised, and at margin 0, where the
    expanded rectangle is the cell itself."""
    from spark_aknn.grid import assign_cells_margin, cells_df

    monkeypatch.setattr(grid_mod, "SALT_FACTOR", 1.5)
    n = 800
    y = np.where(rng.random(n) < 0.7, 0.5, rng.random(n))
    x = _uniform(rng, n)
    ids = np.arange(1, n + 1)
    pts = make_points_df(spark, ids, x, y)
    grid, _ = plan_grid(pts, None, 8)
    assert grid.x_splits, "need substripes to exercise the x-margin leg"
    for mf in (0.0, 0.5, 0.9, 2.0):
        assigned = assign_cells_margin(pts, grid, mf).toPandas()
        cells = cells_df(spark, grid, margin_factor=mf).toPandas()
        got = {
            (s, j): set(g["id"])
            for (s, j), g in assigned.groupby(["stripe_id", "sub_id"])
        }
        for c in cells.itertuples():
            inside = ids[
                (y >= c.m_ylo) & (y < c.m_yhi) & (x >= c.m_xlo) & (x < c.m_xhi)
            ]
            members = got.get((c.stripe_id, c.sub_id), set())
            missing = set(inside) - members
            assert not missing, (
                f"cell ({c.stripe_id},{c.sub_id}) misses {sorted(missing)[:5]} "
                f"inside its expanded rect"
            )


def test_margin_matches_margin_free(spark, rng):
    """margin_factor only changes the physical plan; results must be
    row-identical to the margin-free reference partitioning."""
    n = 500
    x, y = _uniform(rng, n), _uniform(rng, n)
    ids = np.arange(1, n + 1)
    pts = make_points_df(spark, ids, x, y)
    base = (
        all_knn_join(pts, pts, k=7, num_stripes=9, margin_factor=0.0)
        .toPandas().sort_values(["input_id", "rank"]).reset_index(drop=True)
    )
    for mf in (0.4, 0.9, 3.0):
        got = (
            all_knn_join(pts, pts, k=7, num_stripes=9, margin_factor=mf)
            .toPandas().sort_values(["input_id", "rank"]).reset_index(drop=True)
        )
        assert got.equals(base), f"margin_factor={mf} changed results"
