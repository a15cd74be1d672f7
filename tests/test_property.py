"""Property-based differential test: both all-kNN operators against the
numpy brute force (sweep.brute_force_topk) on generated point sets.

The engine's claim is "exact for any grid and any margin". The reference
checks it by comparing every variant with its brute force
(PlaneSweepParallel.cpp:353-398); here hypothesis draws the inputs:
duplicates, collinear runs, all-equal points, wide coordinate ranges,
k > |T|, explicit grids cut at data values (salted and not), random
stripe counts and margins in {0, U(0, 2)}. Examples are derandomized
and bounded so the file stays within about a minute.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_aknn.aknn import all_knn_join, release_cached
from spark_aknn.grid import Grid
from spark_aknn.manifest import checkpointed_aknn
from spark_aknn.sweep import brute_force_topk
from tests.conftest import make_points_df

SETTINGS = dict(
    derandomize=True,
    deadline=None,
    database=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
)


@st.composite
def coordinates(draw, n: int) -> tuple[list[float], list[float]]:
    """n points of one shape, scaled and offset into a wide range."""
    shape = draw(st.sampled_from(["scatter", "duplicates", "collinear", "all_equal"]))
    unit = st.floats(-1.0, 1.0, allow_nan=False)
    if shape == "scatter":
        xs, ys = draw(st.lists(unit, min_size=n, max_size=n)), draw(st.lists(unit, min_size=n, max_size=n))
    elif shape == "duplicates":
        pool = draw(st.lists(st.tuples(unit, unit), min_size=1, max_size=4))
        picks = draw(st.lists(st.sampled_from(pool), min_size=n, max_size=n))
        xs, ys = [p[0] for p in picks], [p[1] for p in picks]
    elif shape == "collinear":
        (x0, y0), (dx, dy) = draw(st.tuples(unit, unit)), draw(st.sampled_from([(1, 0), (0, 1), (1, 1), (0.3, -0.7)]))
        ts = draw(st.lists(unit, min_size=n, max_size=n))
        xs, ys = [x0 + t * dx for t in ts], [y0 + t * dy for t in ts]
    else:
        x0, y0 = draw(st.tuples(unit, unit))
        xs, ys = [x0] * n, [y0] * n
    scale = draw(st.sampled_from([1e-3, 1.0, 1e5]))
    offset = draw(st.sampled_from([0.0, -7.5, 1e6]))
    return [offset + scale * v for v in xs], [offset + scale * v for v in ys]


@st.composite
def joins(draw):
    """(queries, training, k, margin_factor) with positive unique ids; a
    self-join in about a third of the draws."""
    n_t = draw(st.integers(1, 30))
    tx, ty = draw(coordinates(n_t))
    if draw(st.integers(0, 2)) == 0:
        qx, qy = tx, ty
    else:
        qx, qy = draw(coordinates(draw(st.integers(1, 20))))
    k = draw(st.integers(1, 8))
    margin = draw(st.one_of(st.just(0.0), st.floats(0.0, 2.0, exclude_min=True)))
    return (qx, qy), (tx, ty), k, margin


@st.composite
def data_grids(draw, xs: list[float], ys: list[float]) -> Grid:
    """A grid cut at data values: y-splits from ys, and x-splits from xs
    on some stripes (a salted grid)."""
    cuts = draw(st.lists(st.sampled_from(sorted(set(ys))), max_size=5, unique=True))
    grid = Grid(y_splits=[float("-inf"), *sorted(cuts), float("inf")])
    for s in range(grid.num_stripes):
        if draw(st.booleans()):
            xc = draw(st.lists(st.sampled_from(sorted(set(xs))), min_size=1, max_size=3, unique=True))
            grid.x_splits[s] = sorted(xc)
    return grid


def _assert_exact(result, queries, training, k):
    (qx, qy), (tx, ty) = queries, training
    tids = np.arange(1, len(tx) + 1, dtype=np.int64)
    exp_ids, exp_d = brute_force_topk(
        np.asarray(qx), np.asarray(qy), np.asarray(tx), np.asarray(ty), tids, k
    )
    got = result.toPandas().sort_values(["input_id", "rank"])
    valid = exp_ids >= 0
    qid = np.broadcast_to(np.arange(1, len(qx) + 1)[:, None], exp_ids.shape)
    rank = np.broadcast_to(np.arange(1, k + 1)[None, :], exp_ids.shape)
    assert got.input_id.tolist() == qid[valid].tolist()
    assert got["rank"].tolist() == rank[valid].tolist()
    assert got.neighbor_id.tolist() == exp_ids[valid].tolist()
    assert got.dist_sq.tolist() == exp_d[valid].tolist()


def _frames(spark, queries, training):
    (qx, qy), (tx, ty) = queries, training
    return (
        make_points_df(spark, np.arange(1, len(qx) + 1), qx, qy),
        make_points_df(spark, np.arange(1, len(tx) + 1), tx, ty),
    )


@settings(max_examples=10, **SETTINGS)
@given(case=joins(), data=st.data())
def test_join_exact_for_any_grid_and_margin(spark, case, data):
    queries, training, k, margin = case
    inp, trn = _frames(spark, queries, training)
    if data.draw(st.booleans(), label="explicit grid"):
        grid = data.draw(data_grids(*training), label="grid")
        result = all_knn_join(inp, trn, k=k, grid=grid, margin_factor=margin)
    else:
        stripes = data.draw(st.integers(0, 12), label="num_stripes")
        result = all_knn_join(inp, trn, k=k, num_stripes=stripes, margin_factor=margin)
    try:
        _assert_exact(result, queries, training, k)
    finally:
        release_cached()


@settings(max_examples=3, **SETTINGS)
@given(case=joins(), stripes=st.integers(0, 12), batches=st.integers(1, 3))
def test_checkpointed_exact_for_any_grid_and_margin(spark, case, stripes, batches):
    queries, training, k, margin = case
    inp, trn = _frames(spark, queries, training)
    with tempfile.TemporaryDirectory() as tmp:
        result = checkpointed_aknn(
            spark, inp, trn, os.path.join(tmp, "ck"), k=k, num_stripes=stripes,
            num_batches=batches, margin_factor=margin,
        )
        _assert_exact(result, queries, training, k)
