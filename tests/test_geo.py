"""Cells, point-in-polygon, raster tiles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from spark_aknn.cells import cell_decode_numpy, cell_id, cell_numpy, parent_cell
from spark_aknn.pip import pip_numpy, points_in_polygon_col, tag_points_in_polygons
from spark_aknn.raster import assign_tiles, polygon_tile_cover, tile_histogram
from spark_aknn.spatial_join import radius_join_count
from tests.conftest import make_points_df

CONCAVE = np.array([(0.1, 0.1), (0.9, 0.1), (0.9, 0.9), (0.5, 0.3), (0.1, 0.9)])


def _pts(spark, rng, n=400):
    x, y = rng.random(n), rng.random(n)
    return make_points_df(spark, np.arange(1, n + 1), x, y), x, y


def test_cell_roundtrip_and_hierarchy(rng):
    x, y = rng.random(1000), rng.random(1000)
    for level in (1, 4, 12, 30):
        c = cell_numpy(x, y, level)
        xi, yi = cell_decode_numpy(c, level)
        assert (xi == np.clip((x * (1 << level)).astype(np.int64), 0, (1 << level) - 1)).all()
        assert (yi == np.clip((y * (1 << level)).astype(np.int64), 0, (1 << level) - 1)).all()
    # parent property: cell at level L >> 2 == cell at level L-1
    c12 = cell_numpy(x, y, 12)
    c11 = cell_numpy(x, y, 11)
    assert ((c12 >> 2) == c11).all()


def test_cell_spark_matches_numpy(spark, rng):
    df, x, y = _pts(spark, rng)
    got = (
        df.select("id", cell_id(F.col("x"), F.col("y"), 12).alias("c"))
        .orderBy("id")
        .toPandas()
    )
    assert (got.c.values == cell_numpy(x, y, 12)).all()
    par = df.select(parent_cell(cell_id(F.col("x"), F.col("y"), 12), 3).alias("p")).orderBy(F.col("p")).count()
    assert par == len(x)


def test_pip_concave(spark, rng):
    df, x, y = _pts(spark, rng)
    ring = F.array(*[F.struct(F.lit(a).alias("x"), F.lit(b).alias("y")) for a, b in CONCAVE])
    got = (
        df.select("id", points_in_polygon_col(F.col("x"), F.col("y"), ring).alias("inside"))
        .orderBy("id")
        .toPandas()
    )
    exp = pip_numpy(x, y, CONCAVE)
    assert (got.inside.values == exp).all()
    assert 0 < exp.sum() < len(x)  # concave notch actually excludes points
    notch = pip_numpy(np.array([0.5]), np.array([0.35]), CONCAVE)
    assert not notch[0]


def test_tag_points_in_polygons(spark, rng):
    df, x, y = _pts(spark, rng)
    polys = spark.createDataFrame(
        [("p0", [{"x": float(a), "y": float(b)} for a, b in CONCAVE])],
        "poly_id string, ring array<struct<x:double,y:double>>",
    )
    got = tag_points_in_polygons(df, polys).toPandas()
    assert len(got) == pip_numpy(x, y, CONCAVE).sum()
    assert set(got.poly_id) == {"p0"}


def test_tiles(spark, rng):
    df, x, y = _pts(spark, rng)
    t = assign_tiles(df, 8).orderBy("id").toPandas()
    exp = (np.clip((y * 8).astype(np.int64), 0, 7) * 8
           + np.clip((x * 8).astype(np.int64), 0, 7))
    assert (t.tile_id.values == exp).all()
    hist = tile_histogram(df, 8).toPandas()
    assert hist.n_points.sum() == len(x)
    assert (hist.groupby("tile_id").size() == 1).all()


def test_polygon_tile_cover(spark):
    polys = spark.createDataFrame(
        [("p0", [{"x": 0.0, "y": 0.0}, {"x": 0.5, "y": 0.0}, {"x": 0.5, "y": 0.5}, {"x": 0.0, "y": 0.5}])],
        "poly_id string, ring array<struct<x:double,y:double>>",
    )
    cover = polygon_tile_cover(spark, polys, 8).toPandas()
    # the [0,0.5)^2 square covers exactly the 4x4 low corner of an 8x8 grid
    assert len(cover) == 16
    assert set(cover.tile_id) == {ty * 8 + tx for ty in range(4) for tx in range(4)}


@pytest.mark.parametrize(
    "col, value", [("x", float("nan")), ("y", None), ("x", float("-inf"))]
)
def test_geo_operators_reject_non_finite_coordinates(spark, col, value):
    """A null, NaN or infinite coordinate used to be mapped silently: the
    radius join gave the point n_within = 0 and never counted it as a
    neighbour, tile_histogram still counted all 200 points, and cell_id
    put a NaN x in cell 16 and a null y in cell 170 at level 4. The
    radius join now names the point id, as the all-kNN operators do,
    and the tile and cell indexes raise."""
    n = 200
    good = make_points_df(spark, np.arange(1, n + 1), np.linspace(0.01, 0.99, n), np.linspace(0.99, 0.01, n))
    bad = good.withColumn(
        col, F.when(F.col("id") == 8, F.lit(value).cast("double")).otherwise(F.col(col))
    )
    with pytest.raises(Exception, match="null or non-finite coordinate at point id 8"):
        radius_join_count(bad, good, 0.05).collect()
    with pytest.raises(Exception, match="null or non-finite coordinate at point id 8"):
        radius_join_count(good, bad, 0.05).collect()
    with pytest.raises(Exception, match="null or non-finite coordinate"):
        tile_histogram(bad, 4).collect()
    with pytest.raises(Exception, match="null or non-finite coordinate"):
        bad.select(cell_id(F.col("x"), F.col("y"), 4)).collect()
    # finite coordinates outside [0, 1) still clamp into the edge tiles
    edge = make_points_df(spark, [1, 2], [-3.0, 1.0], [0.5, 7.0])
    assert sorted(r.tile_id for r in assign_tiles(edge, 4).collect()) == [8, 15]
