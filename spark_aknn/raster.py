"""Raster tile grid over [0,1)^2 and raster<->vector assignment.

Graft addition (BASELINE.json north_rule: "raster<->vector assignment").
A raster tile is simply a cell of the fixed-level grid: tile (tx, ty)
covers [tx/T, (tx+1)/T) x [ty/T, (ty+1)/T), tile_id = ty*T + tx (row
major). Assignments are pure column math; the Morton ``cell_id`` of
cells.py addresses the same squares hierarchically and
``tile_from_cell`` converts.

Operators:
  * assign_tiles(points)         -> + tile_id          (vector -> raster)
  * tile_histogram(points)       -> (tile_id, n_points) per-tile rollup
  * polygon_tile_cover(polygons) -> (poly_id, tile_id) tiles whose
    center lies in the polygon (raster <- vector), via the same
    broadcast PIP predicate — one narrow shuffle-free pass over the
    generated tile table.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_aknn.pip import points_in_polygon_col


def _axis_idx(coord: Column, tiles_per_side: int) -> Column:
    """Tile index of ``coord`` on one axis: floor(coord * T) clamped to
    [0, T-1], so finite coordinates outside [0, 1) land in the edge
    tiles. A null, NaN or infinite coordinate raises instead of being
    clamped into an edge tile. The one axis index of the tile, cell and
    radius-join grids."""
    t = tiles_per_side
    i = F.floor(coord * F.lit(float(t))).cast("long")
    err = F.raise_error(F.lit("null or non-finite coordinate in a tile or cell index"))
    return F.when(F.abs(coord) < float("inf"), F.least(F.greatest(i, F.lit(0)), F.lit(t - 1))).otherwise(err)


def tile_id_col(x: Column, y: Column, tiles_per_side: int) -> Column:
    return _axis_idx(y, tiles_per_side) * F.lit(tiles_per_side) + _axis_idx(x, tiles_per_side)


def tile_sql(x_sql: str, y_sql: str, tiles_per_side: int) -> str:
    t = tiles_per_side
    ax = f"least(greatest(cast(floor(({x_sql}) * {t}.0) as bigint), 0), {t - 1})"
    ay = f"least(greatest(cast(floor(({y_sql}) * {t}.0) as bigint), 0), {t - 1})"
    return f"({ay} * {t} + {ax})"


def assign_tiles(points: DataFrame, tiles_per_side: int, x: str = "x", y: str = "y") -> DataFrame:
    return points.withColumn("tile_id", tile_id_col(F.col(x), F.col(y), tiles_per_side))


def tile_histogram(points: DataFrame, tiles_per_side: int, x: str = "x", y: str = "y") -> DataFrame:
    """Per-tile point counts — partial aggregation map-side, one shuffle
    of at most T^2 rows per partition."""
    return (
        assign_tiles(points, tiles_per_side, x, y)
        .groupBy("tile_id")
        .agg(F.count(F.lit(1)).alias("n_points"))
    )


def tile_table(spark: SparkSession, tiles_per_side: int) -> DataFrame:
    """All tiles with centers — generated distributed via spark.range
    (no driver-side materialization; T^2 rows)."""
    t = tiles_per_side
    return spark.range(t * t).select(
        F.col("id").alias("tile_id"),
        ((F.col("id") % t).cast("double") + 0.5) / F.lit(float(t)),
        ((F.col("id") / t).cast("long").cast("double") + 0.5) / F.lit(float(t)),
    ).toDF("tile_id", "cx", "cy")


def polygon_tile_cover(spark: SparkSession, polygons: DataFrame, tiles_per_side: int) -> DataFrame:
    """(poly_id, tile_id) for tiles whose center is inside the polygon."""
    tiles = tile_table(spark, tiles_per_side)
    return (
        tiles.crossJoin(F.broadcast(polygons))
        .filter(points_in_polygon_col(F.col("cx"), F.col("cy"), F.col("ring")))
        .select("poly_id", "tile_id")
    )
