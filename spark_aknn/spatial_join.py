"""Distance-range (radius) join — fully JVM-side, no Python.

The reference's join family is kNN-only; the radius join is the other
half of spatial-join practice (and the natural oracle-checkable cousin:
its semantics are plain SQL `ON dist <= r^2`). Physical strategy: bucket
both sides into square tiles of side >= r (raster.py grid), explode each
query to its 3x3 tile neighborhood, equi-join on tile id, filter by the
exact predicate. Catalyst shuffles on the tile key (skew handled by
AQE); candidate work per query is bounded by the 9-tile neighborhood —
the same bounded-exchange idea as the kNN boundary exchange, with a
static radius instead of a per-query kth distance.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_aknn.aknn import _checked_points
from spark_aknn.raster import _axis_idx


def _tiles_per_side_for_radius(radius: float) -> int:
    """Largest power-of-two grid whose tile side is still >= radius, so
    a query circle is always covered by the 3x3 neighborhood."""
    if radius <= 0:
        raise ValueError("radius must be positive")
    return max(1, min(1 << 20, 1 << int(math.floor(math.log2(1.0 / radius))) if radius < 1 else 1))


def radius_join_count(
    input_points: DataFrame,
    training_points: DataFrame,
    radius: float,
) -> DataFrame:
    """(input_id, n_within): training points with dist_sq <= radius^2.

    Queries with no match report 0 (left-join semantics). A null, NaN or
    infinite coordinate on either side fails the call with an error
    naming the point id, as in the all-kNN operators."""
    t = _tiles_per_side_for_radius(radius)
    r2 = radius * radius

    def tiled(df: DataFrame) -> DataFrame:
        return _checked_points(df).select(
            "id", "x", "y", _axis_idx(F.col("x"), t).alias("tx"), _axis_idx(F.col("y"), t).alias("ty")
        )

    trn = tiled(training_points).select(
        F.col("id").alias("t_id"),
        F.col("x").alias("t_x"),
        F.col("y").alias("t_y"),
        (F.col("ty") * t + F.col("tx")).alias("tile"),
    )
    inp = tiled(input_points)
    neighborhood = F.array(*[F.lit(d) for d in (-1, 0, 1)])
    exploded = (
        inp.withColumn("dx", F.explode(neighborhood))
        .withColumn("dy", F.explode(neighborhood))
        .withColumn("ntx", F.col("tx") + F.col("dx"))
        .withColumn("nty", F.col("ty") + F.col("dy"))
        .filter((F.col("ntx") >= 0) & (F.col("ntx") < t) & (F.col("nty") >= 0) & (F.col("nty") < t))
        .select("id", "x", "y", (F.col("nty") * t + F.col("ntx")).alias("tile"))
    )
    dist = (F.col("x") - F.col("t_x")) * (F.col("x") - F.col("t_x")) + (
        F.col("y") - F.col("t_y")
    ) * (F.col("y") - F.col("t_y"))
    hits = (
        exploded.join(trn, "tile")
        .filter(dist <= F.lit(r2))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_within"))
    )
    return (
        input_points.select(F.col("id").alias("input_id"))
        .join(hits.withColumnRenamed("id", "input_id"), "input_id", "left")
        .select("input_id", F.coalesce("n_within", F.lit(0)).alias("n_within"))
    )
