"""Driver-local metadata tables as true LocalRelations.

``spark.createDataFrame(list_of_rows)`` in PySpark always parallelizes
the rows into an RDD — so every scan of the resulting DataFrame (and in
particular every BroadcastExchange over it) schedules a real job whose
tasks unpickle the rows in Python workers. For the engine's tiny
metadata tables (cell bounds, margin thresholds, substripe arrays —
O(100) rows, broadcast 3x per join) that measured 0.4-4.3 s PER
BROADCAST as 32-task Python jobs.

``local_df`` renders the rows as a SQL ``VALUES`` literal instead,
which Catalyst folds into a LocalRelation: broadcasts collect driver-
side in ~0 ms, no job, no Python. Doubles are rendered as
``CAST('<repr>' AS DOUBLE)`` — repr() is the shortest round-trip
decimal, so values are bit-identical to the floats passed in (the same
technique the image oracle uses for its PSNR constants).

Falls back to createDataFrame above ``_MAX_VALUES_ROWS`` rows, where
SQL-text parsing would start to cost more than the RDD scan and the
per-join fixed costs are amortized anyway.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MAX_VALUES_ROWS = 4096


def _sql_double(v: float) -> str:
    # the string->DOUBLE cast forces the float64 parser (a bare decimal
    # literal types as DECIMAL in Spark SQL and DuckDB alike, perturbing
    # the low bits), so the constant is bit-identical to the float
    # passed in — the image tier's DuckDB oracle relies on it too
    v = float(v)
    if math.isinf(v):
        return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
    if math.isnan(v):
        return "CAST('NaN' AS DOUBLE)"
    return f"CAST('{v!r}' AS DOUBLE)"


def _cell(v, typ: str) -> str:
    if typ == "int":
        return f"CAST({int(v)} AS INT)"
    if typ in ("long", "bigint"):
        return f"CAST({int(v)} AS BIGINT)"
    if typ == "double":
        return _sql_double(v)
    if typ == "array<double>":
        if not v:
            return "CAST(ARRAY() AS ARRAY<DOUBLE>)"
        return "ARRAY(" + ", ".join(_sql_double(x) for x in v) + ")"
    raise ValueError(f"local_df: unsupported column type {typ!r}")


def local_df(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """rows + 'name type, ...' schema -> a LocalRelation-backed
    DataFrame (broadcastable without scheduling a job). Supported types:
    int, long/bigint, double, array<double>."""
    fields = [tuple(c.strip().rsplit(None, 1)) for c in schema.split(",")]
    names = [n for n, _ in fields]
    types = [t for _, t in fields]
    if not rows:
        return spark.range(0).select(
            *[F.lit(None).cast(t).alias(n) for n, t in fields]
        )
    if len(rows) > _MAX_VALUES_ROWS:
        return spark.createDataFrame(rows, schema)
    vals = ", ".join(
        "(" + ", ".join(_cell(v, t) for v, t in zip(r, types)) + ")" for r in rows
    )
    cols = ", ".join(f"c{i} AS `{n}`" for i, n in enumerate(names))
    src = ", ".join(f"c{i}" for i in range(len(names)))
    return spark.sql(f"SELECT {cols} FROM VALUES {vals} AS t({src})")
