"""Hierarchical cell encoding on [0,1)^2 — S2/H3-style, quadtree flavor.

Graft addition (not in the reference, required by BASELINE.json
north_rule: "H3/S2 index"): a 64-bit Morton/Z-order cell id per level.
Layout: bits interleaved x/y, x in the odd (higher) positions —
cell = sum_i ((xi>>i & 1) << (2i+1)) | ((yi>>i & 1) << (2i)),
where xi = floor(x * 2^level). Parent = child >> 2 (like S2's
hierarchical prefix property), so coarse rollups are a bit shift, not a
re-encode.

Everything is a pure Spark column expression (whole-stage codegen, no
Python); ``cell_sql`` emits the identical ANSI-SQL expression for the
DuckDB oracle, and ``cell_numpy`` the identical numpy version for
pytest — all three are exact integer math, so they agree bit-for-bit.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

from spark_aknn.raster import _axis_idx

MAX_LEVEL = 30


def cell_id(x: Column, y: Column, level: int) -> Column:
    """Morton cell id of (x, y) at ``level`` (level in 1..30). A null,
    NaN or infinite coordinate raises (raster._axis_idx)."""
    if not 1 <= level <= MAX_LEVEL:
        raise ValueError(f"level must be in 1..{MAX_LEVEL}")
    xi = _axis_idx(x, 1 << level)
    yi = _axis_idx(y, 1 << level)
    acc: Column | None = None
    for i in range(level):
        xb = F.shiftleft(F.shiftrightunsigned(xi, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        yb = F.shiftleft(F.shiftrightunsigned(yi, i).bitwiseAND(F.lit(1)), 2 * i)
        term = xb.bitwiseOR(yb)
        acc = term if acc is None else acc.bitwiseOR(term)
    return acc


def parent_cell(cell: Column, levels_up: int = 1) -> Column:
    return F.shiftrightunsigned(cell, 2 * levels_up)


def cell_sql(x_sql: str, y_sql: str, level: int) -> str:
    """The identical cell id as an ANSI SQL expression (DuckDB oracle)."""
    n = 1 << level
    xi = f"least(greatest(cast(floor(({x_sql}) * {n}.0) as bigint), 0), {n - 1})"
    yi = f"least(greatest(cast(floor(({y_sql}) * {n}.0) as bigint), 0), {n - 1})"
    terms = []
    for i in range(level):
        terms.append(f"((({xi} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({yi} >> {i}) & 1) << {2 * i})")
    return "(" + " | ".join(terms) + ")"


def cell_numpy(x: np.ndarray, y: np.ndarray, level: int) -> np.ndarray:
    n = 1 << level
    xi = np.clip(np.floor(x * float(n)).astype(np.int64), 0, n - 1)
    yi = np.clip(np.floor(y * float(n)).astype(np.int64), 0, n - 1)
    acc = np.zeros_like(xi)
    for i in range(level):
        acc |= ((xi >> i) & 1) << (2 * i + 1)
        acc |= ((yi >> i) & 1) << (2 * i)
    return acc


def cell_decode_numpy(cell: np.ndarray, level: int) -> tuple[np.ndarray, np.ndarray]:
    """Cell id -> integer (xi, yi) grid coordinates (test helper)."""
    cell = cell.astype(np.int64)
    xi = np.zeros_like(cell)
    yi = np.zeros_like(cell)
    for i in range(level):
        xi |= ((cell >> (2 * i + 1)) & 1) << i
        yi |= ((cell >> (2 * i)) & 1) << i
    return xi, yi
