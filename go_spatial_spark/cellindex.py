"""Hierarchical spatial cell index (Z-order / quadkey, H3/S2-style).

A pure-arithmetic cell scheme: at resolution R the lon/lat plane is a
2^R x 2^R grid; a cell id is the Morton (Z-order) interleave of the x/y
cell coordinates. Properties used by the engine:

- hierarchical: parent(cell) = cell >> 2 (like H3/S2 parent);
- prefix-range prunable: all cells under a parent form one contiguous
  id range [p << 2k, (p+1) << 2k) — bounding boxes become a small set
  of range predicates that Catalyst pushes to the scan;
- locality: Z-order keeps near cells near in id space, so
  repartitionByRange(cell) co-locates spatial neighborhoods.

This replaces the reference's latent k-d tree
(/root/reference/structures/kdtree.go:14-105 — unused by any tool) as
the point-index primitive.

Everything here exists in two synchronized forms: PySpark Column
expressions (JVM-side, codegen'd) and SQL text in both Spark and DuckDB
dialects (for oracles). The arithmetic is integer-only -> bit-identical
everywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# 16-bit Morton spread masks (classic magic numbers)
_MASKS = (
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)


# --- PySpark Columns -----------------------------------------------------

def spread_bits_col(v: Column) -> Column:
    v = v.bitwiseAND(F.lit(0xFFFF))
    for s, m in _MASKS:
        v = (v.bitwiseOR(F.shiftleft(v, s))).bitwiseAND(F.lit(m))
    return v


def xy_cols(lon: Column, lat: Column, res: int) -> tuple[Column, Column]:
    n = float(1 << res)
    hi = (1 << res) - 1
    x = F.floor((lon + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
    y = F.floor((lat + F.lit(90.0)) / F.lit(180.0) * F.lit(n))
    x = F.least(F.greatest(x, F.lit(0)), F.lit(hi))
    y = F.least(F.greatest(y, F.lit(0)), F.lit(hi))
    return x, y


def cell_col(lon: Column, lat: Column, res: int) -> Column:
    x, y = xy_cols(lon, lat, res)
    return F.shiftleft(spread_bits_col(y), 1).bitwiseOR(spread_bits_col(x))


# --- SQL text (dual dialect) --------------------------------------------

def _shl(expr: str, n: int, dialect: str) -> str:
    return f"({expr} << {n})" if dialect == "duckdb" else f"shiftleft({expr}, {n})"


def spread_bits_sql(expr: str, dialect: str) -> str:
    e = f"({expr} & 65535)"
    for s, m in _MASKS:
        e = f"(({e} | {_shl(e, s, dialect)}) & {m})"
    return e


def xy_sql(lon: str, lat: str, res: int) -> tuple[str, str]:
    n = float(1 << res)
    hi = (1 << res) - 1
    x = f"least(greatest(floor(({lon} + 180.0) / 360.0 * {n!r}), 0), {hi})"
    y = f"least(greatest(floor(({lat} + 90.0) / 180.0 * {n!r}), 0), {hi})"
    return f"CAST({x} AS BIGINT)", f"CAST({y} AS BIGINT)"


def cell_sql(lon: str, lat: str, res: int, dialect: str) -> str:
    x, y = xy_sql(lon, lat, res)
    return (f"({_shl(spread_bits_sql(y, dialect), 1, dialect)}"
            f" | {spread_bits_sql(x, dialect)})")
