"""Deterministic hierarchical lon/lat cell index (H3/S2-analogue).

An equirectangular power-of-two grid: at resolution r the world splits
into 2^r x 2^r cells (lon in [-180,180), lat in [-90,90)).  Cell ids pack
(res, iy, ix) into one int64:

    id = (res << 58) | (iy << 29) | ix        (r <= 28)

Chosen over Morton/H3 for exact reproducibility with pure integer
arithmetic: the SAME expression runs JVM-side (whole-stage codegen, no
UDF), in NumPy (driver oracles), and in ANSI SQL (DuckDB correctness
gate).  Parent/child is a shift; neighbor rings are +/-1 index steps with
longitude wraparound.

Role in the engine (north_rule): the partitioning key for spatial
shuffles — PIP candidate pruning, kNN cell-partitioning, and skew
salting all key on it.  Analogue of the reference's point->subgrid
resolution (findGrid, src/grids.cpp:3058-3074).
"""

from __future__ import annotations

import numpy as np

from proj_4_spark.sqltext import column_sql

RES_SHIFT = 58
IY_SHIFT = 29
MAX_RES = 28


def cell_np(lon, lat, res: int):
    """NumPy twin of the JVM expression.  lon/lat degrees -> int64 cell."""
    n = np.int64(1) << res
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    ix = np.floor((lon + 180.0) / 360.0 * n).astype(np.int64)
    iy = np.floor((lat + 90.0) / 180.0 * n).astype(np.int64)
    ix = np.clip(ix, 0, n - 1)
    iy = np.clip(iy, 0, n - 1)
    out = (np.int64(res) << RES_SHIFT) | (iy << IY_SHIFT) | ix
    bad = ~(np.isfinite(lon) & np.isfinite(lat) & (np.abs(lon) <= 360) & (np.abs(lat) <= 90))
    return np.where(bad, np.int64(-1), out)


def index_exprs(lon: str, lat: str, res: int, d: str = "D") -> tuple[str, str]:
    """SQL text of the clamped grid indexes (ix, iy) of SQL operands
    `lon`/`lat`; `d` suffixes the double literals: "D" for Spark SQL,
    which reads 180.0 as DECIMAL, "" for DuckDB."""
    n = 1 << res

    def idx(c, lo, span):
        return (f"least(greatest(cast(floor(({c} + {lo}{d}) / {span}{d} * {n})"
                f" as bigint), 0), {n - 1})")

    return idx(lon, "180.0", "360.0"), idx(lat, "90.0", "180.0")


def pack_expr(res: int, iy: str, ix: str) -> str:
    """SQL cell id (res << 58) + (iy << 29) + ix of index operands."""
    return f"cast({res} as bigint) * {1 << RES_SHIFT} + {iy} * {1 << IY_SHIFT} + {ix}"


def _cell_text(lon: str, lat: str, res: int, d: str) -> str:
    """cell_np as SQL text: the packed clamped indexes, or -1 where
    cell_np does not take the point.  A NULL or NaN operand fails its
    comparison (NaN sorts above every number in Spark and DuckDB, and
    CASE takes a NULL condition as false), so it takes -1 as a NaN does
    in NumPy; the THEN branch is never evaluated for it."""
    ix, iy = index_exprs(lon, lat, res, d)
    return (f"(CASE WHEN abs({lon}) <= 360.0{d} AND abs({lat}) <= 90.0{d} "
            f"THEN {pack_expr(res, iy, ix)} ELSE -1 END)")


def cell_sql(lon_expr: str, lat_expr: str, res: int) -> str:
    """The same computation as ANSI SQL (used for DuckDB oracles)."""
    return _cell_text(lon_expr, lat_expr, res, "")


def cell_expr(lon: str, lat: str, res: int) -> str:
    """The same computation as Spark SQL text over SQL operands."""
    return _cell_text(lon, lat, res, "D")


def _sql(col) -> str:
    """SQL text of `col` (sqltext.column_sql), or ValueError naming it."""
    sql = column_sql(col)
    if sql is None:
        raise ValueError(
            f"{col} does not render to SQL text: pass F.col(name) or "
            f"F.expr(sql)")
    return sql


def cell_col(lon_col, lat_col, res: int):
    """JVM-side Column expression (stays inside whole-stage codegen),
    equal to cell_np: -1 for a NULL, NaN or infinite coordinate,
    |lon| > 360 or |lat| > 90.  `lon_col`/`lat_col` are ``F.col`` or
    ``F.expr`` Columns, rendered into one SQL text
    (sqltext.column_sql); any other Column raises ValueError
    (``F.expr("lon + 0.5D")`` stands for ``F.col("lon") + 0.5``)."""
    from pyspark.sql import functions as F

    return F.expr(cell_expr(_sql(lon_col), _sql(lat_col), res))


def decode_np(cell):
    """int64 cell -> (res, iy, ix)."""
    cell = np.asarray(cell, dtype=np.int64)
    res = cell >> RES_SHIFT
    iy = (cell >> IY_SHIFT) & ((np.int64(1) << IY_SHIFT) - 1)
    ix = cell & ((np.int64(1) << IY_SHIFT) - 1)
    return res, iy, ix


def neighbors_np(cell, ring: int = 1):
    """All cells within `ring` index steps (square ring), with longitude
    wraparound; latitude rows clamp at the poles.  Returns 2-D array
    [len(cell), (2*ring+1)**2] of int64 (may contain duplicates at poles).
    """
    cell = np.atleast_1d(np.asarray(cell, dtype=np.int64))
    res, iy, ix = decode_np(cell)
    n = np.int64(1) << res
    offs = np.arange(-ring, ring + 1)
    dy, dx = np.meshgrid(offs, offs, indexing="ij")
    dy = dy.ravel()
    dx = dx.ravel()
    iy2 = np.clip(iy[:, None] + dy[None, :], 0, (n - 1)[:, None])
    ix2 = (ix[:, None] + dx[None, :]) % n[:, None]
    return (res[:, None] << RES_SHIFT) | (iy2 << IY_SHIFT) | ix2


def neighbors_expr(cell: str, res: int, ring=1) -> str:
    """Spark SQL text of the neighbor ring (an array) of the cell id
    SQL operand `cell`; `ring` is an int or a SQL operand.  Rows clamp
    at the poles and columns wrap and cap at 2^res, so each cell appears
    once.  A -1 cell (a point cell_np does not take) has no neighbors.
    It is decoded as cell 0, whose ring the CASE discards: decoded as
    itself it would span 2^29 rows, which the optimizer's constant
    folding would build for a literal -1.  The lambda variables
    `__iy`/`__ix` shadow any column so named."""
    n, r = f"{1 << res}L", f"CAST({ring} AS BIGINT)"
    # Exact integer decode: shiftright/bitwise, never `/` (double division
    # rounds above 2^53 — cell ids carry res<<58, so float division can be
    # off by up to ~128 in ix/iy near row boundaries).
    c = f"greatest({cell}, 0L)"
    iy = f"(shiftright({c}, {IY_SHIFT}) & {(1 << (RES_SHIFT - IY_SHIFT)) - 1})"
    ix = f"({c} & {(1 << IY_SHIFT) - 1})"
    rows = f"sequence(greatest({iy} - {r}, 0L), least({iy} + {r}, {n} - 1))"
    cols = (f"CASE WHEN {r} * 2 + 1 >= {n} THEN sequence(0L, {n} - 1) "
            f"ELSE transform(sequence({ix} - {r}, {ix} + {r}), "
            f"__ix -> pmod(__ix, {n})) END")
    return (f"CASE WHEN {cell} < 0 THEN array() ELSE "
            f"flatten(transform({rows}, __iy -> "
            f"transform({cols}, __ix -> {pack_expr(res, '__iy', '__ix')})))"
            f" END")


def neighbors_col(cell_col_, res: int, ring=1):
    """JVM-side neighbor ring as an array column (for explode-join);
    `ring` is an int or a per-row Column (neighbors_expr).  The Columns
    are ``F.col`` or ``F.expr`` Columns, as in cell_col; any other
    raises ValueError."""
    from pyspark.sql import Column, functions as F

    ring = _sql(ring) if isinstance(ring, Column) else str(ring)
    return F.expr(neighbors_expr(_sql(cell_col_), res, ring))


def cell_size_deg(res: int) -> tuple[float, float]:
    n = 1 << res
    return 360.0 / n, 180.0 / n
