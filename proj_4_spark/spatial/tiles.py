"""Raster-tile <-> vector assignment (web-mercator power-of-two tiles).

Tile math per FIXTURES.md §5 over the engine's webmerc output
(spherical Mercator kernel, src/projections/merc.cpp:92-100):

    tile_x = floor((x + HALF_CIRC) / (2*HALF_CIRC) * 2^zoom)
    tile_y = same on flipped y

Assignment is exact integer math — it IS the reference's grid-cell
resolution pattern (floor-divide against a broadcast grid description,
src/grids.cpp:2875-2944 / SURVEY.md §2.4) — and runs fully JVM-side.
"""

from __future__ import annotations

import numpy as np

from proj_4_spark.sqltext import quote_name
from proj_4_spark.templates import templated

# pi * 6378137 (WGS84 webmerc half-circumference)
HALF_CIRC = 20037508.342789244


def tile_np(x, y, zoom: int):
    """NumPy twin: webmerc meters -> (tile_x, tile_y)."""
    n = 1 << zoom
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    tx = np.floor((x + HALF_CIRC) / (2 * HALF_CIRC) * n).astype(np.int64)
    ty = np.floor((HALF_CIRC - y) / (2 * HALF_CIRC) * n).astype(np.int64)
    return np.clip(tx, 0, n - 1), np.clip(ty, 0, n - 1)


def _tile_texts(x: str, y: str, zoom: int, d: str) -> tuple[str, str]:
    """(tile_x, tile_y) of SQL operands `x`/`y`; `d` suffixes the double
    literals ("" for DuckDB, "D" for Spark SQL, which reads them as
    DECIMAL)."""
    n = 1 << zoom
    h, w = f"{HALF_CIRC!r}{d}", f"{2 * HALF_CIRC!r}{d}"
    tx = f"least(greatest(cast(floor(({x} + {h}) / {w} * {n}) as bigint), 0), {n - 1})"
    ty = f"least(greatest(cast(floor(({h} - ({y})) / {w} * {n}) as bigint), 0), {n - 1})"
    return tx, ty


def tile_sql(x_expr: str, y_expr: str, zoom: int) -> tuple[str, str]:
    """The same computation as ANSI SQL (used for DuckDB oracles)."""
    return _tile_texts(x_expr, y_expr, zoom, "")


def assign_tiles(points_df, x: str = "x", y: str = "y", zoom: int = 8):
    """Add zoom/tile_x/tile_y/payload columns to a webmerc point
    DataFrame (`x`/`y` are column names as ``F.col`` reads them,
    qualifiers included; an input column of one of the four names is
    replaced in place).  Two projections: the payload reads the tile
    columns.  Analysed once per template key (the session, `x`, `y`,
    `zoom`, the input's output attributes with their qualifiers, the
    ANSI and case-sensitivity confs; proj_4_spark/templates.py) and
    rebound onto `points_df`, so it needs a Classic session."""
    return templated(_assign_tiles, (x, y, zoom), points_df)


def _assign_tiles(points_df, x: str, y: str, zoom: int):
    from pyspark.sql import functions as F

    tx, ty = _tile_texts(quote_name(x), quote_name(y), zoom, "D")
    return points_df.withColumns({
        "zoom": F.expr(str(zoom)), "tile_x": F.expr(tx), "tile_y": F.expr(ty),
    }).withColumn("payload", F.expr(f"concat('tile-{zoom}/', tile_x, '/', tile_y)"))
