"""Point-in-polygon joins with the exact test in the JVM.

Plan shape (north_rule / SURVEY.md §2.5):
  1. bbox range predicates prune (point, zone) candidates;
  2. the even-odd (ray crossing) test runs on the survivors as one Spark
     SQL `aggregate` over the zone's ring edges (`_in_ring`) — no Python
     worker, no Arrow hop.

`point_in_ring_np` is the NumPy oracle.  `_in_ring` performs the same
float operations in the same order, and Java doubles are strict IEEE, so
both joins return bit-identical (point, zone) sets.  `pip_join`
broadcasts the zones with their rings; `pip_join_cells` is the scale
path for zone sets too large to broadcast.
"""

from __future__ import annotations

import numpy as np

from proj_4_spark.spatial.cells import cell_expr, index_exprs, pack_expr
from proj_4_spark.sqltext import codegen_barrier, quote_name
from proj_4_spark.templates import templated

_BBOX = ("min_lon", "min_lat", "max_lon", "max_lat")


def point_in_ring_np(px, py, ring_x, ring_y):
    """Vectorized even-odd (ray crossing) test of points against ONE ring.

    px/py: [n]; ring_x/ring_y: [m] closed or open ring (auto-closed).
    Boundary convention: the standard even-odd half-open rule.  The
    oracle of `_in_ring` and of the DuckDB twin `_sql_pip_cells`.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    rx = np.asarray(ring_x, dtype=np.float64)
    ry = np.asarray(ring_y, dtype=np.float64)
    if rx[0] != rx[-1] or ry[0] != ry[-1]:
        rx = np.append(rx, rx[0])
        ry = np.append(ry, ry[0])
    x1, y1 = rx[:-1], ry[:-1]       # [m]
    x2, y2 = rx[1:], ry[1:]
    # crossings[i] = count over edges; broadcast points x edges
    pyc = py[:, None]
    pxc = px[:, None]
    cond = (y1[None, :] > pyc) != (y2[None, :] > pyc)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1[None, :] + (pyc - y1[None, :]) / (y2[None, :] - y1[None, :]) * (
            x2[None, :] - x1[None, :]
        )
    hits = cond & (pxc < xint)
    return hits.sum(axis=1) % 2 == 1


def _lt(a: str, b: str) -> str:
    """NumPy's `a < b` in Spark SQL: Spark orders NaN above +Infinity,
    NumPy's comparisons with NaN are false."""
    return f"({a} < {b} AND NOT isnan({b}))"


def _in_ring(lon: str, lat: str) -> str:
    """SQL text: point (`lon`, `lat`, SQL operands) inside the ring held
    as the array columns `ring_lon`/`ring_lat`, by `point_in_ring_np`'s
    rule.

    Edge i runs from vertex i to vertex (i + 1) % n: the implicit
    closing edge is always taken (for a closed ring it is horizontal and
    never crosses).  The crossing test is a CASE, not an AND, so the
    division only runs on crossing edges, whose endpoint latitudes
    differ: under ANSI mode a horizontal edge would raise DIVIDE_BY_ZERO
    where NumPy computes an inf it then discards."""
    x1, y1 = "ring_lon[i]", "ring_lat[i]"
    x2 = "ring_lon[(i + 1) % size(ring_lon)]"
    y2 = "ring_lat[(i + 1) % size(ring_lat)]"
    crosses = f"{_lt(lat, y1)} != {_lt(lat, y2)}"
    xint = f"{x1} + ({lat} - {y1}) / ({y2} - {y1}) * ({x2} - {x1})"
    return ("aggregate(sequence(0, size(ring_lon) - 1), false, (odd, i) -> "
            f"odd != CASE WHEN {crosses} THEN {_lt(lon, xint)} ELSE false END)")


def _bbox(lon: str, lat: str) -> str:
    """SQL text: point (`lon`, `lat`) inside the zone's bbox columns.
    Nested left to right: the parser reads a flat AND chain as a
    balanced tree."""
    return (f"(({lon} >= min_lon AND {lon} <= max_lon) "
            f"AND {lat} >= min_lat) AND {lat} <= max_lat")


def _rings(zones_df, *cols):
    return zones_df.selectExpr("zone_id", *cols, "ring.lon AS ring_lon",
                               "ring.lat AS ring_lat")


def pip_join(points_df, zones_df, lon: str = "lon", lat: str = "lat"):
    """points (doc_id, span_offset, lon, lat) x zones
    (zone_id, ring:array<struct<lon,lat>>, min_lon..max_lat)
    -> (doc_id, span_offset, zone_id).  `lon`/`lat` are column names as
    ``F.col`` reads them, qualifiers included (``"p.lon"`` over
    ``points_df.alias("p")``).

    (zone_id, bbox, ring) is broadcast — the zone side is small by this
    function's contract — and one join condition holds both tests, the
    ring loop behind the bbox in a single CASE.  As separate predicates,
    Catalyst may order the loop first and run it on every (point, zone)
    pair of the nested-loop join.

    The plan is analysed once per template key: the session, `lon`,
    `lat`, each input's output attributes (name, type, nullability,
    metadata, qualifier) and the ANSI and case-sensitivity confs
    (proj_4_spark/templates.py); every call rebinds it onto the two
    frames, so it needs a Classic session.
    """
    return templated(_pip_join, (lon, lat), points_df, zones_df)


def _pip_join(points_df, zones_df, lon: str, lat: str):
    from pyspark.sql import functions as F

    lon, lat = quote_name(lon), quote_name(lat)
    return points_df.join(
        F.broadcast(_rings(zones_df, *_BBOX)),
        on=F.expr(f"CASE WHEN {_bbox(lon, lat)} THEN {_in_ring(lon, lat)} "
                  "ELSE false END"),
        how="inner",
    ).drop(*_BBOX, "ring_lon", "ring_lat")


def _zone_cells_sql(res: int) -> str:
    """SQL text: the array of all res-cells covered by a zone's bbox
    (JVM-side: sequence over the iy/ix index ranges, no UDF)."""
    ix0, iy0 = index_exprs("min_lon", "min_lat", res)
    ix1, iy1 = index_exprs("max_lon", "max_lat", res)
    return (f"flatten(transform(sequence({iy0}, {iy1}), __iy -> "
            f"transform(sequence({ix0}, {ix1}), __ix -> "
            f"{pack_expr(res, '__iy', '__ix')})))")


def pip_join_cells(points_df, zones_df, res: int = 6,
                   lon: str = "lon", lat: str = "lat"):
    """PIP join for zone sets too large to broadcast: both sides key on
    the shared cell index (spatial/cells) and meet in an ordinary HASH
    join — no cross product, no broadcast.

    Plan shape:
      1. zones explode to the cells covering their bbox — carrying ONLY
         (zone_id, bbox, cell), never the ring: a 1000-vertex polygon
         covering 100 cells must not shuffle its ring 100x (cheap:
         cells per zone ~ bbox area / cell area — pick `res` so that's
         O(10-100));
      2. points compute their single cell (JVM expression);
      3. hash join on cell (both sides shuffle-partitioned by cell —
         co-located, skew handled by AQE / salting upstream);
      4. bbox predicate prunes candidates;
      5. ring geometry re-attaches by a zone_id join (each ring
         shuffles ONCE, and only bbox-surviving candidates meet it),
         and the same `_in_ring` test as pip_join keeps the hits.

    Same output as pip_join; pick by zone-table size.  Templated as
    pip_join is, with `res` in the key; the observation at the ring
    filter's barrier is named once per template.
    """
    return templated(_pip_join_cells, (res, lon, lat), points_df, zones_df)


def _pip_join_cells(points_df, zones_df, res: int, lon: str, lat: str):
    from pyspark.sql import functions as F

    lon, lat = quote_name(lon), quote_name(lat)
    zones_cells = zones_df.selectExpr(
        "zone_id", *_BBOX, f"explode({_zone_cells_sql(res)}) AS cell")
    pts = points_df.withColumn("cell", F.expr(cell_expr(lon, lat, res)))
    cand = pts.join(zones_cells, "cell", "inner").where(_bbox(lon, lat))
    # the ring test behind a barrier, never a join constraint: when the
    # point columns' exprIds equal the ones Catalyst gives `_in_ring`'s
    # lambda variables in its canonical form, they drop out of the
    # test's canonical references, and InferFiltersFromConstraints
    # moves the test onto the rings side of the zone_id join, where the
    # point columns are missing (INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND)
    hits = codegen_barrier(cand.join(_rings(zones_df), "zone_id", "inner"))
    return (hits.where(_in_ring(lon, lat))
            .drop("ring_lon", "ring_lat", *_BBOX, "cell"))
