"""Cell-partitioned k-nearest-neighbor join over geodetic points.

Plan shape (north_rule / SURVEY.md §2.5):
  1. index points by cell (cells.cell_expr, JVM-side);
  2. per query, explode a neighbor ring of cells and join on cell —
     a hash join co-partitioned on the cell key, no cross product;
  3. distances by the named metric (_METRICS): "haversine" is a JVM
     expression; "karney", the exact ellipsoidal inverse the gie
     tolerance check uses, runs vectorized in one Arrow-batched UDF,
     the only Python worker in the spatial layer;
  4. Window.partitionBy(q_id).orderBy(dist, doc_id, span_offset)
     row_number() <= k (deterministic tie-break).

Correctness across ring boundaries: two passes, no loop.  Ring 1 first;
each uncertified query then re-runs once in the ring its own ring-1
k-th distance implies, or the whole grid (knn_join proves the guard).

Skew: hot cells (cities) put many points in one cell; n_salt > 1 salts
the join key with salting.salt_expr and AQE skew-join splits the rest.
"""

from __future__ import annotations

import numpy as np

from proj_4_spark import scale
from proj_4_spark.kernel_udf import kernel_columns
from proj_4_spark.spatial import cells, salting
from proj_4_spark.sqltext import clamp, double

# MINIMUM meridional meters per degree (at the equator, GRS80): the guard
# needs a lower bound on the distance to an unexplored cell, so it must use
# the smallest meters-per-degree anywhere — the mean (111194.93) would
# overestimate by ~0.56% near the equator and falsely certify completion.
M_PER_DEG = 110567.0
HAVERSINE_R = 6371000.0  # mean sphere radius for metric="haversine"


def _haversine_m(lon1, lat1, lon2, lat2):
    """Great-circle meters on the HAVERSINE_R sphere as a JVM expression
    of four column names (the SQL-expressible metric the DuckDB
    correctness gate recomputes): radians,
    h = sin²(dφ/2) + cos φ1 cos φ2 sin²(dλ/2), 2R asin(min(1, √h)); a
    NaN coordinate reads NaN (sqltext.clamp keeps it)."""
    from pyspark.sql import functions as F

    from proj_4_spark.kernels.common import DEG_TO_RAD

    d2r, two = double(DEG_TO_RAD), double(2.0)
    p1, p2 = f"{lat1} * {d2r}", f"{lat2} * {d2r}"
    s_dp = f"sin(({p2} - {p1}) / {two})"
    s_dl = f"sin(({lon2} - {lon1}) * {d2r} / {two})"
    h = f"{s_dp} * {s_dp} + cos({p1}) * cos({p2}) * ({s_dl} * {s_dl})"
    return F.expr(f"asin({clamp(f'sqrt({h})', hi=double(1.0))}) * "
                  f"{double(2.0 * HAVERSINE_R)}")


def _karney_udf(a: float, f: float):
    """The Karney distance of four column names, in meters: one
    Arrow-batched UDF (kernel_udf.kernel_columns), NaN for a NULL or NaN
    coordinate, so such a pair ranks after every finite one."""

    def geodesic_m(lon1, lat1, lon2, lat2):
        from proj_4_spark.kernels.common import DEG_TO_RAD
        from proj_4_spark.kernels.geodesic import geodesic_inverse_karney

        return (geodesic_inverse_karney(
            lon1 * DEG_TO_RAD, lat1 * DEG_TO_RAD,
            lon2 * DEG_TO_RAD, lat2 * DEG_TO_RAD, a, f),)

    return lambda *names: kernel_columns(geodesic_m, names, ("d",))["d"]


# metric -> (builder (a, f) -> meters Column of the column names
# (lon1, lat1, lon2, lat2), the guard's meters-per-degree lower bound,
# exact on the haversine sphere)
_METRICS = {
    "karney": (_karney_udf, M_PER_DEG),
    "haversine": (lambda a, f: _haversine_m, HAVERSINE_R * np.pi / 180),
}


def _metric(name: str, a: float, f: float):
    """(distance of (lon1, lat1, lon2, lat2), meters per degree) of `name`."""
    if name not in _METRICS:
        raise ValueError(f"unknown kNN metric {name!r}; valid metrics: "
                         f"{', '.join(_METRICS)}")
    build, m_per_deg = _METRICS[name]
    return build(a, f), m_per_deg


def _ranked(cand, geodesic_m, k: int):
    """Candidate (q, p) pairs -> distance -> per-query window ->
    rank <= k, ties broken by (doc_id, span_offset)."""
    from pyspark.sql import functions as F

    return (
        cand.withColumn("dist_m", geodesic_m("q_lon", "q_lat", "p_lon", "p_lat"))
        .withColumn("rank", F.expr("row_number() OVER (PARTITION BY q_id "
                                   "ORDER BY dist_m, doc_id, span_offset)"))
        .where(f"rank <= {k}")
        .select("q_id", "q_lon", "q_lat", "doc_id", "span_offset", "dist_m", "rank")
    )


def knn_join(
    points_df,
    queries_df,
    k: int = 10,
    a: float = 6378137.0,
    f: float = 1 / 298.257222101,
    metric: str = "karney",
    n_salt: int = 1,
):
    """Returns (q_id, doc_id, span_offset, dist_m, rank) with rank<=k.

    points_df: (doc_id, span_offset, lon, lat); queries_df: (q_id, lon, lat).
    The cell resolution comes from the parquet footer row count of the
    files `points_df` scans (scale.knn_res), not from its rows after
    filters, limits or joins: a small subset of a large file gets the
    large file's (smaller) cells.
    A point or query that cells.cell_np does not take (a NULL, NaN or
    infinite coordinate, |lon| > 360, |lat| > 90) has cell -1 and no
    neighbor cells: the point is never a candidate and the query gets
    no rows.  knn_brute_force ranks them after every finite point (under
    karney with a NaN distance).
    metric: "karney" (exact ellipsoidal, the Arrow-batched Karney UDF)
    or "haversine" (mean sphere, a JVM expression with no Python worker:
    the SQL-expressible twin used by the DuckDB correctness gate); any
    other name raises ValueError.
    n_salt > 1 defuses hot-cell skew (a metro cell holding most of the
    corpus): points hash-split into (cell, salt) sub-partitions and each
    query replicates across the salts of its candidate cells, so the hot
    cell's candidate generation spreads over n_salt tasks instead of
    one.  The per-query ranking window is salt-agnostic, so the result
    is IDENTICAL to n_salt=1 (pinned in tests).

    Guard.  A query at latitude q_lat in row iy, column ix, with cell
    height h = 180/2^res degrees, explores ring R: rows iy-R..iy+R and
    columns ix-R..ix+R mod 2^res.  Every other point is at least
    guard(R) = R h m_per_deg min(1, cos q_lat) meters away.  Both
    metrics are at least the great-circle distance between the same
    (lat, lon) on a sphere of m_per_deg meters per degree: the haversine
    sphere is that sphere, and the ellipsoid's meridian and prime-vertical
    radii both exceed the radius M_PER_DEG implies.  On that sphere:
      - latitude leg: a point in an unexplored row is more than R h
        degrees of latitude away, and the meridian arc is the shortest
        path between two parallels;
      - longitude leg: a point in an unexplored column is at least
        dl = 2 R h degrees of longitude away, so at least as far as the
        meridian dl away, asin(cos q_lat sin dl).  That exceeds
        R h cos q_lat only while dl <= 90 degrees, where
        sin dl >= (2/pi) dl > R h (radians) and asin(x) >= x.

    Two passes, no loop.  Ring 1 for every query; its tiny top-k, beside
    each query's ring, is localCheckpointed once.  A query with k rows
    and k-th distance d1 <= guard(1) keeps them.  Every other query gets
    ring R = floor(d1 / guard(1)) + 1, so guard(R) > d1 >= its true k-th
    distance, or the whole grid when it found fewer than k rows, when
    guard(1) <= 0, or when R * 360/2^res > 90 degrees.  One widening
    candidate join ranks them all, each in its own ring.
    """
    from pyspark.sql import functions as F

    geodesic_m, m_per_deg = _metric(metric, a, f)
    res = scale.knn_res(scale.parquet_stats(points_df)[0])
    n = 1 << res

    cols = ["doc_id", "span_offset", "lon AS p_lon", "lat AS p_lat",
            f"{cells.cell_expr('lon', 'lat', res)} AS cell"]
    join_keys = ["cell"]
    if n_salt > 1:
        cols.append(f"{salting.salt_expr('doc_id', n_salt)} AS salt")
        join_keys = ["cell", "salt"]
    # repartition points by cell (and salt) once; both passes read it
    pts = points_df.selectExpr(*cols).repartition(*join_keys).cache()

    def ranked_within(q, ring):
        ring_cells = cells.neighbors_expr(
            cells.cell_expr("q_lon", "q_lat", res), res, ring)
        q = q.withColumn("cell", F.expr(f"explode({ring_cells})"))
        if n_salt > 1:
            q = q.withColumn("salt", F.expr(
                f"explode(array({', '.join(map(str, range(n_salt)))}))"))
        return _ranked(q.join(pts, join_keys, "inner"), geodesic_m, k)

    queries = queries_df.selectExpr("q_id", "lon AS q_lon", "lat AS q_lat")
    unit = (f"({double(cells.cell_size_deg(res)[1] * m_per_deg)} * "
            f"least({double(1.0)}, cos(radians(q_lat))))")
    # 0 = certified by ring 1; n = the whole grid.  A CASE, so the
    # division never sees unit <= 0 (ANSI mode raises on it)
    ring = (f"CAST(CASE WHEN n_found < {k} OR {unit} <= 0 THEN {n} "
            f"WHEN kth_dist <= {unit} THEN 0 "
            f"WHEN kth_dist / {unit} >= {n // 4} THEN {n} "  # R > 2^res / 4: dl > 90 deg
            f"ELSE floor(kth_dist / {unit}) + 1 END AS BIGINT)")
    # every query beside its ring-1 top-k (one null row if it found
    # none) and its ring, materialized once because both outputs read it
    first = (queries.join(ranked_within(queries, 1).drop("q_lon", "q_lat"),
                          "q_id", "left")
             .withColumns({
                 "n_found": F.expr("count(doc_id) OVER (PARTITION BY q_id)"),
                 "kth_dist": F.expr("max(dist_m) OVER (PARTITION BY q_id)")})
             .withColumn("ring", F.expr(ring))
             .localCheckpoint(eager=True))

    widened = ranked_within(
        first.where("ring > 0 AND coalesce(rank, 1) = 1")
        .select("q_id", "q_lon", "q_lat", "ring"), "ring")
    out = ["q_id", "doc_id", "span_offset", "dist_m", "rank"]
    return first.where("ring = 0").select(out).unionByName(widened.select(out))


def knn_brute_force(points_df, queries_df, k: int = 10,
                    a: float = 6378137.0, f: float = 1 / 298.257222101,
                    metric: str = "karney"):
    """Reference implementation (cross join): the correctness oracle for
    knn_join at test scale.  Never use at production scale."""
    geodesic_m, _ = _metric(metric, a, f)
    cand = queries_df.selectExpr("q_id", "lon AS q_lon", "lat AS q_lat").crossJoin(
        points_df.selectExpr("doc_id", "span_offset", "lon AS p_lon", "lat AS p_lat"))
    return _ranked(cand, geodesic_m, k).select(
        "q_id", "doc_id", "span_offset", "dist_m", "rank")
