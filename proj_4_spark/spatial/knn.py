"""Cell-partitioned k-nearest-neighbor join over geodetic points.

Plan shape (north_rule / SURVEY.md §2.5):
  1. index points by cell (cells.cell_col, JVM-side);
  2. per query, explode a neighbor ring of cells and join on cell —
     a hash join co-partitioned on the cell key, no cross product;
  3. exact geodesic distances (vectorized Karney inverse, the same
     metric the gie tolerance check uses) in one Arrow-batched UDF;
  4. Window.partitionBy(q_id).orderBy(dist, doc_id, span_offset)
     row_number() <= k (deterministic tie-break).

Correctness across ring boundaries: after ranking within ring R the
k-th distance must be <= the geodesic lower bound to any unexplored
cell; queries that fail the guarantee re-run with a wider ring
(driver-side loop, each pass fully distributed).  Near-polar queries
where the bound degenerates fall back to brute force (rare by area).

Skew: hot cells (cities) put many points in one cell; the join key can
be salted with spatial/salting.py and AQE skew-join splits the rest.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from proj_4_spark import scale
from proj_4_spark.spatial import cells

# MINIMUM meridional meters per degree (at the equator, GRS80): the guard
# needs a lower bound on the distance to an unexplored cell, so it must use
# the smallest meters-per-degree anywhere — the mean (111194.93) would
# overestimate by ~0.56% near the equator and falsely certify completion.
M_PER_DEG = 110567.0


HAVERSINE_R = 6371000.0  # mean sphere radius for metric="haversine"


def _dist_udf(a: float, f: float, metric: str = "karney"):
    from pyspark.sql.functions import pandas_udf

    if metric == "haversine":
        # SQL-expressible twin metric: lets the DuckDB correctness gate
        # value-verify the full kNN machinery (rings/guards/tie-breaks)
        @pandas_udf("double")
        def geodesic_m(lon1: pd.Series, lat1: pd.Series,
                       lon2: pd.Series, lat2: pd.Series) -> pd.Series:
            from proj_4_spark.kernels.common import DEG_TO_RAD

            p1 = lat1.to_numpy(dtype=np.float64) * DEG_TO_RAD
            p2 = lat2.to_numpy(dtype=np.float64) * DEG_TO_RAD
            dp = p2 - p1
            dl = (lon2.to_numpy(dtype=np.float64)
                  - lon1.to_numpy(dtype=np.float64)) * DEG_TO_RAD
            h = (np.sin(dp / 2.0) ** 2
                 + np.cos(p1) * np.cos(p2) * np.sin(dl / 2.0) ** 2)
            return pd.Series(
                2.0 * HAVERSINE_R * np.arcsin(np.minimum(1.0, np.sqrt(h)))
            )

        return geodesic_m

    @pandas_udf("double")
    def geodesic_m(lon1: pd.Series, lat1: pd.Series, lon2: pd.Series, lat2: pd.Series) -> pd.Series:
        from proj_4_spark.kernels.common import DEG_TO_RAD
        from proj_4_spark.kernels.geodesic import geodesic_inverse_karney

        d = geodesic_inverse_karney(
            lon1.to_numpy(dtype=np.float64) * DEG_TO_RAD,
            lat1.to_numpy(dtype=np.float64) * DEG_TO_RAD,
            lon2.to_numpy(dtype=np.float64) * DEG_TO_RAD,
            lat2.to_numpy(dtype=np.float64) * DEG_TO_RAD,
            a, f,
        )
        return pd.Series(d)

    return geodesic_m


def _ranked(cand, geodesic_m, k: int):
    """Candidate (q, p) pairs -> distance UDF -> per-query window ->
    rank <= k, ties broken by (doc_id, span_offset)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("q_id").orderBy("dist_m", "doc_id", "span_offset")
    return (
        cand.withColumn("dist_m", geodesic_m(F.col("q_lon"), F.col("q_lat"),
                                             F.col("p_lon"), F.col("p_lat")))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "q_lon", "q_lat", "doc_id", "span_offset", "dist_m", "rank")
    )


def knn_join(
    points_df,
    queries_df,
    k: int = 10,
    max_ring: int = 4,
    a: float = 6378137.0,
    f: float = 1 / 298.257222101,
    point_cols=("doc_id", "span_offset", "lon", "lat"),
    query_cols=("q_id", "lon", "lat"),
    metric: str = "karney",
    n_salt: int = 1,
):
    """Returns (q_id, doc_id, span_offset, dist_m, rank) with rank<=k.

    points_df: (doc_id, span_offset, lon, lat); queries_df: (q_id, lon, lat).
    The cell resolution comes from the parquet footer row count of the
    files `points_df` scans (scale.knn_res), not from its rows after
    filters, limits or joins: a small subset of a large file gets the
    large file's (smaller) cells.  Rings widen from 1 up to `max_ring`,
    then the remaining queries are brute-forced.
    metric: "karney" (exact ellipsoidal) or "haversine" (mean sphere —
    the SQL-expressible twin used by the DuckDB correctness gate).
    n_salt > 1 defuses hot-cell skew (a metro cell holding most of the
    corpus): points hash-split into (cell, salt) sub-partitions and each
    query replicates across the salts of its candidate cells, so the hot
    cell's candidate generation spreads over n_salt tasks instead of
    one.  The per-query ranking window is salt-agnostic, so the result
    is IDENTICAL to n_salt=1 (pinned in tests).
    """
    from pyspark.sql import functions as F

    did, soff, plon, plat = point_cols
    qid, qlon, qlat = query_cols
    geodesic_m = _dist_udf(a, f, metric)
    res = scale.knn_res(scale.parquet_stats(points_df)[0])

    pts = points_df.select(
        F.col(did).alias("doc_id"),
        F.col(soff).alias("span_offset"),
        F.col(plon).alias("p_lon"),
        F.col(plat).alias("p_lat"),
        cells.cell_col(F.col(plon), F.col(plat), res).alias("cell"),
    )
    join_keys = ["cell"]
    if n_salt > 1:
        pts = pts.withColumn(
            "salt", F.pmod(F.xxhash64("doc_id"), F.lit(n_salt)).cast("int"))
        join_keys = ["cell", "salt"]
    # repartition points by cell (and salt) once; reused across passes
    pts = pts.repartition(*join_keys).cache()

    remaining = queries_df.select(
        F.col(qid).alias("q_id"), F.col(qlon).alias("q_lon"), F.col(qlat).alias("q_lat")
    )
    results = None
    cell_h_deg = cells.cell_size_deg(res)[1]

    for cur_ring in range(1, max_ring + 1):
        q = remaining.withColumn(
            "cell",
            F.explode(
                cells.neighbors_col(
                    cells.cell_col(F.col("q_lon"), F.col("q_lat"), res), res, cur_ring
                )
            ),
        )
        if n_salt > 1:
            q = q.withColumn(
                "salt",
                F.explode(F.array(*[F.lit(i) for i in range(n_salt)])))
        topk = _ranked(q.join(pts, join_keys, "inner"), geodesic_m, k)
        # r8: materialize each round's top-k ONCE (it is tiny: <= k rows
        # per query).  Without the checkpoint the round's candidate join
        # + distance UDF + window re-executed from scratch for every
        # downstream action — the per-round isEmpty(), the next round's
        # anti-join lineage, and the caller's final action each replayed
        # the full join (measured ~3x redundant work at sf1).  Local
        # (non-replicated) checkpoint is the right durability trade for
        # a driver-side loop; the cached `pts` above already makes the
        # same call.
        topk = topk.localCheckpoint(eager=True)
        # guarantee: unexplored cells are at least `cur_ring * cell_h` of
        # latitude away OR the equivalent (cos-lat-shrunk) longitude span;
        # the latitude component alone gives a safe meters lower bound
        # scaled by cos for the east-west direction.
        # per-metric meters-per-degree LOWER bound: on the haversine
        # sphere the meridian arc is exactly R*pi/180 per degree
        m_per_deg = (HAVERSINE_R * 3.141592653589793 / 180.0
                     if metric == "haversine" else M_PER_DEG)
        guard = (
            F.lit(cur_ring * cell_h_deg * m_per_deg)
            * F.least(F.lit(1.0), F.cos(F.radians(F.col("q_lat"))))
        )
        agg = topk.groupBy("q_id", "q_lon", "q_lat").agg(
            F.count("*").alias("n_found"), F.max("dist_m").alias("kth_dist")
        )
        done_q = agg.where((F.col("n_found") >= k) & (F.col("kth_dist") <= guard))
        got = topk.join(done_q.select("q_id"), "q_id", "left_semi")
        results = got if results is None else results.unionByName(got)
        # tiny (query-count) frame: checkpoint so the next round's plan
        # does not re-derive it through this round's join
        remaining = remaining.join(done_q.select("q_id"), "q_id",
                                   "left_anti").localCheckpoint(eager=True)
        if remaining.isEmpty():
            break
    else:
        # brute force the stragglers (polar / sparse regions)
        bf_top = _ranked(remaining.crossJoin(
            pts.select("doc_id", "span_offset", "p_lon", "p_lat")),
            geodesic_m, k)
        results = bf_top if results is None else results.unionByName(bf_top)

    return results.select("q_id", "doc_id", "span_offset", "dist_m", "rank")


def knn_brute_force(points_df, queries_df, k: int = 10,
                    a: float = 6378137.0, f: float = 1 / 298.257222101,
                    metric: str = "karney"):
    """Reference implementation (cross join): the correctness oracle for
    knn_join at test scale.  Never use at production scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    geodesic_m = _dist_udf(a, f, metric)
    cand = queries_df.select(
        F.col("q_id"), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat")
    ).crossJoin(
        points_df.select(
            "doc_id", "span_offset",
            F.col("lon").alias("p_lon"), F.col("lat").alias("p_lat"),
        )
    )
    cand = cand.withColumn(
        "dist_m", geodesic_m(F.col("q_lon"), F.col("q_lat"), F.col("p_lon"), F.col("p_lat"))
    )
    w = Window.partitionBy("q_id").orderBy("dist_m", "doc_id", "span_offset")
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("q_id", "doc_id", "span_offset", "dist_m", "rank")
    )
