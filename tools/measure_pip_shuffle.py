"""Measure shuffle-write bytes of pip_join_cells before/after the r3
ring-reattach refactor (rings used to ship through the cell shuffle
duplicated once per covering cell).  Uses the local UI REST API for
per-stage shuffleWriteBytes.  Result recorded in PLANS.md.

    python tools/measure_pip_shuffle.py [--res 6 7]

prints one JSON line per cell resolution (default: 6 and 7), with the
exact shuffle-write bytes of both variants."""
import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
ap.add_argument("--res", type=int, nargs="+", default=[6, 7],
                help="cell resolutions to measure (default: 6 7)")
args = ap.parse_args()

spark = (SparkSession.builder.master(f"local[{len(os.sched_getaffinity(0))}]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.ui.enabled", "true")
         # the premise of pip_join_cells is a zone table too large to
         # broadcast — force real shuffle joins so the measurement
         # reflects that regime
         .config("spark.sql.autoBroadcastJoinThreshold", "-1")
         .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
app_id = spark.sparkContext.applicationId
ui = spark.sparkContext.uiWebUrl


def shuffle_write_bytes():
    with urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages") as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


# synthetic workload shaped like the verdict's hazard: few zones with
# LONG rings (1000 vertices) covering MANY cells, many points
import numpy as np

rng = np.random.default_rng(42)
n_zones, ring_len, n_pts = 40, 1000, 400_000
zrows = []
for z in range(n_zones):
    cx, cy = rng.uniform(-150, 150), rng.uniform(-60, 60)
    w, h = rng.uniform(10, 30), rng.uniform(8, 20)  # covers many res-6 cells
    t = np.linspace(0, 2 * np.pi, ring_len, endpoint=False)
    rx = cx + w / 2 * np.cos(t)
    ry = cy + h / 2 * np.sin(t)
    zrows.append((f"z{z:03d}",
                  [{"lon": float(a), "lat": float(b)} for a, b in zip(rx, ry)],
                  float(rx.min()), float(ry.min()), float(rx.max()), float(ry.max())))
zones = spark.createDataFrame(
    zrows, "zone_id string, ring array<struct<lon double, lat double>>, "
           "min_lon double, min_lat double, max_lon double, max_lat double")
# F.rand seeds each partition by its index: 8 fixed partitions give the
# same points on any core count (the points local[8] drew)
pts = spark.range(n_pts, numPartitions=8).select(
         F.col("id").alias("pt_id"),
         (F.rand(1) * 360 - 180).alias("lon"),
         (F.rand(2) * 180 - 90).alias("lat"))
pts.write.mode("overwrite").parquet("/tmp/pip_pts.parquet")
zones.write.mode("overwrite").parquet("/tmp/pip_zones.parquet")
pts = spark.read.parquet("/tmp/pip_pts.parquet")
zones = spark.read.parquet("/tmp/pip_zones.parquet")


def old_variant(points_df, zones_df, res=6):
    """r2 shape: rings ride the per-cell explode through the shuffle."""
    from pyspark.sql.functions import pandas_udf
    import pandas as pd
    from proj_4_spark.spatial.cells import cell_col
    from proj_4_spark.spatial.pip import _zone_cells_sql, point_in_ring_np

    zones_cells = zones_df.select(
        "zone_id",
        F.col("ring.lon").alias("ring_lon"), F.col("ring.lat").alias("ring_lat"),
        "min_lon", "min_lat", "max_lon", "max_lat",
        F.explode(F.expr(_zone_cells_sql(res))).alias("cell"))
    p = points_df.withColumn("cell", cell_col(F.col("lon"), F.col("lat"), res))
    cand = p.join(zones_cells, "cell", "inner").where(
        (F.col("lon") >= F.col("min_lon")) & (F.col("lon") <= F.col("max_lon"))
        & (F.col("lat") >= F.col("min_lat")) & (F.col("lat") <= F.col("max_lat")))

    @pandas_udf("boolean")
    def _exact(zid: pd.Series, px: pd.Series, py: pd.Series,
               rlon: pd.Series, rlat: pd.Series) -> pd.Series:
        n = len(px)
        out = np.zeros(n, dtype=bool)
        if n == 0:
            return pd.Series(out)
        pxv, pyv = px.to_numpy(float), py.to_numpy(float)
        df = pd.DataFrame({"i": np.arange(n), "k": zid.to_numpy()})
        for _, grp in df.groupby("k", sort=False):
            idx = grp["i"].to_numpy()
            out[idx] = point_in_ring_np(
                pxv[idx], pyv[idx],
                np.asarray(rlon.iloc[idx[0]], float),
                np.asarray(rlat.iloc[idx[0]], float))
        return pd.Series(out)

    return cand.where(_exact(F.col("zone_id"), F.col("lon"), F.col("lat"),
                             F.col("ring_lon"), F.col("ring_lat"))) \
               .select("pt_id", "zone_id")


from proj_4_spark.spatial.pip import pip_join_cells

for res in args.res:
    b0 = shuffle_write_bytes()
    n_old = old_variant(pts, zones, res=res).count()
    b1 = shuffle_write_bytes()
    n_new = pip_join_cells(pts, zones, res=res).select("pt_id", "zone_id").count()
    b2 = shuffle_write_bytes()

    old_bytes, new_bytes = b1 - b0, b2 - b1
    print(json.dumps({
        "res": res,
        "rows_old": n_old, "rows_new": n_new, "rows_equal": n_old == n_new,
        "shuffle_write_old_bytes": old_bytes,
        "shuffle_write_new_bytes": new_bytes,
        "reduction_x": round(old_bytes / max(new_bytes, 1), 1),
        "zones": n_zones, "ring_len": ring_len, "points": n_pts,
    }))
