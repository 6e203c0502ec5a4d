"""Measured hot-cell skew-salting evidence (VERDICT r3 #6).

Fixture: 2M points with 80% in ONE city cell, the rest uniform over the
globe.  Three workloads, salted vs unsalted, AQE off and broadcast off
so the plans show the raw shuffle regime a 1000-executor cluster sees:

1. distinct doc_ids per cell  — plain groupBy(cell).agg(countDistinct)
   shuffles every (cell, doc_id) pair of the hot cell to ONE reducer;
   the salted two-phase variant (salt = hash(doc_id) % n, distinct
   within salt groups is exact because salts partition doc_ids) spreads
   it over n_salt reducers.
2. shuffle join points x per-cell dim — unsalted hash join sends the
   hot cell's 1.6M rows to one task; salted replicates the dim row
   per salt and joins on (cell, salt).
3. cell-partitioned kNN — knn_join(n_salt=16) vs n_salt=1 on the same
   hot fixture (salted output pinned identical in tests).

Reports wall time, MAX task duration, and shuffle-write bytes per
variant from the local UI REST API.  Results table goes to
BENCH/BASELINE.md.
"""
import json
import sys
import time
import urllib.request

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "16")
         .config("spark.ui.enabled", "true")
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.autoBroadcastJoinThreshold", "-1")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
app_id = spark.sparkContext.applicationId
ui = spark.sparkContext.uiWebUrl


def stage_stats():
    with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete") as r:
        stages = json.load(r)
    ids = {s["stageId"] for s in stages}
    swb = sum(s.get("shuffleWriteBytes", 0) for s in stages)
    return ids, swb, 0


def measure(name, fn):
    ids0, swb0, _ = stage_stats()
    t0 = time.time()
    n = fn()
    wall = time.time() - t0
    ids1, swb1, _ = stage_stats()
    # max task across ONLY the new stages
    with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app_id}/stages?status=complete") as r:
        stages = json.load(r)
    max_task = 0.0
    for s in stages:
        if s["stageId"] in ids1 - ids0:
            try:
                with urllib.request.urlopen(
                        f"{ui}/api/v1/applications/{app_id}/stages/"
                        f"{s['stageId']}/{s['attemptId']}/taskSummary"
                        f"?quantiles=1.0") as r:
                    q = json.load(r)
                max_task = max(max_task, q["duration"][0])
            except Exception:
                pass
    print(f"{name:34s} wall={wall:6.2f}s  max_task={max_task/1000:6.2f}s  "
          f"shuffle_write={(swb1-swb0)/1e6:8.1f} MB  rows={n}")
    return wall, max_task / 1000, (swb1 - swb0) / 1e6


# ---------------------------------------------------------------- fixture
N = 1_000_000
pts = (spark.range(0, N).select(
    F.concat(F.lit("d-"), F.col("id")).alias("doc_id"),
    F.when(F.col("id") % 5 < 4, 2.3 + (F.col("id") % 89) / 1e4)
     .otherwise((F.col("id") * 7919 % 360000) / 1000.0 - 180.0).alias("lon"),
    F.when(F.col("id") % 5 < 4, 48.8 + (F.col("id") % 97) / 1e4)
     .otherwise((F.col("id") * 104729 % 170000) / 1000.0 - 85.0).alias("lat"),
))
pts.write.mode("overwrite").parquet("/tmp/skew_pts.parquet")
pts = spark.read.parquet("/tmp/skew_pts.parquet")

from proj_4_spark.spatial import cells
from proj_4_spark.spatial.salting import salt_col

pts = pts.withColumn("cell", cells.cell_col(F.col("lon"), F.col("lat"), 5))
pts = pts.cache()
n_cells = pts.select("cell").distinct().count()
hot = pts.groupBy("cell").count().orderBy(F.desc("count")).first()
print(f"fixture: {N} pts, {n_cells} cells, hottest cell holds {hot['count']}"
      f" ({hot['count']/N:.0%})")

N_SALT = 16

# ------------------------------------------------ 1. distinct per cell
def plain_distinct():
    return (pts.groupBy("cell").agg(F.countDistinct("doc_id").alias("n"))
            .count())


def salted_distinct():
    # salts partition doc_ids (salt = hash(doc_id) % n), so per-salt
    # distinct counts are disjoint and SUM to the exact answer
    s = pts.withColumn("salt", salt_col("doc_id", N_SALT))
    p = s.groupBy("cell", "salt").agg(F.countDistinct("doc_id").alias("pn"))
    return p.groupBy("cell").agg(F.sum("pn").alias("n")).count()


# ------------------------------------------------ 2. skewed shuffle join
dim = (pts.select("cell").distinct()
       .withColumn("w", F.xxhash64("cell") % 1000))
dim.write.mode("overwrite").parquet("/tmp/skew_dim.parquet")
dim = spark.read.parquet("/tmp/skew_dim.parquet")


def plain_join():
    j = pts.join(dim, "cell").select(F.sum(F.col("w")).alias("s"))
    return j.collect()[0]["s"]


def salted_join():
    s = pts.withColumn("salt", salt_col("doc_id", N_SALT))
    d = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(N_SALT)])))
    j = s.join(d, ["cell", "salt"]).select(F.sum(F.col("w")).alias("s"))
    return j.collect()[0]["s"]


# ------------------------------------------------ 3. hot-cell kNN
from proj_4_spark.spatial.knn import knn_join

kpts = pts.select("doc_id", F.lit(0).alias("span_offset"), "lon", "lat")
queries = (spark.range(0, 16).select(
    F.concat(F.lit("q-"), F.col("id")).alias("q_id"),
    (2.3 + (F.col("id") % 89) / 1e4).alias("lon"),
    (48.8 + (F.col("id") % 97) / 1e4).alias("lat")))


def knn_plain():
    return knn_join(kpts, queries, k=5,
                    metric="haversine").count()


def knn_salted():
    return knn_join(kpts, queries, k=5,
                    metric="haversine", n_salt=N_SALT).count()


rows = []
for name, fn in [("groupBy distinct/cell  UNSALTED", plain_distinct),
                 ("groupBy distinct/cell  salted16", salted_distinct),
                 ("shuffle join x dim     UNSALTED", plain_join),
                 ("shuffle join x dim     salted16", salted_join),
                 ("hot-cell kNN           UNSALTED", knn_plain),
                 ("hot-cell kNN           salted16", knn_salted)]:
    rows.append((name, *measure(name, fn)))

print("\n| workload | variant | wall s | max-task s | shuffle MB |")
print("|---|---|---|---|---|")
for name, wall, mt, swb in rows:
    wl, var = name.rsplit(" ", 1)
    print(f"| {wl.strip()} | {var} | {wall:.2f} | {mt:.2f} | {swb:.1f} |")
spark.stop()
