"""Production-width ANN bench (dim=768, 64 planes / 64 IVF centroids):
throughput of the sequential-order Arrow kernels behind signature_col /
centroid_dots_col, and the plan size they keep (the matrices live in
the UDF closure, not in the plan).  Prints one JSON line for
BENCH/BASELINE.md."""
import json
import sys
import time

import numpy as np

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

DIM, N_PLANES, N_CENTS, N = 768, 64, 64, 200_000

spark = (SparkSession.builder.master("local[32]")
         .config("spark.sql.shuffle.partitions", "64")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
         .config("spark.driver.memory", "16g")
         .config("spark.ui.enabled", "false")
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")

# generate embeddings executor-side (no driver materialization)
import pandas as pd
from pyspark.sql.functions import pandas_udf


@pandas_udf("array<float>")
def _emb(ids: pd.Series) -> pd.Series:
    rng = np.random.Generator(np.random.PCG64(int(ids.iloc[0]) if len(ids) else 0))
    return pd.Series(list(rng.standard_normal((len(ids), DIM)).astype(np.float32)))


emb = (spark.range(N).repartition(64)
       .select(F.col("id").alias("vec_id"), _emb(F.col("id")).alias("embedding"))
       .cache())
emb.count()

from proj_4_spark.functions import similarity as S

planes = S._hyperplanes(DIM, N_PLANES, 42)
cents = S._ivf_centroids(DIM, N_CENTS, 42)

out = {"dim": DIM, "n_planes": N_PLANES, "n_centroids": N_CENTS, "rows": N}

# plan size: the Arrow kernel keeps the Catalyst tree O(1) in the
# matrix (a literal-expression plan at this width would need
# n_planes*dim = 49k float literals before codegen even starts)
sig_df = emb.select(S.signature_col(F.col("embedding"), planes).alias("b"))
plan = sig_df._jdf.queryExecution().optimizedPlan().toString()
out["plan_chars_pandas_path"] = len(plan)
out["plan_embeds_matrix"] = plan.count("0.") > 500

sig_best = None
for _ in range(3):
    t0 = time.perf_counter()
    sig_df.selectExpr("count(distinct b)").collect()
    dt = time.perf_counter() - t0
    sig_best = dt if sig_best is None else min(sig_best, dt)
out["lsh_signature_sec"] = round(sig_best, 3)
out["lsh_signature_vecs_per_sec"] = round(N / sig_best, 0)

ivf_df = (emb.select(S.centroid_dots_col(F.col("embedding"), cents).alias("cd"))
          .select((F.array_position(F.col("cd"), F.array_max(F.col("cd")))
                   .cast("int") - 1).alias("list_id")))
ivf_best = None
for _ in range(3):
    t0 = time.perf_counter()
    ivf_df.groupBy("list_id").count().collect()
    dt = time.perf_counter() - t0
    ivf_best = dt if ivf_best is None else min(ivf_best, dt)
out["ivf_assign_sec"] = round(ivf_best, 3)
out["ivf_assign_vecs_per_sec"] = round(N / ivf_best, 0)

print(json.dumps(out))
spark.stop()
