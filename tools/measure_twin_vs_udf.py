"""Forward throughput of the Catalyst twin against the Arrow UDF.

    python tools/measure_twin_vs_udf.py [--rows 4000000] [--runs 5]
        [--cores 4] [--max-nodes N] PROJSTRING ...

For each proj-string whose forward has a twin, runs `transform()` (the
twin) and the Arrow-UDF path of the same operation over one cached
frame of `--rows` seeded points (lon in [-170, 170), lat in [-80, 80)),
each written to Spark's noop sink, alternating twin and UDF `--runs`
times after one warm run of each.  Prints one line per proj-string:
the traced kernel's DAG node count, the median Mpts/s of each path,
their ratio (twin / UDF) and the maxMethodCodeSize of each codegen
region of the twin.  `trace.MAX_NODES` is set from where the ratio
falls to 1: to re-measure it, run the largest traced kernels with
`--max-nodes` above their node counts (it replaces the bound for this
run).  Worker processes import the package from this checkout
(PYTHONPATH is set for them).
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (REPO, os.environ.get("PYTHONPATH")) if p)


def _sizes(spark, df):
    pkg = getattr(spark._jvm.org.apache.spark.sql.execution.debug,
                  "package$")
    code = getattr(pkg, "MODULE$").codegenString(
        df._jdf.queryExecution().executedPlan())
    return [int(m) for m in re.findall(r"maxMethodCodeSize:(-?\d+)", code)]


def _run(df):
    t = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("projstrings", nargs="+")
    ap.add_argument("--rows", type=int, default=4_000_000)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--max-nodes", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master(f"local[{args.cores}]")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    from proj_4_spark.engine import trace
    if args.max_nodes is not None:
        trace.MAX_NODES = args.max_nodes
    from proj_4_spark.engine.spark import (_cached_operation, _direction,
                                           _traced_fwd, _udf_apply,
                                           transform)

    df = spark.range(0, args.rows, numPartitions=args.cores).select(
        ((F.col("id") * 7919 % 340000) / 1000.0 - 170.0).alias("lon"),
        ((F.col("id") * 104729 % 160000) / 1000.0 - 80.0).alias("lat"))
    df = df.cache()
    df.count()
    for ps in args.projstrings:
        op = _cached_operation(ps)
        twin = transform(df, ps, x="lon", y="lat")
        plan = twin._jdf.queryExecution().executedPlan().toString()
        if "EvalPython" in plan:
            print(f"{ps}: no forward twin", flush=True)
            continue
        kernel = _traced_fwd(op.P)
        nodes = "-" if kernel is None else sum(
            1 for i in trace._reachable(kernel.nodes, (kernel.x, kernel.y))
            if kernel.nodes[i][0] not in ("in", "lit"))
        udf = _udf_apply(df, op, ps, _direction("fwd"), "lon", "lat", None,
                         None, True, "")
        _run(twin), _run(udf)
        tt, tu = [], []
        for _ in range(args.runs):
            tt.append(_run(twin))
            tu.append(_run(udf))
        a, b = statistics.median(tt), statistics.median(tu)
        print(f"{ps}\tnodes {nodes}\ttwin {args.rows / a / 1e6:.2f} Mpts/s"
              f"\tudf {args.rows / b / 1e6:.2f} Mpts/s\ttwin/udf {b / a:.2f}"
              f"\tregions {_sizes(spark, twin)}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
