"""Driver plan-build cost (L1) per op of perfbench's workloads.

    python tools/measure_plan_build.py [--workload geo_docs_join ...]
        [--cycles 6] [--seed 111] [--scale 1.0]

Runs each workload as perfbench does (its inputs, its session, its warm
up and warm cycles; perfbench is imported, never changed), then N more
cycles.  Around each op of those cycles it measures:

- build_ms: the op's DataFrame build (the library calls that return it);
- rules: Catalyst rule runs during the build (RuleExecutor's meter);
- py4j: py4j commands the build sends (calls, reflections, imports; not
  the deletes Python sends whenever it collects a proxy);
- optimize_ms: the optimizer (``queryExecution().optimizedPlan()``);
- plan_ms: physical planning and its preparations
  (``executedPlan()``), after the optimizer.

The op then runs as perfbench runs it.  One JSON line per (workload, op)
with the medians over the N cycles, then one per workload with the
median of the per-cycle sums ("op": "cycle").
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "perfbench"))
sys.path.insert(0, REPO)

FIELDS = ("build_ms", "rules", "py4j", "optimize_ms", "plan_ms")


class Meter:
    """Wraps a workload's ``op`` so each build is measured before the op
    runs; records land in ``rows`` as (op name, {field: value})."""

    def __init__(self, wl):
        self.wl = wl
        self.rows: list = []
        self.on = False
        spark = wl.spark
        self.client = spark.sparkContext._gateway._gateway_client
        self.meter = (spark._jvm.org.apache.spark.sql.catalyst.rules
                      .RuleExecutor)
        self._op = wl.op
        wl.op = self.op

    def op(self, name, build, *args, **kwargs):
        if not self.on:
            return self._op(name, build, *args, **kwargs)

        def measured():
            counts = collections.Counter()
            send = self.client.send_command

            def counting(command, *a, **k):
                counts[command[0]] += 1
                return send(command, *a, **k)

            r0 = self.meter.getCurrentMetrics().numRuns()
            t0 = time.perf_counter()
            self.client.send_command = counting
            try:
                df = build()
            finally:
                del self.client.send_command
            t1 = time.perf_counter()
            rules = self.meter.getCurrentMetrics().numRuns() - r0
            row = {"build_ms": (t1 - t0) * 1e3, "rules": rules,
                   "py4j": counts["c"] + counts["r"] + counts["i"]}
            if df is not None:
                qe = df._jdf.queryExecution()
                t2 = time.perf_counter()
                qe.optimizedPlan()
                t3 = time.perf_counter()
                qe.executedPlan()
                row["optimize_ms"] = (t3 - t2) * 1e3
                row["plan_ms"] = (time.perf_counter() - t3) * 1e3
            self.rows.append((name, row))
            return df

        return self._op(name, measured, *args, **kwargs)


def measure(name: str, seed: int, scale: float, cycles: int) -> list:
    import inputs as I
    from harness import Tracer, box, make_spark, stop_spark
    from workloads import WORKLOADS

    bx = box()
    cls = WORKLOADS[name]
    extra = ()
    if name == "geo_docs_join":
        extra = (os.path.join(REPO, "proj_4_spark", "docs", "synth.py"),)
    gen = {"reproject_bulk": I.gen_bulk, "geo_docs_join": I.gen_docs}[name]
    cache = I.InputCache(name, seed, scale, extra)
    cache.build(lambda p: gen(p, seed, scale, bx["cpus"]))
    spark = make_spark(bx["cpus"], bx["mem_total_mb"])
    wl = cls(spark, Tracer(), seed, scale, bx["cpus"])
    try:
        wl.prepare(cache.path)
        meter = Meter(wl)
        wl.warm_up()
        for _ in range(wl.warm_cycles):
            wl.cycle()
        per_cycle = []
        for _ in range(cycles):
            meter.rows = []
            meter.on = True
            wl.cycle()
            meter.on = False
            per_cycle.append(meter.rows)
        failed = [r["err"] for r in wl.ops + wl.warm_ops if not r["ok"]]
    finally:
        wl.finish()
        stop_spark(spark)
    out = []
    names = list(dict.fromkeys(n for rows in per_cycle for n, _ in rows))
    for op in names:
        recs = [r for rows in per_cycle for n, r in rows if n == op]
        out.append({"workload": name, "op": op, "n": len(recs), **{
            f: statistics.median(r.get(f, 0.0) for r in recs)
            for f in FIELDS}})
    sums = [{f: sum(r.get(f, 0.0) for _, r in rows) for f in FIELDS}
            for rows in per_cycle]
    out.append({"workload": name, "op": "cycle", "n": len(sums), **{
        f: statistics.median(s[f] for s in sums) for f in FIELDS},
        "cpus": bx["cpus"], "seed": seed, "scale": scale,
        "git_sha": bx["git_sha"], "failed_ops": failed})
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", nargs="+",
                   default=["geo_docs_join", "reproject_bulk"],
                   choices=["geo_docs_join", "reproject_bulk"])
    p.add_argument("--cycles", type=int, default=6)
    p.add_argument("--seed", type=int, default=111)
    p.add_argument("--scale", type=float, default=1.0)
    args = p.parse_args(argv)
    for name in args.workload:
        for row in measure(name, args.seed, args.scale, args.cycles):
            print(json.dumps({k: round(v, 2) if isinstance(v, float) else v
                              for k, v in row.items()}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
