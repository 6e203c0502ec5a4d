"""perfbench: the repository benchmark.

    python3 perfbench/run.py --workload reproject_bulk --seed 1 \
        --seconds 8 --trace 0

Runs one seeded workload on local[nproc] for ``--seconds`` seconds of
timed operations, checks every output against an independent path and
prints every end-to-end metric with its unit and sample count.  The last
line of standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``).  A full record of the run
(box, inputs, every op, spans) is written under ``.perfbench/runs``.

See perfbench/README.md for the workloads and metric definitions.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs as I  # noqa: E402
from harness import (HOTSPOT_JIT_LIMIT, StageReader, Tracer,  # noqa: E402
                     box, cpu_steal, latency_summary, make_spark,
                     reference_job, stop_spark, tree_rss_mb)

# the end-to-end metrics BENCHMARK.json names; *_ref are throughput and
# op_p50_s in units of the run's reference-job time (README, "Steadiness")
END_TO_END = {"setup_s": "s", "throughput_ref": "1/ref", "op_p50_ref": "ref",
              "peak_rss_mb": "MB"}
# every run times at least two whole cycles: a run that times one cycle
# and a run that times two (the second JIT-warmer) would not compare; a
# traced run needs one untraced and one traced cycle
MIN_CYCLES = 2
PER_LAYER = {
    "kernels.pts_per_s": "1/s", "plan.s": "s", "plan.calls": "count",
    "transform.build_s": "s", "transform.udf_routes": "count",
    "spark.plan_s": "s",
    "codegen.max_method_bytes": "bytes", "codegen.methods_over_8000": "count",
    "codegen.compile_failures": "count",
    "exec.s": "s", "exec.task_s": "s", "exec.max_task_s": "s",
    "exec.gc_s": "s", "exec.tasks": "count", "scan.bytes": "bytes",
    "scan.files": "count", "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "arrow.rows_to_python": "count", "arrow.bytes_to_python": "bytes",
    "arrow.bytes_from_python": "bytes", "arrow.python_s": "s",
    "docs.explode_s": "s",
    "knn.call_s": "s", "knn.jobs": "count", "knn.shuffle_bytes": "bytes",
    "pip.candidate_rows": "count", "pip.hit_ratio": "ratio",
    "cells.s": "s", "tiles.s": "s",
    "ann.build_s": "s", "ann.probe_s": "s",
    "ann.index_files_read_share": "ratio", "ann.candidate_rows": "count",
    "trace.overhead_s": "s", "trace.shortfall_s": "s",
}
OP_TIMEOUT_S = 60.0
# A layer no workload in BENCHMARK.json exercises is measured by a side
# pass of the workload that does, inside the traced run of a listed one:
# reproject_bulk's traced run carries ann_serving's functions layer
# (index builds, probes, recall).  A third listed workload would not fit
# the benchmark's time budget (README, "Time budget").
TRACED_SIDE = {"reproject_bulk": ("ann_serving", "ann.")}


def parse_args(argv=None):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (tests use a small one)")
    return p.parse_args(argv)


def check_checkout() -> None:
    """The benchmark measures the package in the checkout it sits in."""
    pkg = os.path.join(I.REPO, "proj_4_spark", "__init__.py")
    if not os.path.isfile(pkg):
        sys.exit(f"perfbench: no proj_4_spark package at {I.REPO}; run "
                 "from a checkout of the repository")
    sys.path.insert(0, I.REPO)


def generate(wl, args, cpus) -> tuple[str, dict]:
    """Inputs for (workload, seed, scale), generated or from the cache."""
    extra = ()
    if wl.name == "geo_docs_join":
        extra = (os.path.join(I.REPO, "proj_4_spark", "docs", "synth.py"),)
    cache = I.InputCache(wl.name, args.seed, args.scale, extra)
    gen = {"reproject_bulk": I.gen_bulk, "reproject_many_crs":
           I.gen_many_crs, "geo_docs_join": I.gen_docs,
           "ann_serving": I.gen_ann}[wl.name]
    meta = cache.build(lambda p: gen(p, args.seed, args.scale, cpus))
    return cache.path, meta


def timed_loop(wl, tracer, seconds: float, trace: bool):
    """Closed loop of whole cycles until the deadline, and at least
    MIN_CYCLES.  In a traced run every other cycle is traced, so the
    untraced cycles of the same run give the tracing overhead."""
    cycles = []
    refs = reference_job(wl.spark, wl.cpus, wl.reference)
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while True:
        tracer.on = trace and len(cycles) % 2 == 1
        c0, st0 = time.perf_counter(), cpu_steal()
        wl.cycle()
        st1 = cpu_steal()
        cycles.append({"s": time.perf_counter() - c0, "traced": tracer.on,
                       "steal": (st1[0] - st0[0]) / max(st1[1] - st0[1], 1)})
        tracer.on = False
        cycles[-1]["rss_mb"] = tree_rss_mb()
        r0 = time.perf_counter()
        cycles[-1]["ref_s"] = reference_job(wl.spark, wl.cpus, wl.reference)
        refs += cycles[-1]["ref_s"]
        # the reference job is not the workload's time
        ref_time = time.perf_counter() - r0
        deadline += ref_time
        t_start += ref_time
        if time.perf_counter() >= deadline and len(cycles) >= MIN_CYCLES:
            break
    return time.perf_counter() - t_start, cycles, refs


def end_to_end(wl, setup_s, write_s, wall_s, cycles, warm_rss_mb,
               refs) -> dict:
    timed = [r for r in wl.ops if r["phase"] == "timed"]
    units = sum(r["units"] for r in timed if r["ok"])
    lat = ([c["s"] for c in cycles] if wl.latency_of == "cycle"
           else [r["latency_s"] for r in timed])
    ls = latency_summary(lat)
    attempted = len(wl.ops)
    failed = sum(not r["ok"] for r in wl.ops)
    ref_s = statistics.median(refs)
    m = {
        "setup_s": {"value": setup_s, "unit": "s", "n": 1},
        "ref_s": {"value": ref_s, "unit": "s", "n": len(refs)},
        "cpu_steal_share": {"value": statistics.mean(
            c["steal"] for c in cycles), "unit": "ratio", "n": len(cycles)},
        "wall_s": {"value": wall_s, "unit": "s", "n": 1},
        "throughput": {"value": units / wall_s, "unit": "1/s",
                       "means": wl.unit, "n": len(timed)},
        "throughput_ref": {"value": units / wall_s * ref_s, "unit": "1/ref",
                           "means": f"{wl.unit[:-2]} per ref_s",
                           "n": len(timed)},
        "op_p50_s": {"value": ls["p50_s"], "unit": "s", "n": ls["n"],
                     "op": wl.latency_of},
        "op_p50_ref": {"value": ls["p50_s"] / ref_s, "unit": "ref",
                       "n": ls["n"], "means": "op_p50_s / ref_s"},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio",
                         "n": attempted},
        # over the same work in every run: after the warm-up and the first
        # MIN_CYCLES timed cycles (a faster run times more cycles)
        "peak_rss_mb": {"value": max([warm_rss_mb] + [
            c["rss_mb"] for c in cycles[:MIN_CYCLES]]), "unit": "MB",
            "n": 1 + MIN_CYCLES},
    }
    if "tail_s" in ls:
        m["op_tail_s"] = {"value": ls["tail_s"], "unit": "s", "n": ls["n"],
                          "percentile": ls["tail_pct"]}
    if write_s is not None:
        m["write_s"] = {"value": write_s, "unit": "s", "n": sum(
            r["phase"] == "write" for r in wl.ops)}
    if "recall_at_k" in wl.extra:
        for kind, v in wl.extra["recall_at_k"].items():
            m[f"recall_at_k.{kind}"] = {"value": v, "unit": "ratio",
                                        "n": len(wl.results[kind])}
    return m


def per_layer(wl, tracer, spark, cycles) -> dict:
    """Per-layer metrics of a traced run.  Time and count totals are per
    traced cycle, so runs of different length compare."""
    n_tc = sum(c["traced"] for c in cycles)
    wl.n_tc = n_tc
    wl.probe = wl.plan_probe()
    wl.stages = StageReader(spark).by_group()
    wl.trace_extras()
    traced = [r for r in wl.ops if r["traced"] and r["phase"] == "timed"]
    sums = wl.probe["sums"]
    groups = [wl.stages.get(wl.group(r["id"]), {}) for r in traced]

    def st(key):
        return sum(g.get(key, 0) for g in groups) / n_tc

    sizes = [s for r in wl.probe["routes"].values()
             for s in r["codegen_sizes"]]
    transform_ops = {op for name, _, _, _, op in tracer.spans
                     if name in ("engine.spark.transform",
                                 "engine.altops.alt_transform")}
    udf_ops = sum(1 for r in traced if r["id"] in transform_ops
                  and wl.probe["per_op"].get(r["id"], {}).get("py_nodes"))
    untraced = [c["s"] for c in cycles if not c["traced"]]
    traced_c = [c["s"] for c in cycles if c["traced"]]
    layer = {
        "transform.build_s": (tracer.total("engine.spark.transform")
                              + tracer.total("engine.altops.alt_transform"))
        / n_tc,
        "transform.udf_routes": udf_ops / n_tc,
        "spark.plan_s": tracer.total("spark.plan") / n_tc,
        "codegen.max_method_bytes": max(sizes, default=0),
        "codegen.methods_over_8000": sum(s > HOTSPOT_JIT_LIMIT
                                         for s in sizes),
        "codegen.compile_failures": sum(s == -1 for s in sizes),
        "exec.s": tracer.total("spark.exec") / n_tc,
        "exec.task_s": st("task_s"),
        "exec.max_task_s": max((g.get("max_task_s", 0.0) for g in groups),
                               default=0.0),
        "exec.gc_s": st("gc_s"),
        "exec.tasks": st("tasks"),
        "scan.bytes": st("scan_bytes"),
        "scan.files": sums["scan_files"] / n_tc,
        "shuffle.write_bytes": st("shuffle_write_bytes"),
        "spill.bytes": st("spill_bytes"),
        "arrow.rows_to_python": sums["rows_to_python"] / n_tc,
        "arrow.bytes_to_python": sums["bytes_to_python"] / n_tc,
        "arrow.bytes_from_python": sums["bytes_from_python"] / n_tc,
        "arrow.python_s": sums["python_ms"] / 1e3 / n_tc,
        "ann.build_s": (tracer.total("functions.ann.build_lsh_index")
                        + tracer.total("functions.ann.build_ivf_index")),
        "ann.probe_s": sum(r["latency_s"] for r in traced
                           if r["name"] in ("lsh", "ivf")) / n_tc,
        "trace.overhead_s": (statistics.mean(traced_c)
                             - statistics.mean(untraced)),
        "trace.shortfall_s": sum(o["shortfall_s"] for o in tracer.op_rows()
                                 if o["op"] in {r["id"] for r in traced})
        / n_tc,
    }
    layer.update(wl.layer)
    return {k: float(layer.get(k, 0.0)) for k in PER_LAYER}


def print_report(wl, ops, args, bx, gen_meta, e2e, layers, tracer):
    p = print
    p(f"perfbench {wl.name} seed={args.seed} seconds={args.seconds:g} "
      f"trace={args.trace} scale={args.scale:g}")
    p(f"  box: cpus={bx['cpus']} mem_total_mb={bx['mem_total_mb']} "
      f"git_sha={bx['git_sha']}")
    p(f"  inputs: " + ", ".join(f"{k}={v}" for k, v in gen_meta.items()))
    p(f"  {'metric':<24}{'value':>16}  {'unit':<10}{'n':>6}  note")
    for k, m in e2e.items():
        note = m.get("means", "") or (
            f"p{m['percentile']:g}" if "percentile" in m else "")
        if k == "op_p50_s":
            note = f"per {m['op']}"
        if k == "setup_s":
            note = ", ".join(f"{a}={b:.2f}" for a, b in m["parts"].items())
        p(f"  {k:<24}{m['value']:>16.6g}  {m['unit']:<10}{m['n']:>6}  "
          f"{note}")
    if "op_tail_s" not in e2e:
        p("  op_tail_s: fewer than 20 samples, so no percentile from p50 up "
          "has ten beyond it")
    for rec in ops:
        if not rec["ok"]:
            p(f"  FAILED op {rec['id']} {rec['name']}: {rec['err']}")
    for k, v in wl.extra.items():
        p(f"  {k}: {json.dumps(v, default=str)}")
    if layers is not None:
        p("  per-layer (per traced cycle):")
        for k, v in layers.items():
            p(f"    {k:<30}{v:>16.6g}  {PER_LAYER[k]}")
        p("  self time by span (s, all traced cycles):")
        for k, v in sorted(tracer.self_times().items(),
                           key=lambda kv: -kv[1]):
            p(f"    {k:<44}{v:>10.4f}")
        p("  per op: wall, layers' self time, shortfall (s):")
        for o in tracer.op_rows():
            p(f"    op {o['op']:<5}{o['name']:<16}{o['wall_s']:>9.4f}"
              f"{sum(o['layers_s'].values()):>9.4f}{o['shortfall_s']:>9.4f}")


def exercise(wl, path, tracer, seconds: float, trace: bool) -> dict:
    """Prepare, write, warm up, time and check one workload in the running
    session."""
    wl.prepare(path)
    # write operations (ann_serving's index builds) come first: the
    # warm-up probes need the indexes
    tracer.on = trace
    wl.phase = "write"
    w0 = time.perf_counter()
    wl.write()
    out = {"write_s": time.perf_counter() - w0}
    tracer.on = False
    wl.phase = "warm"
    w1 = time.perf_counter()
    wl.warm_up()
    # whole cycles at full size before timing: the JIT keeps compiling
    # through the first ones (see Workload.warm_cycles)
    for _ in range(wl.warm_cycles):
        wl.cycle()
    out["warm_end"] = time.perf_counter()
    out["warm_s"] = out["warm_end"] - w1
    out["warm_rss_mb"] = tree_rss_mb()

    wl.phase = "timed"
    out["wall_s"], out["cycles"], out["refs"] = timed_loop(
        wl, tracer, seconds, trace)
    wl.phase = "warm"
    for rec in wl.ops:
        if rec["latency_s"] > OP_TIMEOUT_S:
            wl.fail(rec, f"timeout: {rec['latency_s']:.1f} s")
    wl.check()
    return out


def side_pass(wl, args, cpus, spark, layers) -> list:
    """The traced side pass of ``wl`` (TRACED_SIDE): the side workload
    runs two cycles, the second traced, in the same session, and its
    per-layer metrics under the prefix replace the (zero) ones of ``wl``.
    Returns the side workload's ops, which count as attempted."""
    from workloads import WORKLOADS

    name, prefix = TRACED_SIDE[wl.name]
    side_cls = WORKLOADS[name]
    path, meta = generate(side_cls, args, cpus)
    tracer = Tracer()
    side = side_cls(spark, tracer, args.seed, args.scale, cpus)
    try:
        r = exercise(side, path, tracer, 0.0, True)
        side_layers = per_layer(side, tracer, spark, r["cycles"])
    finally:
        side.finish()
    layers.update({k: v for k, v in side_layers.items()
                   if k.startswith(prefix)})
    wl.extra[f"side {name}"] = dict(side.extra, inputs=meta,
                                    write_s=r["write_s"])
    return side.ops


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    from workloads import WORKLOADS

    bx = box()
    cpus = bx["cpus"]
    g0 = time.perf_counter()
    path, gen_meta = generate(WORKLOADS[args.workload], args, cpus)
    gen_s = time.perf_counter() - g0
    tracer = Tracer()
    spark = make_spark(cpus, bx["mem_total_mb"])
    session_s = time.perf_counter() - T0 - gen_s
    wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.scale, cpus)
    side_ops: list = []
    try:
        r = exercise(wl, path, tracer, args.seconds, bool(args.trace))
        cycles, warm_s = r["cycles"], r["warm_s"]
        setup_s = r["warm_end"] - T0 - gen_s - r["write_s"]
        write_s = (r["write_s"] if any(rec["phase"] == "write"
                                       for rec in wl.ops) else None)
        e2e = end_to_end(wl, setup_s, write_s, r["wall_s"], cycles,
                         r["warm_rss_mb"], r["refs"])
        layers = None
        if args.trace:
            layers = per_layer(wl, tracer, spark, cycles)
            if wl.name in TRACED_SIDE:
                side_ops = side_pass(wl, args, cpus, spark, layers)
    finally:
        wl.finish()
        stop_spark(spark)

    gen_meta = dict(gen_meta, gen_s_this_run=round(gen_s, 3))
    e2e["setup_s"]["parts"] = {"session_s": session_s, "warm_up_s": warm_s}
    all_ops = wl.ops + side_ops
    print_report(wl, all_ops, args, bx, gen_meta, e2e, layers, tracer)
    failed = sum(not r["ok"] for r in all_ops)
    record = {"workload": wl.name, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "scale": args.scale, "box": bx, "inputs": gen_meta,
              "end_to_end": e2e, "per_layer": layers, "cycles": cycles,
              "ops": all_ops, "warm_ops": wl.warm_ops, "extra": wl.extra,
              "spans": tracer.spans if args.trace else None,
              "op_rows": tracer.op_rows() if args.trace else None}
    runs = os.path.join(I.STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    with open(os.path.join(runs, f"{wl.name}-s{args.seed}-t{args.trace}-"
                           f"{int(time.time())}.json"), "w") as fh:
        json.dump(record, fh, default=str)
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in layers.items()}
    else:
        metrics = {k: {"value": e2e[k]["value"], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(all_ops),
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
