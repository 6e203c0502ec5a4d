"""Session, timing, tracing and Spark-counter helpers shared by the
workloads.

Load shape: one client in a closed loop.  The client issues one
operation, waits for its result, then issues the next; no extra threads
or connections are used.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import time
import urllib.request
from contextlib import contextmanager

from inputs import REPO, STATE

# Python-eval nodes: a plan holding one of these sends rows across the
# Arrow boundary to a Python worker
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInArrow",
            "MapInPandas", "FlatMapGroupsInPandas", "AggregateInPandas",
            "PythonMapInArrow", "WindowInPandas")
HOTSPOT_JIT_LIMIT = 8000   # bytecodes; larger methods run interpreted


# ---------------------------------------------------------------- box

def box() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(ln.split()[1]) for ln in fh
                      if ln.startswith("MemTotal:"))
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                             capture_output=True, text=True, timeout=10
                             ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        sha = "unknown"
    return {"cpus": cpus, "mem_total_mb": mem_kb // 1024, "git_sha": sha}


def driver_memory_mb(mem_total_mb: int) -> int:
    """An eighth of the box, between 1 and 4 GiB: the JVM shares the box
    with the Python workers and with other processes."""
    return max(1024, min(4096, mem_total_mb // 8))


def make_spark(cpus: int, mem_total_mb: int):
    """local[cpus] session whose scratch files stay inside the checkout
    and whose Python workers can import the package from the checkout."""
    local = os.path.join(STATE, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    # SPARK_LOCAL_DIRS, when set, would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_memory_mb(mem_total_mb)}m")
        # -Xmn: a fixed young generation, so the JVM's footprint does not
        # follow G1's pause-time heuristics (README, "Session and load
        # shape"); -XX:-UsePerfData: no perf-data file outside the checkout
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={local} -Xmn384m -XX:-UsePerfData")
        .config("spark.local.dir", local)
        .config("spark.sql.warehouse.dir",
                os.path.join(STATE, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cpus))
        # same batch size as bench.make_spark: larger Arrow batches
        # amortise the Python-worker round trip
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # the UI's REST API serves per-stage task metrics to the traced
        # run; it stays on in both modes so they run the same session
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (Python workers end with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ------------------------------------------------------------ memory

def tree_rss_mb() -> float:
    """RSS of this process and all its descendants (JVM, Python
    workers), read from /proc."""
    pages: dict = {}
    children: dict = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{pid}/statm") as fh:
                pages[int(pid)] = int(fh.read().split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(pid))
    total, todo = 0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += pages.get(p, 0)
        todo.extend(children.get(p, ()))
    return total * os.sysconf("SC_PAGE_SIZE") / 2**20


# Package-free Spark jobs of the two shapes the workloads have, timed
# between cycles (README, "Steadiness")
REFERENCE_JOBS = {
    # wide CPU-bound stages: a projection summed over 20 M rows
    "scan": lambda spark, cpus: spark.range(
        0, 20_000_000, numPartitions=2 * cpus).selectExpr(
        "sum(sqrt(id) * sin(id))"),
    # a small job with a shuffle: a projection over 3 M rows, then a
    # 1,000-key aggregate
    "shuffle": lambda spark, cpus: spark.range(
        0, 3_000_000, numPartitions=2 * cpus).selectExpr(
        "id % 1000 AS k", "sqrt(id) * sin(id) AS v").groupBy("k").sum("v"),
}


def reference_job(spark, cpus: int, shape: str) -> list:
    """Seconds of three runs of the reference job of ``shape`` on 2 x
    nproc partitions: how fast the shared machine runs that kind of work
    right now."""
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        REFERENCE_JOBS[shape](spark, cpus).collect()
        times.append(time.perf_counter() - t0)
    return times


def cpu_steal() -> tuple:
    """(steal, total) jiffies of the whole machine from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return v[7], sum(v[:8])


# ------------------------------------------------------------ tracing

class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory.  With
    tracing off, ``span`` records nothing."""

    def __init__(self):
        self.on = False
        self.spans: list = []
        self._stack: list = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.op])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def _child_time(self) -> list:
        """Per span: the time its direct child spans cover."""
        child = [0.0] * len(self.spans)
        for _, t0, t1, parent, _ in self.spans:
            if parent is not None:
                child[parent] += t1 - t0
        return child

    def self_times(self) -> dict:
        """Per span name: total self time (duration minus the part its
        child spans cover)."""
        child = self._child_time()
        out: dict = {}
        for i, (name, t0, t1, _, _) in enumerate(self.spans):
            out[name] = out.get(name, 0.0) + (t1 - t0 - child[i])
        return out

    def total(self, name: str) -> float:
        return sum(t1 - t0 for n, t0, t1, _, _ in self.spans if n == name)

    def op_rows(self) -> list:
        """One row per traced op: wall time, self time per layer and the
        shortfall (op wall minus the layers' time, i.e. time spent in
        the benchmark's own code between layer calls)."""
        rows = []
        child = self._child_time()
        for i, (name, t0, t1, parent, op) in enumerate(self.spans):
            if parent is not None or not name.startswith("op:"):
                continue
            layers: dict = {}
            for j, (n2, s0, s1, _, op2) in enumerate(self.spans):
                if op2 == op and j != i:
                    layers[n2] = layers.get(n2, 0.0) + (s1 - s0 - child[j])
            rows.append({"op": op, "name": name[3:], "wall_s": t1 - t0,
                         "layers_s": layers,
                         "shortfall_s": t1 - t0 - child[i]})
        return rows


# --------------------------------------------------------- statistics

def percentile(values, q: float) -> float:
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def tail_percentile(n: int):
    """The highest of p99.9, p99, p95, p90, p80, p75 and p50 with at
    least ten samples beyond it, or None when there are too few."""
    # percentiles in tenths, so the comparison is exact integer arithmetic
    for p10 in (999, 990, 950, 900, 800, 750, 500):
        if n * (1000 - p10) >= 10_000:
            return p10 / 10
    return None


def latency_summary(lat: list) -> dict:
    out = {"n": len(lat), "p50_s": statistics.median(lat)}
    p = tail_percentile(len(lat))
    if p is not None:
        out["tail_pct"] = p
        out["tail_s"] = percentile(lat, p / 100)
    return out


# ------------------------------------------------- Spark plan probes

def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


def plan_nodes(plan):
    """Every node of an executed plan, looking through adaptive and
    query-stage wrappers."""
    todo = [plan]
    while todo:
        n = todo.pop()
        name = n.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            todo.append(n.executedPlan())
            continue
        if "QueryStage" in name:
            todo.append(n.plan())
            continue
        if name == "ReusedExchange":
            todo.append(n.child())
            continue
        yield n
        todo.extend(_jiter(n.children()))


def node_metrics(node) -> dict:
    return {kv._1(): kv._2().value() for kv in _jiter(node.metrics())}


def plan_counters(plan) -> dict:
    """SQL metrics summed over a plan: Arrow-boundary traffic, rows
    entering Python, files scanned."""
    c = {"py_nodes": 0, "rows_to_python": 0, "rows_from_python": 0,
         "bytes_to_python": 0, "bytes_from_python": 0, "python_ms": 0,
         "scan_files": 0}
    for n in plan_nodes(plan):
        name = n.nodeName()
        m = node_metrics(n)
        if name.startswith("Scan"):
            c["scan_files"] += m.get("numFiles", 0) + m.get(
                "number of files read", 0)
        if not any(name.startswith(p) for p in PY_NODES):
            continue
        c["py_nodes"] += 1
        c["bytes_to_python"] += m.get("pythonDataSent", 0)
        c["bytes_from_python"] += m.get("pythonDataReceived", 0)
        c["rows_from_python"] += m.get("pythonNumRowsReceived", 0)
        c["python_ms"] += m.get("pythonTotalTime", 0)
        # rows sent: output of the nearest descendant that counts rows
        for ch in _jiter(n.children()):
            rows = next((m2["numOutputRows"] for m2 in map(
                node_metrics, plan_nodes(ch)) if "numOutputRows" in m2), 0)
            c["rows_to_python"] += rows
    return c


def codegen_sizes(spark, plan) -> list:
    """maxMethodCodeSize of every whole-stage-codegen subtree (-1 marks a
    failed compile, i.e. an interpreted fallback), by the debug-package
    call tests/test_plans.py uses."""
    pkg = getattr(spark._jvm.org.apache.spark.sql.execution.debug,
                  "package$")
    code = getattr(pkg, "MODULE$").codegenString(plan)
    return [int(m) for m in re.findall(r"maxMethodCodeSize:(-?\d+)", code)]


class StageReader:
    """Per-job-group stage counters from the local UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def by_group(self) -> dict:
        from py4j.protocol import Py4JError

        # the UI learns of finished stages through the listener bus
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:
            time.sleep(1.0)
        jobs = self._get("/jobs")
        stages = {(s["stageId"], s["attemptId"]): s
                  for s in self._get("/stages")}
        out: dict = {}
        for j in jobs:
            g = j.get("jobGroup")
            if not g:
                continue
            agg = out.setdefault(g, {
                "jobs": 0, "stages": 0, "task_s": 0.0, "max_task_s": 0.0,
                "gc_s": 0.0, "tasks": 0, "scan_bytes": 0,
                "shuffle_write_bytes": 0, "spill_bytes": 0})
            agg["jobs"] += 1
            for sid in j["stageIds"]:
                for (s_id, att), s in stages.items():
                    if s_id != sid or s["status"] != "COMPLETE":
                        continue
                    agg["stages"] += 1
                    agg["task_s"] += s["executorRunTime"] / 1e3
                    agg["gc_s"] += s["jvmGcTime"] / 1e3
                    agg["tasks"] += s["numCompleteTasks"]
                    agg["scan_bytes"] += s["inputBytes"]
                    agg["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                    agg["spill_bytes"] += (s["memoryBytesSpilled"]
                                           + s["diskBytesSpilled"])
                    q = self._get(f"/stages/{s_id}/{att}/taskSummary"
                                  "?quantiles=1.0")
                    agg["max_task_s"] = max(agg["max_task_s"],
                                            q["executorRunTime"][0] / 1e3)
        return out
