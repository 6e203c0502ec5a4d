"""The workloads (BENCHMARK.json lists the ones it runs; the others stay
runnable by name, see README.md).

Each workload issues its operations through ``Workload.op`` (one at a
time, each fully materialised) and groups them into cycles: a cycle is
the smallest repeating set of operations, and the timed loop always
ends on a cycle boundary so every run measures the same mix.

Why each workload exists:

- reproject_bulk: execution dominates (kernels, whole-stage codegen,
  the Arrow boundary); plan-build changes should barely move it.
- reproject_many_crs: execution is tiny; parsing, route gating, SQL
  emission, Catalyst planning and codegen compile dominate.  Plan and
  route caches show here and hardly at all in reproject_bulk.
- geo_docs_join: the document pipeline with exchanges, joins, the
  distance and ray-test UDFs and hot-cell skew; transform is a small
  share.
- ann_serving: the only workload where similarity/ann_index carries the
  work; index builds sit beside probes and recall.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import time
from collections import Counter

import numpy as np

import inputs as I
from harness import StageReader, codegen_sizes, plan_counters

D2R = np.pi / 180.0
R2D = 180.0 / np.pi
RTOL = 1e-10


class Workload:
    name = ""
    unit = ""
    # "op": the unit operation's latency is each op's; "cycle": a whole
    # cycle is the unit operation (heterogeneous ops)
    latency_of = "op"
    # whole cycles run after warm_up() and before timing
    warm_cycles = 1
    # shape of the reference job timed between cycles (harness.
    # REFERENCE_JOBS): the one whose speed follows the workload's when
    # the shared machine slows down
    reference = "shuffle"

    def __init__(self, spark, tracer, seed: int, scale: float, cpus: int):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.scale = scale
        self.cpus = cpus
        self.ops: list = []          # one dict per write or timed op
        self.warm_ops: list = []     # warm-up and check ops
        self.traced_ops: list = []   # (op record, plan) of traced ops
        self.n_op = 0
        # "warm" ops (warm-up, checks) are kept apart from the counted
        # ones; "write" ops are timed as write_s; "timed" ops make up the
        # timed region; "trace" ops run in a traced run after it
        self.phase = "warm"
        self.extra: dict = {}        # workload-specific report rows
        self.layer: dict = {}        # workload-specific per-layer metrics

    # -------------------------------------------------------- op helper
    def op(self, name: str, build, units: float = 0.0, collect=False,
           sig: str | None = None):
        """Run one operation: ``build()`` returns a DataFrame (or None for
        a call that does its own work).  The executed plan is forced
        before the action so plan time and execution time separate; the
        action materialises every row (RDD count of the physical plan,
        as the noop sink does) or collects."""
        tr = self.tracer
        self.n_op += 1
        rec = {"id": self.n_op, "name": name, "sig": sig or name,
               "phase": self.phase, "units": units, "traced": tr.on,
               "ok": True, "err": None}
        tr.op = self.n_op
        if tr.on:
            self.spark.sparkContext.setJobGroup(self.group(self.n_op), name)
        plan = result = None
        t0 = time.perf_counter()
        try:
            with tr.span("op:" + name):
                df = build()
                if df is not None:
                    with tr.span("spark.plan"):
                        qe = df._jdf.queryExecution()
                        plan = qe.executedPlan()
                    with tr.span("spark.exec"):
                        result = (df.collect() if collect
                                  else qe.toRdd().count())
        except Exception as e:  # an op failure is counted, not fatal
            rec["ok"] = False
            rec["err"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["latency_s"] = time.perf_counter() - t0
        if tr.on:
            self.spark.sparkContext.setLocalProperty(
                "spark.jobGroup.id", None)
        if self.phase == "warm":
            self.warm_ops.append(rec)
            return rec, result
        self.ops.append(rec)
        if tr.on and plan is not None:
            self.traced_ops.append((rec, plan))
        return rec, result

    def group(self, op_id: int) -> str:
        """Spark job group of a traced op (a traced run may hold two
        workloads, see run.TRACED_SIDE)."""
        return f"{self.name}.op{op_id}"

    def fail(self, rec, why: str):
        if rec["ok"]:
            rec["ok"] = False
            rec["err"] = why

    # ------------------------------------------------------ interface
    def prepare(self, path: str) -> None:
        """Open the generated inputs in ``path``."""

    def warm_up(self) -> None:
        raise NotImplementedError

    def write(self) -> None:
        """Write operations before the timed loop (timed as write_s)."""

    def cycle(self) -> None:
        raise NotImplementedError

    def check(self) -> None:
        """Compare outputs with independent paths; mark failed ops."""

    def trace_extras(self) -> None:
        """Traced run only: layer measurements outside the timed loop."""

    def finish(self) -> None:
        """Release files the run created."""

    # ---------------------------------------- shared per-layer helpers
    def plan_probe(self) -> dict:
        """Route and codegen probe per distinct operation signature, and
        SQL-metric counters summed over traced ops."""
        seen: dict = {}
        sums = {"py_nodes": 0, "rows_to_python": 0, "rows_from_python": 0,
                "bytes_to_python": 0, "bytes_from_python": 0,
                "python_ms": 0, "scan_files": 0}
        per_op = {}
        for rec, plan in self.traced_ops:
            c = plan_counters(plan)
            per_op[rec["id"]] = c
            for k in sums:
                sums[k] += c[k]
            if rec["sig"] not in seen:
                sizes = codegen_sizes(self.spark, plan)
                seen[rec["sig"]] = {"name": rec["name"],
                                    "python_eval_nodes": c["py_nodes"],
                                    "codegen_sizes": sizes}
        self.extra["routes"] = seen
        return {"sums": sums, "per_op": per_op, "routes": seen}


def _as_array(rows):
    """(lon, lat, x, y) tuples to a float array, NULL as NaN."""
    return np.array([[np.nan if v is None else v for v in r] for r in rows],
                    dtype=np.float64).reshape(-1, 4)


def compare_xy(got_x, got_y, ref_x, ref_y, atol: float) -> str | None:
    """Identical error pattern (NULL/NaN/inf on both sides) and values
    within ``atol + RTOL * |reference|`` elsewhere; returns a reason or
    None."""
    ge = ~(np.isfinite(got_x) & np.isfinite(got_y))
    re_ = ~(np.isfinite(ref_x) & np.isfinite(ref_y))
    if not np.array_equal(ge, re_):
        return (f"error pattern differs on {int((ge != re_).sum())} "
                f"of {len(ge)} rows")
    ok = ~ge
    # relative part: far from a projection's centre the coordinates reach
    # 1e7 m, where the twin and the kernel differ in the last digits
    dx = np.abs(got_x[ok] - ref_x[ok]) - RTOL * np.abs(ref_x[ok])
    dy = np.abs(got_y[ok] - ref_y[ok]) - RTOL * np.abs(ref_y[ok])
    worst = float(max(dx.max(initial=0.0), dy.max(initial=0.0)))
    if worst > atol:
        return f"max deviation {worst:.3g} beyond {RTOL:g} x |value|, > {atol:g}"
    return None


def reference_apply(op, lon_deg, lat_deg, direction="fwd"):
    """create_operation(...).apply with the DataFrame edge's degree
    convention."""
    x = np.asarray(lon_deg, dtype=np.float64)
    y = np.asarray(lat_deg, dtype=np.float64)
    if op.angular_input(direction):
        x, y = x * D2R, y * D2R
    z = np.zeros_like(x)
    ox, oy, _, _ = op.apply(x, y, z, z.copy(), direction)
    ox = np.asarray(ox, dtype=np.float64)
    oy = np.asarray(oy, dtype=np.float64)
    if op.angular_output(direction):
        ox, oy = ox * R2D, oy * R2D
    return ox, oy


def out_atol(op, direction="fwd") -> float:
    """Tolerance between the Spark route and the NumPy kernel: 0.1 mm
    for metres, 1e-9 degree (about 0.1 mm) for angles."""
    return 1e-9 if op.angular_output(direction) else 1e-4


# ===================================================== reproject_bulk

class ReprojectBulk(Workload):
    name = "reproject_bulk"
    unit = "points/s"
    # the twins' generated code was still speeding up through the first
    # two full-size cycles (about 8.7, 5 and then 3.7 s on a 4-CPU box)
    warm_cycles = 2
    # long CPU-bound stages: the shuffle job slowed 45% more than these
    # cycles in a busy spell, the scan job moved with them
    reference = "scan"

    def prepare(self, path):
        self.path = path
        self.df = self.spark.read.parquet(os.path.join(path, "points"))
        with open(os.path.join(path, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.n = self.meta["points"]

    def _route(self, df, route):
        from proj_4_spark.engine.spark import transform

        _, _, ps, roundtrip = route
        with self.tracer.span("engine.spark.transform"):
            out = transform(df, ps, x="lon", y="lat")
            if roundtrip:
                out = transform(out, ps, x="x", y="y", direction="inv",
                                out_prefix="b_")
        return out

    def warm_up(self):
        """Every route once over the sample table, collected and checked:
        the sample has the table's schema, so these plans compile to the
        code the timed ops reuse."""
        sample = self.spark.read.parquet(os.path.join(self.path, "sample"))
        self.checks = {}
        for route in I.BULK_ROUTES:
            rec, rows = self.op(route[0], lambda r=route: self._route(
                sample, r), collect=True)
            self.checks[route[0]] = (self._check_rows(route, rows)
                                     if rec["ok"] else rec["err"])
        self.extra["checks"] = self.checks

    def cycle(self):
        for route in I.BULK_ROUTES:
            rec, n = self.op(route[0], lambda r=route: self._route(
                self.df, r), units=self.n)
            if rec["ok"] and n != self.n:
                self.fail(rec, f"materialised {n} rows, expected {self.n}")

    def _check_rows(self, route, rows) -> str:
        """Sample rows against create_operation(...).apply; every bad row
        the generator made must be an error."""
        from proj_4_spark.engine.plan import create_operation

        name, _, ps, roundtrip = route
        xc, yc = ("b_x", "b_y") if roundtrip else ("x", "y")
        a = _as_array([(r["lon"], r["lat"], r[xc], r[yc])
                       for r in sorted(rows, key=lambda r: r["id"])])
        op = create_operation(ps)
        rx, ry = reference_apply(op, a[:, 0], a[:, 1])
        atol = out_atol(op)
        if roundtrip:
            rx, ry = reference_apply(op, rx, ry, "inv")
            atol = out_atol(op, "inv")
        why = compare_xy(a[:, 2], a[:, 3], rx, ry, atol)
        bad = np.isnan(a[:, 0]) | np.isnan(a[:, 1]) | (np.abs(a[:, 1]) > 90)
        errored = int((bad & ~(np.isfinite(a[:, 2])
                               & np.isfinite(a[:, 3]))).sum())
        if why is None and errored != self.meta["bad_rows"]:
            why = (f"{errored} of the generator's {self.meta['bad_rows']} "
                   "bad rows errored")
        if why is None and len(rows) != self.meta["sample_rows"]:
            why = f"{len(rows)} sample rows, expected {self.meta['sample_rows']}"
        return why or "ok"

    def check(self):
        for rec in self.ops:
            result = self.checks.get(rec["name"], "ok")
            if result != "ok":
                self.fail(rec, f"sample check: {result}")

    def trace_extras(self):
        from proj_4_spark.engine.plan import create_operation

        # L0: single-thread NumPy kernel at 1 M points, one row per op
        lon, lat = I.kernel_points(self.seed)
        rows, total_t = {}, 0.0
        for name, _, ps, roundtrip in I.BULK_ROUTES:
            op = create_operation(ps)
            t0 = time.perf_counter()
            x, y = reference_apply(op, lon, lat)
            if roundtrip:
                reference_apply(op, x, y, "inv")
            dt = time.perf_counter() - t0
            total_t += dt
            rows[name] = len(lon) / dt
        self.extra["kernel_pts_per_s"] = rows
        self.extra["kernel_reference"] = (
            "PROJ RFC-6: 1.6 M pts/s single-thread (Helmert pipeline)")
        self.layer["kernels.pts_per_s"] = len(rows) * len(lon) / total_t
        # L1: plan build on cold definitions (create_operation is not
        # cached; transform() caches it per proj-string)
        t0 = time.perf_counter()
        for _, _, ps, _ in I.BULK_ROUTES:
            create_operation(ps)
        self.layer["plan.s"] = time.perf_counter() - t0
        self.layer["plan.calls"] = len(I.BULK_ROUTES)


# ================================================= reproject_many_crs

class ReprojectManyCrs(Workload):
    name = "reproject_many_crs"
    unit = "calls/s"

    def prepare(self, path):
        self.frame = self.spark.read.parquet(os.path.join(path, "frame"))
        with open(os.path.join(path, "definitions.json")) as fh:
            self.defs = json.load(fh)
        self.seq = I.crs_sequence(len(self.defs), I.CRS_USES)
        self.pos = 0
        self.results: dict = {}   # op id -> (definition index, rows)

    def _call(self, d):
        from proj_4_spark.engine.altops import (alt_transform,
                                                crs_to_crs_candidates)
        from proj_4_spark.engine.spark import transform

        if d["kind"] == "pair":
            with self.tracer.span("engine.altops.crs_to_crs_candidates"):
                cands = crs_to_crs_candidates(d["src"], d["dst"])
            with self.tracer.span("engine.altops.alt_transform"):
                out = alt_transform(self.frame, cands, lon="lon", lat="lat",
                                    with_chosen=False)
        else:
            with self.tracer.span("engine.spark.transform"):
                out = transform(self.frame, d["text"], x="lon", y="lat")
        return out.select("id", "lon", "lat", "x", "y")

    @staticmethod
    def _sig(d):
        return (f"{d['src']}->{d['dst']}" if d["kind"] == "pair"
                else f"EPSG:{d['code']} ({d['form']})")

    def warm_up(self):
        for code in I.CRS_WARMUP_CODES:
            self.op("warm", lambda c=code: self._call(
                {"kind": "crs", "text": I.crs_text(c, "proj")}),
                collect=True)
        src, dst = I.pair_pool()[0]
        self.op("warm", lambda: self._call(
            {"kind": "pair", "src": f"EPSG:{src}", "dst": f"EPSG:{dst}"}),
            collect=True)

    def cycle(self):
        # one block: the first call of a definition and the repeat of
        # the one before it (CRS_USES = 2)
        for _ in range(I.CRS_USES):
            i = self.seq[self.pos % len(self.seq)]
            self.pos += 1
            d = self.defs[i]
            rec, rows = self.op(d["kind"], lambda d=d: self._call(d),
                                units=1, collect=True, sig=self._sig(d))
            if rec["ok"] and self.phase == "timed":
                self.results[rec["id"]] = (i, rows)

    def check(self):
        from proj_4_spark.engine.altops import (AltOperation,
                                                crs_to_crs_candidates)
        from proj_4_spark.engine.plan import create_operation

        refs: dict = {}
        ids = {rec["id"]: rec for rec in self.ops}
        for op_id, (i, rows) in self.results.items():
            d = self.defs[i]
            a = _as_array([tuple(r[1:]) for r in sorted(rows)])
            if i not in refs:
                if d["kind"] == "pair":
                    alt = AltOperation(crs_to_crs_candidates(d["src"],
                                                             d["dst"]))
                    z = np.zeros(len(a))
                    rx, ry, _, _, _ = alt.apply(a[:, 0] * D2R, a[:, 1] * D2R,
                                                z, z.copy(), "fwd")
                    refs[i] = (np.asarray(rx), np.asarray(ry), 1e-11)
                else:
                    op = create_operation(d["text"])
                    rx, ry = reference_apply(op, a[:, 0], a[:, 1])
                    refs[i] = (rx, ry, out_atol(op))
            rx, ry, atol = refs[i]
            why = compare_xy(a[:, 2], a[:, 3], rx, ry, atol)
            if why:
                self.fail(ids[op_id], f"{self._sig(d)}: {why}")

    def trace_extras(self):
        from proj_4_spark.engine.altops import crs_to_crs_candidates
        from proj_4_spark.engine.plan import create_operation

        # L1 plan build on cold definitions: every distinct definition
        # the timed loop reached
        reached = sorted({self.seq[k % len(self.seq)]
                          for k in range(self.pos)})
        t0 = time.perf_counter()
        for i in reached:
            d = self.defs[i]
            if d["kind"] == "pair":
                crs_to_crs_candidates(d["src"], d["dst"])
            else:
                create_operation(d["text"])
        self.layer["plan.s"] = time.perf_counter() - t0
        self.layer["plan.calls"] = len(reached)


# ====================================================== geo_docs_join

class GeoDocsJoin(Workload):
    name = "geo_docs_join"
    unit = "points/s"
    latency_of = "cycle"
    WEBMERC = "+proj=webmerc +ellps=WGS84"
    ZOOM = 8
    RES = 6
    K = 10
    CHECK_QUERIES = 1

    def prepare(self, path):
        import pyarrow.parquet as pq

        self.docs = self.spark.read.parquet(os.path.join(path, "docs"))
        self.zones = self.spark.read.parquet(
            os.path.join(I.REPO, "fixtures", "zones.parquet"))
        with open(os.path.join(path, "knn_queries.json")) as fh:
            self.queries_list = json.load(fh)
        self.queries = self.spark.createDataFrame(
            self.queries_list, "q_id string, lon double, lat double")
        with open(os.path.join(path, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.expected = pq.read_table(
            os.path.join(path, "expected_points.parquet")).to_pydict()
        self.n = self.meta["points"]
        self.results: dict = {}   # op name -> list of (op id, rows)

    def _points(self, docs):
        from proj_4_spark.docs.media import explode_media_points

        with self.tracer.span("docs.explode_media_points"):
            return explode_media_points(docs)

    def _tiles(self, docs):
        from proj_4_spark.engine.spark import transform
        from proj_4_spark.spatial.tiles import assign_tiles

        pts = self._points(docs)
        with self.tracer.span("engine.spark.transform"):
            wm = transform(pts, self.WEBMERC, x="lon", y="lat",
                           out_prefix="wm_", keep_errors=False)
        with self.tracer.span("spatial.tiles.assign_tiles"):
            t = assign_tiles(wm, x="wm_x", y="wm_y", zoom=self.ZOOM)
        return t.groupBy("tile_x", "tile_y").count()

    def _cells(self, docs):
        from pyspark.sql import functions as F

        from proj_4_spark.spatial.cells import cell_col

        pts = self._valid(docs)
        with self.tracer.span("spatial.cells.cell_col"):
            c = cell_col(F.col("lon"), F.col("lat"), self.RES)
        return pts.select(c.alias("cell")).groupBy("cell").count()

    def _pip(self, docs):
        from proj_4_spark.spatial.pip import pip_join

        pts = self._points(docs)
        with self.tracer.span("spatial.pip.pip_join"):
            j = pip_join(pts, self.zones)
        return j.groupBy("zone_id").count()

    def _pip_cells(self, docs):
        from proj_4_spark.spatial.pip import pip_join_cells

        pts = self._points(docs)
        with self.tracer.span("spatial.pip.pip_join_cells"):
            j = pip_join_cells(pts, self.zones, res=self.RES)
        return j.groupBy("zone_id").count()

    def _salted(self, docs):
        from pyspark.sql import functions as F

        from proj_4_spark.spatial.cells import cell_col
        from proj_4_spark.spatial.salting import salted_count

        pts = self._valid(docs).withColumn(
            "cell", cell_col(F.col("lon"), F.col("lat"), self.RES))
        with self.tracer.span("spatial.salting.salted_count"):
            return salted_count(pts, key_col="cell", id_col="doc_id")

    def _valid(self, docs):
        """Points inside the lon/lat domain (the error rows carry
        lon=999, which cell_col would clamp into the last column)."""
        from pyspark.sql import functions as F

        return self._points(docs).where(F.abs("lon") <= 180)

    def _knn(self, docs, queries):
        from proj_4_spark.spatial.knn import knn_join

        pts = self._valid(docs)
        # knn_join runs its ring rounds eagerly inside the call
        with self.tracer.span("spatial.knn.knn_join"):
            return knn_join(pts, queries, k=self.K)

    STEPS = ("tiles", "cells", "pip", "pip_cells", "salted")

    def _run_steps(self, docs, units):
        fns = {"tiles": self._tiles, "cells": self._cells,
               "pip": self._pip, "pip_cells": self._pip_cells,
               "salted": self._salted}
        for step in self.STEPS:
            # the whole pass processes each point once: its units are
            # booked on the first step
            rec, rows = self.op(step, lambda f=fns[step]: f(docs),
                                units=units if step == "tiles" else 0,
                                collect=True)
            if rec["ok"] and self.phase == "timed":
                self.results.setdefault(step, []).append((rec, rows))

    def warm_up(self):
        self._run_steps(self.docs, 0)

    def cycle(self):
        self._run_steps(self.docs, self.n)

    # ---------------------------------------------------------- checks
    def _reference(self):
        from proj_4_spark.engine.plan import create_operation
        from proj_4_spark.spatial.cells import cell_np
        from proj_4_spark.spatial.pip import point_in_ring_np
        from proj_4_spark.spatial.tiles import tile_np

        lon = np.asarray(self.expected["lon"])
        lat = np.asarray(self.expected["lat"])
        wx, wy = reference_apply(create_operation(self.WEBMERC), lon, lat)
        ok = np.isfinite(wx) & np.isfinite(wy)
        tx, ty = tile_np(wx[ok], wy[ok], self.ZOOM)
        tiles = Counter(zip(tx.tolist(), ty.tolist()))
        valid = np.abs(lon) <= 180
        cells = Counter(cell_np(lon[valid], lat[valid], self.RES).tolist())
        zones = {}
        for z in self.zones.collect():
            m = ((lon >= z["min_lon"]) & (lon <= z["max_lon"])
                 & (lat >= z["min_lat"]) & (lat <= z["max_lat"]))
            idx = np.flatnonzero(m)
            if len(idx) == 0:
                continue
            rx = [p["lon"] for p in z["ring"]]
            ry = [p["lat"] for p in z["ring"]]
            hit = int(point_in_ring_np(lon[idx], lat[idx], rx, ry).sum())
            if hit:
                zones[z["zone_id"]] = hit
        return {"errored": int((~ok).sum()), "tiles": tiles,
                "cells": cells, "zones": zones}

    def check(self):
        ref = self._reference()
        got_checks = {}

        def each(step, fn):
            for rec, rows in self.results.get(step, []):
                why = fn(rows)
                if why:
                    self.fail(rec, f"{step}: {why}")
            got_checks[step] = "checked"

        def tiles(rows):
            got = {(r["tile_x"], r["tile_y"]): r["count"] for r in rows}
            dropped = self.n - sum(got.values())
            if dropped != ref["errored"]:
                return (f"{dropped} rows dropped as errors, the NumPy "
                        f"kernel errors on {ref['errored']}")
            return None if got == ref["tiles"] else "tile histogram differs"

        def cells(rows):
            got = {r["cell"]: r["count"] for r in rows}
            return None if got == ref["cells"] else "cell counts differ"

        def salted(rows):
            got = {r["cell"]: r["n"] for r in rows}
            return None if got == ref["cells"] else "salted counts differ"

        def zones(rows):
            got = {r["zone_id"]: r["count"] for r in rows}
            return None if got == ref["zones"] else "zone counts differ"

        each("tiles", tiles)
        each("cells", cells)
        each("salted", salted)
        each("pip", zones)
        each("pip_cells", zones)
        self.extra["checks"] = {
            "errored_rows_numpy": ref["errored"],
            "generator_error_rows": self.meta["error_rows"],
            "steps": got_checks}

    def _check_knn(self, rec, rows):
        from proj_4_spark.spatial.knn import knn_brute_force

        sample = self.queries_list[:self.CHECK_QUERIES]
        qdf = self.spark.createDataFrame(
            sample, "q_id string, lon double, lat double")
        want = {}
        for r in knn_brute_force(self._valid(self.docs), qdf,
                                 k=self.K).collect():
            want.setdefault(r["q_id"], []).append(
                (r["rank"], r["dist_m"]))
        keep = {q["q_id"] for q in sample}
        got = {}
        for r in rows:
            if r["q_id"] in keep:
                got.setdefault(r["q_id"], []).append(
                    (r["rank"], r["dist_m"]))
        for q in keep:
            a = sorted(got.get(q, []))
            b = sorted(want.get(q, []))
            if len(a) != len(b) or any(
                    ra != rb or abs(da - db) > 1e-6 * max(1.0, db)
                    for (ra, da), (rb, db) in zip(a, b)):
                self.fail(rec, f"knn: query {q} differs from "
                               "knn_brute_force")
                return

    def trace_extras(self):
        from proj_4_spark.engine.plan import create_operation

        t0 = time.perf_counter()
        create_operation(self.WEBMERC)
        self.layer["plan.s"] = time.perf_counter() - t0
        self.layer["plan.calls"] = 1
        traced = [rec for rec in self.ops if rec["traced"]]
        per_cycle = 1.0 / self.n_tc

        # kNN: one call outside the timed loop.  Its ring rounds run
        # eagerly inside knn_join, so the call is one span; cold (first
        # call of the run) like every serving process's first query
        self.phase = "trace"
        self.tracer.on = True
        rec, rows = self.op("knn", lambda: self._knn(self.docs,
                                                     self.queries),
                            collect=True)
        self.tracer.on = False
        if rec["ok"]:
            self._check_knn(rec, rows)
        self.layer["knn.call_s"] = rec["latency_s"]
        knn_stages = StageReader(self.spark).by_group().get(
            self.group(rec["id"]), {})
        self.layer["knn.jobs"] = knn_stages.get("jobs", 0)
        self.layer["knn.shuffle_bytes"] = knn_stages.get(
            "shuffle_write_bytes", 0)
        self.layer["cells.s"] = sum(r["latency_s"] for r in traced
                                    if r["name"] == "cells") * per_cycle
        self.layer["tiles.s"] = sum(r["latency_s"] for r in traced
                                    if r["name"] == "tiles") * per_cycle
        # the ray test runs in a Python UDF over the bbox candidates
        cand = hits = 0
        for step in ("pip", "pip_cells"):
            for rec, rows in self.results.get(step, []):
                if rec["traced"] and rec["id"] in self.probe["per_op"]:
                    cand += self.probe["per_op"][rec["id"]]["rows_to_python"]
                    hits += sum(r["count"] for r in rows)
        self.layer["pip.candidate_rows"] = cand * per_cycle
        self.layer["pip.hit_ratio"] = hits / cand if cand else 0.0
        # docs layer alone: explode materialised without the pipeline
        pts = self._points(self.docs)
        qe = pts._jdf.queryExecution()
        qe.executedPlan()
        t0 = time.perf_counter()
        qe.toRdd().count()
        self.layer["docs.explode_s"] = time.perf_counter() - t0


# ========================================================= ann_serving

class AnnServing(Workload):
    name = "ann_serving"
    unit = "probes/s"
    K = 10
    MULTIPROBE = 1
    N_PROBE = 4
    # recall@10 floors over a run; measured at the commit that added the
    # benchmark: about 0.8 (LSH) and 0.97 (IVF) on these inputs
    RECALL_FLOOR = {"lsh": 0.6, "ivf": 0.85}

    def prepare(self, path):
        self.emb = self.spark.read.parquet(os.path.join(path, "corpus"))
        with open(os.path.join(path, "meta.json")) as fh:
            self.meta = json.load(fh)
        self.n = self.meta["vectors"]
        # index sizing follows the corpus, so the recall floors hold at
        # every --scale: about 60 vectors a bucket (64 buckets at the
        # full 4,000 vectors) and 250 a centroid (16)
        self.n_planes = max(1, round(math.log2(self.n / 60)))
        self.n_centroids = max(2, self.n // 250)
        self.n_probe = min(self.N_PROBE, self.n_centroids)
        self.vectors = I.ann_vectors(self.seed, self.n)
        rows = np.load(os.path.join(path, "query_rows.npy"))
        self.batches = [rows[i:i + I.ANN_BATCH]
                        for i in range(0, len(rows), I.ANN_BATCH)]
        self.idx_dir = os.path.join(I.STATE, "ann", str(os.getpid()))
        self.lsh_path = os.path.join(self.idx_dir, "lsh")
        self.ivf_path = os.path.join(self.idx_dir, "ivf")
        self.pos = 0
        self.results: dict = {"lsh": [], "ivf": []}

    def _qdf(self, rows):
        return self.spark.createDataFrame(
            [(int(k), [float(x) for x in self.vectors[r]])
             for k, r in enumerate(rows)],
            "q_id long, embedding array<double>")

    def _probe(self, kind, rows):
        from proj_4_spark.functions.ann_index import (ivf_topk_prebuilt,
                                                      lsh_topk_prebuilt)

        qdf = self._qdf(rows)
        if kind == "lsh":
            with self.tracer.span("functions.ann.lsh_topk_prebuilt"):
                return lsh_topk_prebuilt(self.spark, self.lsh_path, qdf,
                                         k=self.K,
                                         multiprobe=self.MULTIPROBE)
        with self.tracer.span("functions.ann.ivf_topk_prebuilt"):
            return ivf_topk_prebuilt(self.spark, self.ivf_path, qdf,
                                     k=self.K, n_probe=self.n_probe)


    def _build(self, kind, emb, path):
        from proj_4_spark.functions.ann_index import (build_ivf_index,
                                                      build_lsh_index)

        if kind == "lsh":
            with self.tracer.span("functions.ann.build_lsh_index"):
                return build_lsh_index(emb, path, dim=I.ANN_DIM,
                                       n_planes=self.n_planes)
        with self.tracer.span("functions.ann.build_ivf_index"):
            return build_ivf_index(emb, path, dim=I.ANN_DIM,
                                   n_centroids=self.n_centroids)

    def _build_op(self, kind, emb, path):
        meta = {}

        def call():
            meta.update(self._build(kind, emb, path))

        rec, _ = self.op(f"build_{kind}", call)
        return rec, meta

    def warm_up(self):
        # one probe of each kind compiles the probe plans; the builds
        # before it have already spun up the Arrow workers
        for kind in ("lsh", "ivf"):
            self.op(kind, lambda k=kind: self._probe(k, self.batches[-1]),
                    collect=True)

    def write(self):
        for kind, path in (("lsh", self.lsh_path), ("ivf", self.ivf_path)):
            rec, meta = self._build_op(kind, self.emb, path)
            if rec["ok"] and meta.get("corpus_rows") != self.n:
                self.fail(rec, f"index holds {meta.get('corpus_rows')} "
                               f"rows, corpus has {self.n}")

    def cycle(self):
        rows = self.batches[self.pos % len(self.batches)]
        self.pos += 1
        for kind in ("lsh", "ivf"):
            rec, out = self.op(kind, lambda k=kind: self._probe(k, rows),
                               units=len(rows), collect=True)
            if rec["ok"] and self.phase == "timed":
                self.results[kind].append((rec, rows, out))

    # ---------------------------------------------------------- checks
    def _exact_topk(self, rows):
        v = self.vectors.astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        sims = v[rows] @ v.T
        return np.argsort(-sims, axis=1, kind="stable")[:, :self.K]

    def check(self):
        recall = {}
        for kind in ("lsh", "ivf"):
            hits = total = 0
            for rec, rows, out in self.results[kind]:
                exact = self._exact_topk(rows)
                got: dict = {}
                for r in out:
                    got.setdefault(r["q_id"], set()).add(r["vec_id"])
                for qi in range(len(rows)):
                    hits += len(got.get(qi, set()) & set(exact[qi].tolist()))
                    total += self.K
            recall[kind] = hits / total if total else float("nan")
            if total and recall[kind] < self.RECALL_FLOOR[kind]:
                for rec, _, _ in self.results[kind]:
                    self.fail(rec, f"{kind} recall@{self.K} "
                                   f"{recall[kind]:.3f} below "
                                   f"{self.RECALL_FLOOR[kind]}")
        self.extra["recall_at_k"] = recall

    def _check_in_query(self):
        """Prebuilt results must equal the in-query operators' results
        (traced runs: two extra full-corpus queries)."""
        from proj_4_spark.functions.similarity import (ivf_topk,
                                                       lsh_bucket_topk)

        if not self.results["lsh"] or not self.results["ivf"]:
            return
        rows = self.results["lsh"][0][1]
        qdf = self._qdf(rows)
        in_query = {
            "lsh": lsh_bucket_topk(self.emb, qdf, k=self.K,
                                   n_planes=self.n_planes, dim=I.ANN_DIM,
                                   multiprobe=self.MULTIPROBE),
            "ivf": ivf_topk(self.emb, qdf, k=self.K,
                            n_centroids=self.n_centroids,
                            n_probe=self.n_probe, dim=I.ANN_DIM),
        }
        self.extra["checks"] = {}
        for kind, df in in_query.items():
            want = sorted(tuple(r) for r in df.collect())
            rec, _, out = self.results[kind][0]
            same = sorted(tuple(r) for r in out) == want
            self.extra["checks"][f"{kind}_prebuilt_equals_in_query"] = same
            if not same:
                for rec, r2, _ in self.results[kind]:
                    self.fail(rec, f"{kind} prebuilt top-k differs from "
                                   "the in-query operator")

    def trace_extras(self):
        self._check_in_query()
        files = sum(len([f for f in fs if f.endswith(".parquet")])
                    for p in (self.lsh_path, self.ivf_path)
                    for _, _, fs in os.walk(p))
        probes = [self.probe["per_op"][rec["id"]] for rec in self.ops
                  if rec["id"] in self.probe["per_op"]
                  and rec["name"] in ("lsh", "ivf")]
        if probes and files:
            # each probe reads one of the two indexes (about half the files)
            read = sum(c["scan_files"] for c in probes) / len(probes)
            self.layer["ann.index_files_read_share"] = read / (files / 2)
        self.layer["ann.candidate_rows"] = sum(
            c["rows_from_python"] for c in probes) / self.n_tc

    def finish(self):
        shutil.rmtree(self.idx_dir, ignore_errors=True)


WORKLOADS = {w.name: w for w in (ReprojectBulk, ReprojectManyCrs,
                                 GeoDocsJoin, AnnServing)}
