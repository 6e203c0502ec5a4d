"""Tests of the benchmark itself: the result-line schema, the harness
helpers, and a tiny-size smoke run of every workload.

    python3 -m pytest perfbench/tests -q

The smoke run starts Spark once per workload (about a minute each on a
4-CPU box).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
REPO = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import harness  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

BENCHMARK_JSON = os.path.join(REPO, "BENCHMARK.json")


def check_result_line(line: str, metrics: dict) -> dict:
    """The last stdout line: exactly correct/attempted/failed/metrics,
    and every named metric with a finite value and its unit."""
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert isinstance(out["correct"], bool)
    assert isinstance(out["attempted"], int) and out["attempted"] >= 1
    assert isinstance(out["failed"], int) and 0 <= out["failed"]
    assert out["failed"] <= out["attempted"]
    assert set(out["metrics"]) == set(metrics)
    for name, m in out["metrics"].items():
        assert set(m) == {"value", "unit"}
        assert m["unit"] == metrics[name]
        assert isinstance(m["value"], (int, float))
        assert m["value"] == m["value"]  # not NaN
    return out


def test_benchmark_json_matches_runner():
    with open(BENCHMARK_JSON) as fh:
        c = json.load(fh)
    assert set(c) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert c["command"][:2] == ["python3", "perfbench/run.py"]
    assert {w["name"] for w in c["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in c["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in c["per_layer"]} == run.PER_LAYER
    setup = [m for m in c["end_to_end"] if m["name"] == "setup_s"]
    assert setup and setup[0]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in c["end_to_end"])


def test_result_line_schema_rejects_extra_keys():
    good = json.dumps({"correct": True, "attempted": 3, "failed": 0,
                       "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}})
    check_result_line(good, {"setup_s": "s"})
    bad = json.loads(good)
    bad["extra"] = 1
    with pytest.raises(AssertionError):
        check_result_line(json.dumps(bad), {"setup_s": "s"})


def test_tail_percentile_needs_ten_samples_beyond():
    assert harness.tail_percentile(10) is None
    assert harness.tail_percentile(20) == 50
    assert harness.tail_percentile(100) == 90
    assert harness.tail_percentile(1000) == 99


def test_self_times_subtract_children():
    t = harness.Tracer()
    t.on = True
    t.op = 1
    with t.span("op:x"):
        with t.span("layer"):
            pass
    (name, a0, a1, _, _), (_, b0, b1, parent, _) = t.spans
    st = t.self_times()
    assert parent == 0
    assert st["op:x"] == pytest.approx((a1 - a0) - (b1 - b0))
    assert t.op_rows()[0]["shortfall_s"] == pytest.approx(st["op:x"])


def test_inputs_are_seeded():
    a = inputs.bulk_points(5, 1000)
    b = inputs.bulk_points(5, 1000)
    c = inputs.bulk_points(6, 1000)
    assert all((a[k] == b[k]).all() for k in ("lon", "lat", "bad"))
    assert not (a["lon"] == c["lon"]).all()
    assert (inputs.ann_vectors(1, 50) == inputs.ann_vectors(1, 50)).all()


def test_crs_sequence_reuses_each_definition():
    seq = inputs.crs_sequence(10, 2)
    assert sorted(seq) == sorted(list(range(10)) * 2)
    # every block starts one new definition
    firsts = [seq.index(d) for d in range(10)]
    assert firsts == sorted(firsts)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_run(workload, trace):
    """Tiny inputs, a short timed region: every workload runs, checks
    its outputs and prints a result line."""
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=REPO, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = proc.stdout.strip().splitlines()[-1]
    metrics = run.PER_LAYER if trace else run.END_TO_END
    out = check_result_line(line, metrics)
    assert out["correct"], proc.stdout[-3000:]


def test_refuses_to_run_without_the_package(tmp_path):
    """A directory holding only the benchmark exits non-zero without a
    result line."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         "reproject_bulk", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
