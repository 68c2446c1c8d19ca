"""Tests of the benchmark's own plumbing (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import run
from perfbench.observe import parse_metric
from perfbench.trace import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_names_what_the_run_reports():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == \
        run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == \
        run.LAYER_UNITS
    from perfbench.workloads import WORKLOADS
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in spec["end_to_end"])


def test_result_line_is_one_compact_parsable_line():
    checks = [("a", True, ""), ("b", False, "got 1, want 2")]
    samples = {name: [1.0, 2.0, 3.0] for name in run.E2E_UNITS}
    line = run.result_line(checks, run.summarize(samples, run.E2E_UNITS))
    assert "\n" not in line
    res = json.loads(line)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert (res["correct"], res["attempted"], res["failed"]) == \
        (False, 2, 1)
    assert res["metrics"]["job_s"] == {"value": 2.0, "unit": "s"}
    assert set(res["metrics"]) == set(run.E2E_UNITS)


def test_summarize_reports_median_and_quartile_spread():
    s = run.summarize({"job_s": [1.0, 2.0, 3.0, 4.0, 100.0]},
                      {"job_s": "s"})["job_s"]
    assert s["value"] == 3.0 and s["n"] == 5
    assert s["spread"] == pytest.approx((s["q3"] - s["q1"]) / 3.0)


@pytest.mark.parametrize("text,value", [
    ("total (min, med, max (stageId: taskId))\n40.3 MiB (8.1 MiB, "
     "16.0 MiB, 16.3 MiB (stage 1.0: task 3))", 40.3 * 2 ** 20),
    ("total (min, med, max (stageId: taskId))\n5.5 s (1.4 s, 1.4 s, "
     "1.4 s (stage 1.0: task 3))", 5.5),
    ("10 ms", 0.01),
    ("0.0 B", 0.0),
    ("100,000", 100000.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_self_time_excludes_children():
    tr = Tracer()
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    rep = tr.report()
    dur_o = outer.end - outer.start
    dur_i = inner.end - inner.start
    assert rep["inner"]["self_s"] == pytest.approx(dur_i)
    assert rep["outer"]["self_s"] == pytest.approx(dur_o - dur_i)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"),
                    tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         "validate_json_unique", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert out.returncode != 0
    assert out.stdout == ""
