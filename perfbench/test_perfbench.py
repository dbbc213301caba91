"""Self-test of the benchmark: ``python3 -m pytest perfbench -q``.

The interval tests run in milliseconds. The end-to-end tests run every
workload, traced and untraced, with the shortest timed region (one round, or
one of each kind when traced), each in a fresh Spark process (about a minute
each on four cores), and check the output contract.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.trace import Span, Tracer  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _span(tracer: Tracer, name: str, start: float, end: float, parent: Span | None = None) -> Span:
    s = Span(name, start, parent)
    s.end = end
    tracer.spans.append(s)
    return s


def test_self_times_and_driver_account_for_the_round():
    t = Tracer(enabled=True)
    op = _span(t, "compact", 1.0, 5.0)
    # two concurrent children on pool threads, overlapping each other
    _span(t, "catalog.stats", 2.0, 3.0, op)
    _span(t, "catalog.stats", 2.5, 3.5, op)
    # a same-name child does not count as a child
    plan = _span(t, "catalog.plan", 6.0, 7.0)
    _span(t, "catalog.plan", 6.2, 6.4, plan)
    selfs = t.self_times([(0.0, 8.0)])
    assert selfs["compact"] == pytest.approx(2.5)
    assert selfs["catalog.stats"] == pytest.approx(1.5)
    assert selfs["catalog.plan"] == pytest.approx(1.0)
    assert selfs["driver"] == pytest.approx(3.0)
    assert sum(selfs.values()) == pytest.approx(8.0)


def test_event_log_tasks_fold_into_innermost_span(tmp_path):
    t = Tracer(enabled=True)
    op = _span(t, "cluster", 10.0, 20.0)
    _span(t, "catalog.stats", 15.0, 18.0, op)
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 12000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 16000, "Stage IDs": [1]},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 30000, "Stage IDs": [2]},
    ]
    for stage in (0, 1, 1, 2):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Metrics": {"Executor CPU Time": 2e9, "JVM GC Time": 100,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 10}},
            "Task Info": {"Accumulables": [{"Name": "time to run Python workers", "Update": 500}]},
        })
    d = tmp_path / "eventlog_v2_app" / "events_1_app"
    d.parent.mkdir()
    d.write_text("\n".join(json.dumps(e) for e in events))
    folded = t.fold_event_log(str(tmp_path), [(0.0, 25.0)])
    assert folded["cluster"]["tasks"] == 1
    assert folded["catalog.stats"]["tasks"] == 2
    assert folded["catalog.stats"]["task_cpu_s"] == pytest.approx(4.0)
    assert folded["catalog.stats"]["py_run_s"] == pytest.approx(1.0)
    assert folded["catalog.stats"]["shuffle_bytes"] == 20
    assert "driver" not in folded  # job 2 lies outside the traced window


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_short_run_meets_the_output_contract(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace)
    assert p.returncode == 0, p.stderr[-2000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in wanted} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if trace == "0":
        assert all(v["value"] > 0 for v in result["metrics"].values())
    session = json.loads(p.stdout.strip().splitlines()[-2])["session"]
    assert not os.path.exists(os.path.dirname(session["spark.local.dir"]))


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "maintain", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
