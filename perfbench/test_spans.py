"""Tests of the benchmark's own tracing and timing.

Run from the repository root:

    python3 -m pytest perfbench/test_spans.py -q

The first three tests are pure Python.  ``test_job_counts_repeat`` makes two
short traced runs of ``drops_small`` with the same seed (about two minutes
on a 4-core host) and checks that every span's Spark job count repeats.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

import run
import spans

HERE = os.path.dirname(os.path.abspath(__file__))


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": f"SparkListener{kind}", **fields})


def test_event_log_attributes_tasks_to_job_groups(tmp_path):
    log = tmp_path / "app" / "events_1"
    log.parent.mkdir()
    log.write_text("\n".join([
        _event("LogStart", **{"Spark Version": "4"}),
        _event("JobStart", **{"Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
                              "Properties": {"spark.jobGroup.id": "a.f"}}),
        _event("TaskEnd", **{"Stage ID": 1, "Task Metrics": {
            "Executor Run Time": 40, "Executor CPU Time": 30_000_000,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
            "Disk Bytes Spilled": 5}}),
        _event("JobEnd", **{"Job ID": 0, "Completion Time": 1500}),
        _event("JobStart", **{"Job ID": 1, "Submission Time": 2000, "Stage IDs": [2],
                              "Properties": {}}),
        _event("JobEnd", **{"Job ID": 1, "Completion Time": 2100}),
    ]) + "\n")
    jobs = spans.read_event_log(str(tmp_path))
    assert jobs[0].group == "a.f" and jobs[1].group is None
    assert (jobs[0].tasks, jobs[0].executor_run_ms, jobs[0].executor_cpu_ns) == (1, 40, 30_000_000)
    assert (jobs[0].shuffle_write_bytes, jobs[0].spill_bytes) == (7, 5)


def test_self_time_and_driver_only_time():
    tracer = spans.Tracer()
    root = spans.SpanRecord(spans.ROOT_SPAN, start=10.0, end=14.0, child_s=3.0)
    child = spans.SpanRecord("plans.dq_runner.run_dq_stage", start=11.0, end=14.0)
    tracer.spans = [child, root]
    jobs = {
        0: spans.JobInfo("plans.dq_runner.run_dq_stage", 11_000, 12_000),
        1: spans.JobInfo("plans.dq_runner.run_dq_stage", 11_500, 12_500),
        2: spans.JobInfo(None, 20_000, 21_000),  # outside the root span
    }
    report = spans.layer_report(tracer.spans, jobs)
    assert report[spans.ROOT_SPAN]["self_s"] == 1.0
    assert report["plans.dq_runner.run_dq_stage"]["jobs"] == 2
    # 4 s of wall, jobs busy over the union [11, 12.5] s
    assert report[spans.ROOT_SPAN]["driver_only_s"] == 2.5
    metrics = spans.per_layer_metrics(report, loads=2)
    assert metrics["plans.dq_runner.run_dq_stage.jobs"] == 1.0
    assert "plans.dq_runner.run_dq_stage.spill_bytes" in metrics
    assert "config.load_dataset_config.spill_bytes" not in metrics


def test_unstolen_time_scales_by_the_stolen_share(monkeypatch):
    readings = iter([(1000, 50), (1300, 150)])  # (busy, stolen) jiffies
    monkeypatch.setattr(run, "cpu_jiffies", lambda: next(readings))
    wall, unstolen = run.Interval().stop()
    # 100 of the 400 runnable jiffies were stolen
    assert unstolen == pytest.approx(0.75 * wall)


def _traced_run(out_path: str) -> dict:
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "drops_small",
         "--seed", "5", "--seconds", "1", "--trace", "1",
         "--trace-out", out_path],
        check=True, timeout=300, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    with open(out_path, encoding="utf-8") as fh:
        return json.load(fh)


def test_job_counts_repeat(tmp_path):
    first = _traced_run(str(tmp_path / "a.json"))
    second = _traced_run(str(tmp_path / "b.json"))
    jobs_a = {name: entry["jobs"] for name, entry in first["report"].items()}
    jobs_b = {name: entry["jobs"] for name, entry in second["report"].items()}
    assert jobs_a == jobs_b
    assert sum(jobs_a.values()) > 0
    # the same job sequence, group by group, not only the same totals
    assert first["job_groups"] == second["job_groups"]
