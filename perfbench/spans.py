"""Per-layer tracing from outside the program: spans plus Spark event logs.

Spans are opened by wrappers that the benchmark installs over the public
functions of each pipeline layer, at the module attribute their caller
looks up (``plans.pipeline.run_dq_stage``, not ``plans.dq_runner``), so no
package file changes.  Each span sets the Spark job group to its own name;
jobs submitted while it is the innermost open span belong to it.  After the
session stops, :func:`read_event_log` reads Spark's event log and
:func:`layer_report` joins jobs, tasks and spans into per-layer figures:

- ``self_s``: span wall time minus the time its child spans cover;
- ``jobs``: Spark jobs submitted under the span's own job group;
- ``executor_cpu_s``: executor CPU time of those jobs' tasks;
- ``shuffle_bytes`` / ``spill_bytes``: shuffle bytes written and bytes
  spilled to disk by those tasks.

:func:`layer_report` gives totals over the traced calls;
:func:`per_layer_metrics` divides them by the number of traced loads.
"""

from __future__ import annotations

import functools
import glob
import importlib
import json
import os
import time
from dataclasses import dataclass, field

PACKAGE = "aws_insurancelake_etl_spark"

#: span name -> patch point ``(module, attribute)`` relative to the package:
#: where the caller looks the function up at call time.
SPAN_PATCHES: dict[str, tuple[str, str]] = {
    "orchestrator.run_pipeline": ("orchestrator", "run_pipeline"),
    "config.load_dataset_config": ("orchestrator", "load_dataset_config"),
    "plans.pipeline.collect_to_cleanse": ("orchestrator", "collect_to_cleanse"),
    "plans.pipeline.cleanse_to_consume": ("orchestrator", "cleanse_to_consume"),
    "sources.readers.read_input": ("plans.pipeline", "read_input"),
    "plans.lineage.numeric_audit": ("plans.lineage", "LineageLog.numeric_audit"),
    "mapping.custommapping": ("plans.pipeline", "custommapping"),
    "plans.dq_runner.run_dq_stage": ("plans.pipeline", "run_dq_stage"),
    "operators.registry.apply_transform_spec": ("plans.pipeline", "apply_transform_spec"),
    "catalog.enforce_schema_evolution": ("plans.writer", "enforce_schema_evolution"),
    "catalog.clear_partition": ("plans.writer", "clear_partition"),
    "plans.writer.write_cleanse_table": ("plans.pipeline", "write_cleanse_table"),
    "plans.writer.write_consume_table": ("plans.pipeline", "write_consume_table"),
    "operators.entitymatch.entity_match": ("orchestrator", "entity_match"),
    "operators.entitymatch.merge_into_primary": ("orchestrator", "merge_into_primary"),
    "sources.lakehouse_sql.sql_over_refs": ("sources.lakehouse_sql", "sql_over_refs"),
    "sources.lakehouse_sql.lakehouse_sql": ("sources.lakehouse_sql", "lakehouse_sql"),
    "sources.delta_lite.write_delta": ("sources.delta_lite", "write_delta"),
    "sources.delta_lite.delete_delta": ("sources.delta_lite", "delete_delta"),
    "sources.delta_lite.merge_delta": ("sources.delta_lite", "merge_delta"),
    "sources.delta_lite.read_delta": ("sources.delta_lite", "read_delta"),
    "sources.iceberg_lite.write_iceberg": ("sources.iceberg_lite", "write_iceberg"),
    "sources.iceberg_lite.overwrite_iceberg": ("sources.iceberg_lite", "overwrite_iceberg"),
    "sources.iceberg_lite.delete_iceberg": ("sources.iceberg_lite", "delete_iceberg"),
    "sources.iceberg_lite.merge_iceberg": ("sources.iceberg_lite", "merge_iceberg"),
    "sources.iceberg_lite.read_iceberg": ("sources.iceberg_lite", "read_iceberg"),
}
#: Spans the benchmark opens itself, around calls it makes directly.
OWN_SPANS = ("session.build_session",)
#: Spans that also report shuffle and spill bytes (writers, DQ, merges).
DATA_MOVING_SPANS = (
    "plans.dq_runner.run_dq_stage",
    "plans.writer.write_cleanse_table",
    "plans.writer.write_consume_table",
    "operators.entitymatch.merge_into_primary",
    "sources.delta_lite.merge_delta",
    "sources.iceberg_lite.merge_iceberg",
)
ROOT_SPAN = "orchestrator.run_pipeline"
ALL_SPANS = (*SPAN_PATCHES, *OWN_SPANS)


@dataclass
class SpanRecord:
    name: str
    start: float
    end: float = 0.0
    child_s: float = 0.0


@dataclass
class Tracer:
    """Records spans and sets one Spark job group per open span.

    While ``enabled`` is false the wrappers call straight through (set-up
    loads are not traced).  ``bookkeeping_s`` is the time spent opening and
    closing spans, job-group calls into the JVM included."""

    spark_context: object = None
    enabled: bool = True
    bookkeeping_s: float = 0.0
    spans: list[SpanRecord] = field(default_factory=list)
    _stack: list[SpanRecord] = field(default_factory=list)
    _patched: list[tuple[object, str, object]] = field(default_factory=list)

    def _set_group(self, group: str | None) -> None:
        if self.spark_context is not None:
            self.spark_context.setLocalProperty("spark.jobGroup.id", group)

    def open(self, name: str) -> SpanRecord:
        t0 = time.perf_counter()
        record = SpanRecord(name, time.time())
        self._stack.append(record)
        self._set_group(name)
        self.bookkeeping_s += time.perf_counter() - t0
        return record

    def close(self, record: SpanRecord) -> None:
        t0 = time.perf_counter()
        record.end = time.time()
        self._stack.pop()
        if self._stack:
            self._stack[-1].child_s += record.end - record.start
        self._set_group(self._stack[-1].name if self._stack else None)
        self.spans.append(record)
        self.bookkeeping_s += time.perf_counter() - t0

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            record = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(record)

        return traced

    def install(self) -> None:
        for name, (module_name, attr) in SPAN_PATCHES.items():
            owner = importlib.import_module(f"{PACKAGE}.{module_name}")
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part)
            original = getattr(owner, leaf)
            self._patched.append((owner, leaf, original))
            setattr(owner, leaf, self.wrap(name, original))

    def uninstall(self) -> None:
        while self._patched:
            owner, leaf, original = self._patched.pop()
            setattr(owner, leaf, original)


@dataclass
class JobInfo:
    group: str | None
    submitted_ms: int
    completed_ms: int = 0
    stage_ids: tuple = ()
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> dict[int, JobInfo]:
    """Jobs of every application logged under ``log_dir``, with task totals.

    Handles both single-file and rolling (``eventlog_v2_*/events_*``)
    layouts; logs must be written uncompressed."""
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    jobs: dict[int, JobInfo] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                event = json.loads(line)
                kind = event.get("Event")
                if kind == "SparkListenerJobStart":
                    job = JobInfo(
                        group=(event.get("Properties") or {}).get("spark.jobGroup.id"),
                        submitted_ms=int(event.get("Submission Time", 0)),
                        stage_ids=tuple(event.get("Stage IDs", ())),
                    )
                    jobs[event["Job ID"]] = job
                    for stage in job.stage_ids:
                        stage_job.setdefault(stage, event["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if event["Job ID"] in jobs:
                        jobs[event["Job ID"]].completed_ms = int(event.get("Completion Time", 0))
                elif kind == "SparkListenerTaskEnd":
                    job_id = stage_job.get(event.get("Stage ID"))
                    metrics = event.get("Task Metrics") or {}
                    if job_id is None or not metrics:
                        continue
                    job = jobs[job_id]
                    job.tasks += 1
                    job.executor_run_ms += int(metrics.get("Executor Run Time", 0))
                    job.executor_cpu_ns += int(metrics.get("Executor CPU Time", 0))
                    shuffle = metrics.get("Shuffle Write Metrics") or {}
                    job.shuffle_write_bytes += int(shuffle.get("Shuffle Bytes Written", 0))
                    job.spill_bytes += int(metrics.get("Disk Bytes Spilled", 0))
    return jobs


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def layer_report(spans: list[SpanRecord], jobs: dict[int, JobInfo]) -> dict[str, dict]:
    """Totals per span name over all recorded calls (see module doc)."""
    report: dict[str, dict] = {
        name: {"calls": 0, "wall_s": 0.0, "self_s": 0.0, "jobs": 0, "tasks": 0,
               "executor_run_s": 0.0, "executor_cpu_s": 0.0,
               "shuffle_bytes": 0, "spill_bytes": 0}
        for name in ALL_SPANS
    }
    for span in spans:
        entry = report[span.name]
        entry["calls"] += 1
        entry["wall_s"] += span.end - span.start
        entry["self_s"] += span.end - span.start - span.child_s
    for job in jobs.values():
        entry = report.get(job.group)
        if entry is None:
            continue
        entry["jobs"] += 1
        entry["tasks"] += job.tasks
        entry["executor_run_s"] += job.executor_run_ms / 1e3
        entry["executor_cpu_s"] += job.executor_cpu_ns / 1e9
        entry["shuffle_bytes"] += job.shuffle_write_bytes
        entry["spill_bytes"] += job.spill_bytes
    # root span: wall time no Spark job was running = driver-side work
    root = report[ROOT_SPAN]
    root["driver_only_s"] = 0.0
    for span in spans:
        if span.name != ROOT_SPAN:
            continue
        lo, hi = span.start * 1e3, span.end * 1e3
        busy = [
            (max(job.submitted_ms, lo), min(job.completed_ms or hi, hi))
            for job in jobs.values()
            if lo <= job.submitted_ms <= hi
        ]
        root["driver_only_s"] += (hi - lo - _union_ms(busy)) / 1e3
    return report


def per_layer_metrics(report: dict[str, dict], loads: int) -> dict[str, float]:
    """Flatten a report into ``<span>.<metric>`` values per traced load
    (``session.build_session`` is per run: it is called once)."""
    out: dict[str, float] = {}
    for name in ALL_SPANS:
        entry = report[name]
        per = 1 if name in OWN_SPANS else max(loads, 1)
        keys = ["self_s", "jobs", "executor_cpu_s"]
        if name in DATA_MOVING_SPANS:
            keys += ["shuffle_bytes", "spill_bytes"]
        if name == ROOT_SPAN:
            keys.append("driver_only_s")
        for key in keys:
            out[f"{name}.{key}"] = entry[key] / per
    return out
