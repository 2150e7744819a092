"""Probe registered gates in one warm session.

Usage:
    python tools/probe_gate.py <sf_dir> <gate> [gate...] [--runs N]
        [--profile] [--streams] [--save-plan SUFFIX]

Every invocation of a gate runs inside its own ``gate_scope``.  Per gate:

- one warmup invocation, reporting the Spark jobs it submits;
  ``--save-plan SUFFIX`` also writes its ``.explain('formatted')`` plan to
  ``plans/<round>/<gate>_<SUFFIX>.txt`` (round dir r13, or
  $SPARK_GRAFT_PLAN_DIR);
- N timed runs (default 2): the min wall, normalized by bench.py's md5
  calibration probe sampled around them;
- ``--streams``: the fastest run's per-stream start/drain seconds and each
  micro-batch's ``durationMs`` (wraps ``pipeline_ops._drain_stream``; the
  start includes the driver-side Python source runner spawn);
- ``--profile``: one more run under cProfile, top 45 functions by
  cumulative time — Python-side work (snapshot/manifest metadata, footer
  stats, planning) against time blocked in py4j awaiting Spark jobs
  (``socket.recv`` under ``java_gateway``).
"""

from __future__ import annotations

import argparse
import cProfile
import io
import os
import pstats
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import CALIB_REF, calib_sample, materialize, timed_gate  # noqa: E402

from aws_insurancelake_etl_spark.queries import (  # noqa: E402
    all_queries,
    gate_scope,
    pipeline_ops,
)
from aws_insurancelake_etl_spark.session import build_session  # noqa: E402


class _TimedWriter:
    """Stands in for the writer ``_drain_stream`` starts and times its
    ``start()``."""

    def __init__(self, writer):
        self.writer, self.start_sec = writer, 0.0

    def trigger(self, **kwargs):
        self.writer = self.writer.trigger(**kwargs)
        return self

    def start(self):
        t0 = time.time()
        query = self.writer.start()
        self.start_sec = time.time() - t0
        return query


def _trace_streams(phases: list) -> None:
    drain = pipeline_ops._drain_stream

    def traced(spark, writer, keyspace=None):
        timed = _TimedWriter(writer)
        t0 = time.time()
        query = drain(spark, timed, keyspace)
        phases.append({
            "start_sec": round(timed.start_sec, 3),
            "drain_sec": round(time.time() - t0 - timed.start_sec, 3),
            "batches": [(p.numInputRows, p.durationMs)
                        for p in query.recentProgress],
        })
        return query

    pipeline_ops._drain_stream = traced


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("gates", nargs="+")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--profile", action="store_true")
    ap.add_argument("--streams", action="store_true")
    ap.add_argument("--save-plan", metavar="SUFFIX")
    args = ap.parse_args()

    phases: list[dict] = []
    if args.streams:
        _trace_streams(phases)
    plan_dir = os.path.join(
        ROOT, "plans", os.environ.get("SPARK_GRAFT_PLAN_DIR", "r13"))
    spark = build_session(app_name="probe-gate",
                          extra_confs={"spark.ui.enabled": "false"})
    sc = spark.sparkContext
    queries = all_queries()
    for name in args.gates:
        fn = queries[name]
        with gate_scope(spark):
            sc.setJobGroup(f"probe-{name}", name)
            df = fn(spark, args.sf_dir)
            if args.save_plan:
                os.makedirs(plan_dir, exist_ok=True)
                path = os.path.join(plan_dir, f"{name}_{args.save_plan}.txt")
                with open(path, "w", encoding="utf-8") as fh:
                    fh.write(sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                        df._jdf.queryExecution(), "formatted"))
                print(f"wrote {path}", flush=True)
            materialize(df)
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(f"probe-{name}"))
        print(f"JOBS {name}: {n_jobs} Spark jobs per run", flush=True)

        best, best_phases, calibs = None, [], []
        for _ in range(args.runs):
            calibs.append(calib_sample())
            phases.clear()
            wall = timed_gate(spark, fn, args.sf_dir)
            if best is None or wall < best:
                best, best_phases = wall, list(phases)
        calibs.append(calib_sample())
        med = sorted(calibs)[len(calibs) // 2]
        print(f"WALL {name}: min of {args.runs} = {best:.3f}s  "
              f"norm = {best * CALIB_REF / med:.3f}s  "
              f"(calib med {med:.4f}, {calibs})", flush=True)
        if best_phases:
            in_streams = sum(p["start_sec"] + p["drain_sec"] for p in best_phases)
            print(f"  streams {in_streams:.3f}s, outside {best - in_streams:.3f}s")
        for i, p in enumerate(best_phases):
            print(f"  stream[{i}] start={p['start_sec']}s "
                  f"drain={p['drain_sec']}s")
            for rows, duration_ms in p["batches"]:
                print(f"    batch rows={rows} durationMs={duration_ms}")

        if args.profile:
            prof = cProfile.Profile()
            with gate_scope(spark):
                prof.enable()
                materialize(fn(spark, args.sf_dir))
                prof.disable()
            buf = io.StringIO()
            pstats.Stats(prof, stream=buf).sort_stats("cumulative").print_stats(45)
            print(buf.getvalue())
    spark.stop()


if __name__ == "__main__":
    main()
