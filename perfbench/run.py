#!/usr/bin/env python3
"""File-drop load benchmark: one dropped policy file, loaded, is the unit.

Usage (from the repository root):

    python3 perfbench/run.py --workload drops_small --seed 1 --seconds 20 --trace 0

A closed loop with one client: the benchmark generates a seeded policy drop,
hands it to ``orchestrator.run_pipeline`` on a ``local[4]`` session, runs a
fixed set of analyst queries against the zones it loaded, and only then
makes the next drop, until ``--seconds`` have passed and at least
``MIN_LOADS`` loads succeeded.  After the loop, and
outside the timed region, it checks every successful load against the
values the generator expects.

The last line of standard output is one JSON object with ``correct``,
``attempted`` (loads), ``failed`` (loads) and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import drops
import spans

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE_DIR = os.path.join(ROOT, "aws_insurancelake_etl_spark")
WORK_PARENT = os.path.join(ROOT, ".perfbench_work")
CPUS = 4
#: driver heap: local mode runs driver and executors in this one JVM
DRIVER_MEM = "2g"
#: the entity-match MERGE's failure on two rows resolving to one global id
KNOWN_DEFECT = "MERGE source has duplicate key"
WARMUP_ROWS = 200
#: successful timed loads per run, whatever ``--seconds`` says
MIN_LOADS = 4
#: with a shorter ``--seconds``, the loop stops after this long even without
#: MIN_LOADS successes, so a run ends within its time limit when loads keep
#: failing
MAX_LOOP_S = 90.0


@dataclass(frozen=True)
class Workload:
    rows_per_drop: int
    #: table formats each drop is loaded into, one dataset per format
    formats: tuple[str, ...]
    upsert: bool


WORKLOADS = {
    "drops_small": Workload(20_000, ("parquet",), upsert=False),
    "upsert_iceberg_delta": Workload(2_000, ("iceberg", "delta"), upsert=True),
}


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest order statistic with at least ten
    samples above it; the maximum when there are ten samples or fewer."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= 10:
        return ordered[-1], 100.0
    return ordered[n - 11], 100.0 * (n - 10) / n


def tree_bytes(path: str, skip_prefix: str) -> int:
    """Bytes of the files under ``path``, skipping top-level entries that
    start with ``skip_prefix``."""
    total = 0
    for top in os.listdir(path):
        if top.startswith(skip_prefix):
            continue
        for dirpath, _, files in os.walk(os.path.join(path, top)):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


@dataclass
class LoadRecord:
    fmt: str
    drop_index: int
    rows: int
    #: wall time scaled to a host that steals no CPU time (see ``Interval``)
    seconds: float
    wall_s: float
    error: str = ""

    @property
    def ok(self) -> bool:
        return not self.error


@dataclass
class RunState:
    setup_s: float = 0.0
    setup_wall_s: float = 0.0
    loop_s: float = 0.0
    #: timed loads; set-up loads are in ``checked`` only
    loads: list[LoadRecord] = field(default_factory=list)
    #: successful loads whose outputs the checks compare: (fmt, drop index)
    checked: list[tuple[str, int]] = field(default_factory=list)
    drops: list = field(default_factory=list)
    query_s: list[float] = field(default_factory=list)
    query_wall_s: list[float] = field(default_factory=list)
    #: share of the runnable CPU time the hypervisor took during the loop
    steal_share: float = 0.0
    #: CSV bytes of every drop loaded into the measured datasets
    csv_bytes: int = 0
    warehouse_bytes: int = 0
    problems: list[str] = field(default_factory=list)
    #: per format: rows copied per row changed, one value per MERGE commit
    waste: dict[str, list[float]] = field(default_factory=dict)


def prepare_environment(work: str) -> None:
    """Environment the session and its Python workers inherit; runs before
    pyspark is imported, so every file Spark writes stays under ``work``."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the package too (the entity match runs UDFs)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    tempfile.tempdir = os.environ["TMPDIR"]
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def build(work: str, trace: bool):
    from aws_insurancelake_etl_spark.session import build_session  # noqa: PLC0415

    java_tmp = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    confs = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": java_tmp,
        "spark.executor.extraJavaOptions": java_tmp,
    }
    if trace:
        os.makedirs(os.path.join(work, "events"), exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
        })
    return build_session(
        app_name="perfbench", master=f"local[{CPUS}]",
        warehouse_dir=os.path.join(work, "warehouse"), extra_confs=confs,
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until its JVM (and the Python workers it forked)
    has exited."""
    from pyspark import SparkContext  # noqa: PLC0415

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the wait below decides
        pass
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)


class Dataset:
    """One dataset the loop loads: a table format and its zone names."""

    def __init__(self, spark, fmt: str, paths: dict, upsert: bool, db: str) -> None:
        self.spark, self.fmt, self.paths, self.upsert, self.db = spark, fmt, paths, upsert, db
        self.cleanse = f"{db}.{drops.TABLE}"
        self.consume = f"{db}_consume.{drops.TABLE}"
        self.quarantine = f"{db}.{drops.TABLE}_quarantine_after_transform"
        self.primary = f"{db}_consume.{drops.PRIMARY_TABLE}"
        drops.write_config(paths["config"], paths["lookup"], database=db)

    def load(self, path: str) -> None:
        from aws_insurancelake_etl_spark import orchestrator  # noqa: PLC0415

        orchestrator.run_pipeline(
            self.spark, path, self.paths["landing"], self.paths["config"],
            lookup_dir=self.paths["lookup"], table_format=self.fmt,
            entitymatch_spec=drops.ENTITYMATCH_SPEC if self.upsert else None,
        )
        if self.upsert and self.fmt != "parquet":
            # the orchestrator addresses the primary by path; analyst SQL
            # reads it by name
            from aws_insurancelake_etl_spark.sources.lakehouse_sql import (  # noqa: PLC0415
                register_table,
            )

            register_table(self.primary, self.fmt, self.primary_path(), spark=self.spark)

    def primary_path(self) -> str:
        from aws_insurancelake_etl_spark.plans.writer import (  # noqa: PLC0415
            lakehouse_table_path,
        )

        return lakehouse_table_path(self.spark, f"{self.db}_consume", drops.PRIMARY_TABLE)

    def sql(self, text: str):
        """Catalog tables through Spark; lakehouse tables through the names
        registered with the SQL front-end."""
        if self.fmt == "parquet":
            return self.spark.sql(text).collect()
        from aws_insurancelake_etl_spark.sources import lakehouse_sql  # noqa: PLC0415

        return lakehouse_sql.lakehouse_sql(self.spark, text).collect()

    def queries(self) -> list[str]:
        """The analyst queries run after every load of this dataset: two
        over the consume zone (this drop), two over the whole cleanse zone,
        one over the quarantine table, and one over the entity primary on
        upsert datasets or over policy months on the others."""
        out = [
            f"SELECT statename, count(*) AS policies, sum(writtenpremium) AS premium"
            f" FROM {self.consume} GROUP BY statename ORDER BY premium DESC",
            f"SELECT agentcode, sum(writtenpremium) AS premium FROM {self.consume}"
            f" GROUP BY agentcode ORDER BY premium DESC, agentcode LIMIT 10",
            f"SELECT lobcode, neworrenewal, count(*) AS policies, sum(writtenpremium)"
            f" FROM {self.cleanse} GROUP BY lobcode, neworrenewal",
            f"SELECT year, month, count(*) AS policies, sum(writtenpremium)"
            f" FROM {self.cleanse} GROUP BY year, month",
            f"SELECT year, month, day, count(*) FROM {self.quarantine}"
            f" GROUP BY year, month, day",
        ]
        if self.upsert:
            out.append(f"SELECT count(*), count(DISTINCT gid) FROM {self.primary}")
        else:
            out.append(f"SELECT lobcode, avg(policymonths), avg(writtenpremium)"
                       f" FROM {self.consume} GROUP BY lobcode")
        return out

    def consume_rows(self) -> int:
        return self.sql(f"SELECT count(*) FROM {self.consume}")[0][0]

    def check(self, drop_indexes: list[int], drops_made: list) -> list[str]:
        """Compare the cleanse and quarantine partitions of the given drops
        (and the primary's global ids) with the generator's values."""
        totals = {
            (r[0], r[1], r[2]): (r[3], int(round(r[4] * 100)))
            for r in self.sql(
                f"SELECT CAST(year AS STRING), CAST(month AS STRING), CAST(day AS STRING),"
                f" count(*), sum(writtenpremium) FROM {self.cleanse} GROUP BY year, month, day"
            )
        }
        # the quarantine writer always lands catalog parquet tables
        quarantined = {
            (r[0], r[1], r[2]): r[3]
            for r in self.spark.sql(
                f"SELECT CAST(year AS STRING), CAST(month AS STRING), CAST(day AS STRING),"
                f" count(*) FROM {self.quarantine} GROUP BY year, month, day"
            ).collect()
        }
        problems = []
        for index in drop_indexes:
            drop = drops_made[index]
            key = (drop.partition["year"], drop.partition["month"], drop.partition["day"])
            want = (drop.expected.cleanse_rows, drop.expected.premium_cents)
            if totals.get(key) != want:
                problems.append(f"{self.fmt} drop {index}: cleanse {totals.get(key)} != {want}")
            if quarantined.get(key, 0) != drop.expected.quarantine_rows:
                problems.append(f"{self.fmt} drop {index}: quarantine "
                                f"{quarantined.get(key, 0)} != {drop.expected.quarantine_rows}")
        if self.upsert:
            n, with_gid, distinct = self.sql(
                f"SELECT count(*), count(gid), count(DISTINCT gid) FROM {self.primary}"
            )[0]
            if with_gid != n:
                problems.append(f"{self.primary}: {n - with_gid} null gid")
            if distinct != with_gid:
                problems.append(f"{self.primary}: {with_gid - distinct} duplicate gid")
        return problems

    def rows_copied_per_row_changed(self, rows_changed: int) -> float | None:
        """Waste ratio of the last commit to the primary when it was a
        MERGE, read from the format's own commit metadata: rows the commit
        wrote beyond the source rows it changed, per changed row."""
        path = self.primary_path()
        if self.fmt == "delta":
            log = os.path.join(path, "_delta_log")
            last = max(f for f in os.listdir(log) if f.endswith(".json"))
            with open(os.path.join(log, last), encoding="utf-8") as fh:
                info = next(a["commitInfo"] for a in map(json.loads, fh) if "commitInfo" in a)
            if info.get("operation") != "MERGE":
                return None
            written = int(info["operationMetrics"]["numOutputRows"])
        else:
            meta_dir = os.path.join(path, "metadata")
            last = max(
                (f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")),
                key=lambda f: os.path.getmtime(os.path.join(meta_dir, f)),
            )
            with open(os.path.join(meta_dir, last), encoding="utf-8") as fh:
                meta = json.load(fh)
            snap = next(s for s in meta["snapshots"]
                        if s["snapshot-id"] == meta.get("current-snapshot-id"))
            if "parent-snapshot-id" not in snap:
                return None
            written = int(snap["summary"].get("added-records", 0))
        return (written - rows_changed) / max(rows_changed, 1)


def run_workload(spark, tracer, workload: Workload, seed: int, seconds: float,
                 trace: bool, work: str, state: RunState, setup: Interval) -> None:
    paths = {name: os.path.join(work, name) for name in ("landing", "config", "lookup")}
    datasets = [
        Dataset(spark, fmt, paths, workload.upsert,
                drops.DATABASE if fmt == "parquet" else f"{drops.DATABASE}_{fmt}")
        for fmt in workload.formats
    ]
    gen = drops.DropGenerator(seed=seed, rows_per_drop=workload.rows_per_drop,
                              upsert=workload.upsert)

    # ---- set-up, after the session build: warm every format's code path.
    # Upsert datasets take their first drop here, which seeds the primary,
    # so every timed load is a match + MERGE; the others warm up on a
    # throwaway dataset.
    tracer.enabled = False
    first = 0
    if workload.upsert:
        state.drops.append(gen.make_drop(0))
        for ds in datasets:
            ds.load(state.drops[0].place(paths["landing"], ds.db))
            state.checked.append((ds.fmt, 0))
            state.csv_bytes += len(state.drops[0].data)
        first = 1
    else:
        warm = drops.DropGenerator(seed=seed + 1, rows_per_drop=WARMUP_ROWS).make_drop(0)
        for ds in datasets:
            warm_ds = Dataset(spark, ds.fmt, paths, False, f"warmup_{ds.db}")
            warm_ds.load(warm.place(paths["landing"], warm_ds.db))
    state.setup_wall_s, state.setup_s = setup.stop()

    # ---- timed closed loop: one drop at a time, queries after each load
    loop = Interval()
    t_start = time.perf_counter()
    index = first
    done = False
    while not done:
        drop = gen.make_drop(index)
        state.drops.append(drop)
        for ds in datasets:
            path = drop.place(paths["landing"], ds.db)
            tracer.enabled = trace
            timer = Interval()
            error = ""
            try:
                ds.load(path)
            except Exception as exc:  # noqa: BLE001 - counted, then classified
                error = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
                if KNOWN_DEFECT not in error:
                    traceback.print_exc()
            wall, unstolen = timer.stop()
            state.loads.append(LoadRecord(ds.fmt, index, drop.rows, unstolen, wall, error))
            print(f"load {ds.fmt} drop {index}: {wall:.2f}s wall, {unstolen:.2f}s unstolen {error}")
            state.csv_bytes += len(drop.data)
            for text in ds.queries():
                timer = Interval()
                ds.sql(text)
                wall, unstolen = timer.stop()
                state.query_wall_s.append(wall)
                state.query_s.append(unstolen)
            tracer.enabled = False

            # untimed: the consume zone holds exactly this drop's rows
            if error:
                if KNOWN_DEFECT not in error:
                    state.problems.append(f"{ds.fmt} load {index}: {error}")
            else:
                state.checked.append((ds.fmt, index))
                got = ds.consume_rows()
                if got != drop.expected.consume_rows:
                    state.problems.append(f"{ds.fmt} load {index}: consume rows {got} != "
                                          f"{drop.expected.consume_rows}")
                if trace and workload.upsert:
                    ratio = ds.rows_copied_per_row_changed(drop.expected.consume_rows)
                    if ratio is not None:
                        state.waste.setdefault(ds.fmt, []).append(ratio)
        index += 1
        # whole drops only, so every format has as many timed loads; at
        # least MIN_LOADS successes, so neither a slow host nor a failed
        # load thins out the sample
        elapsed = time.perf_counter() - t_start
        done = (sum(r.ok for r in state.loads) >= MIN_LOADS and elapsed >= seconds
                or elapsed >= max(seconds, MAX_LOOP_S))
    state.loop_s, unstolen = loop.stop()
    state.steal_share = 1 - unstolen / state.loop_s

    # ---- correctness, outside the timed region
    for ds in datasets:
        state.problems.extend(ds.check(
            [i for fmt, i in state.checked if fmt == ds.fmt], state.drops))
    state.warehouse_bytes = tree_bytes(os.path.join(work, "warehouse"), "warmup_")


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) CPU time of the whole machine since boot, from
    ``/proc/stat``; (0, 0) where the kernel does not report it."""
    try:
        with open("/proc/stat", encoding="ascii") as fh:
            f = [int(x) for x in fh.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    if len(f) < 8:
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = f
    return user + nice + system + irq + softirq, steal


class Interval:
    """Wall time of a stretch of work, and that time on a host whose
    hypervisor takes no CPU time from it.

    On a virtual machine the hypervisor can withhold a vCPU that has work
    to run; the kernel counts that as steal time.  The stolen share of the
    runnable CPU time, steal / (busy + steal), is a property of the host
    that the program's state does not set, and a CPU-bound stretch runs
    that much slower: it is scaled back by (1 - share).  Without steal
    accounting the two times are equal."""

    def __init__(self) -> None:
        self.t0 = time.perf_counter()
        self.cpu0 = cpu_jiffies()

    def stop(self) -> tuple[float, float]:
        wall = time.perf_counter() - self.t0
        busy, stolen = (b - a for a, b in zip(self.cpu0, cpu_jiffies()))
        share = stolen / (busy + stolen) if busy + stolen > 0 else 0.0
        return wall, wall * (1 - share)


def end_to_end_metrics(state: RunState) -> dict:
    """Timings are unstolen times (see ``Interval``).  Load timings are over
    successful loads: a load that fails at the known defect skips the
    MERGE, so it would flatter the median."""
    ok = [r for r in state.loads if r.ok]
    print(f"wall times: setup {state.setup_wall_s:.3f}s, load p50 "
          f"{statistics.median(r.wall_s for r in ok):.3f}s, query p50 "
          f"{statistics.median(state.query_wall_s):.3f}s")
    return {
        "setup_s": (state.setup_s, "s"),
        "load_p50_s": (statistics.median(r.seconds for r in ok), "s"),
        "rows_per_s": (sum(r.rows for r in ok) / sum(r.seconds for r in ok), "rows/s"),
        "query_p50_s": (statistics.median(state.query_s), "s"),
        "query_tail_s": (tail(state.query_s)[0], "s"),
        "space_amp": (state.warehouse_bytes / state.csv_bytes, "ratio"),
    }


def layer_metrics(state: RunState, tracer, work: str, trace_out: str | None) -> dict:
    jobs = spans.read_event_log(os.path.join(work, "events"))
    report = spans.layer_report(tracer.spans, jobs)
    loads = len(state.loads)
    units = {"jobs": "count", "shuffle_bytes": "bytes", "spill_bytes": "bytes"}
    metrics = {
        key: (value, units.get(key.rsplit(".", 1)[1], "s"))
        for key, value in spans.per_layer_metrics(report, loads).items()
    }
    # tracing overhead = trace.load_p50_s minus load_p50_s of an untraced run
    metrics["trace.load_p50_s"] = (
        statistics.median(r.seconds for r in state.loads if r.ok), "s")
    metrics["trace.bookkeeping_s"] = (tracer.bookkeeping_s / loads, "s")
    metrics["orchestrator.run_pipeline.fail_frac"] = (
        sum(not r.ok for r in state.loads) / len(state.loads), "ratio")
    for fmt, fn in (("delta", "sources.delta_lite.merge_delta"),
                    ("iceberg", "sources.iceberg_lite.merge_iceberg")):
        values = state.waste.get(fmt, [])
        metrics[f"{fn}.rows_copied_per_row_changed"] = (
            statistics.mean(values) if values else 0.0, "ratio")
    if trace_out:
        with open(trace_out, "w", encoding="utf-8") as fh:
            json.dump({"report": report, "loads": [vars(r) for r in state.loads],
                       "waste": state.waste,
                       "job_groups": [jobs[j].group for j in sorted(jobs)]}, fh, indent=1)
    print("per_layer " + json.dumps({k: v[0] for k, v in metrics.items()}))
    return metrics


def run(workload_name: str, seed: int, seconds: float, trace: bool, work: str,
        trace_out: str | None) -> dict | None:
    tracer = spans.Tracer(enabled=trace)
    state = RunState()
    setup = Interval()
    record = tracer.open("session.build_session") if trace else None
    spark = build(work, trace)
    if record is not None:
        tracer.close(record)
    try:
        tracer.spark_context = spark.sparkContext
        if trace:
            tracer.install()
        run_workload(spark, tracer, WORKLOADS[workload_name], seed, seconds, trace,
                     work, state, setup)
    finally:
        tracer.uninstall()
        from aws_insurancelake_etl_spark.sources import lakehouse_sql  # noqa: PLC0415

        for name in list(lakehouse_sql.registered_tables(spark)):
            lakehouse_sql.unregister_table(name, spark)
        stop_session(spark)

    ok_s = [r.seconds for r in state.loads if r.ok]
    failed = len(state.loads) - len(ok_s)
    query_tail, query_pct = tail(state.query_s)
    print(f"outputs_ok {not state.problems}")
    for problem in state.problems[:20]:
        print(f"  problem: {problem}")
    print(f"loads {len(state.loads)} (failed {failed}, of which {KNOWN_DEFECT!r}: "
          f"{sum(KNOWN_DEFECT in r.error for r in state.loads)}), "
          f"slowest successful {max(ok_s, default=math.nan):.3f}s; "
          f"queries {len(state.query_s)}, query tail p{query_pct:.0f} {query_tail:.3f}s; "
          f"loop {state.loop_s:.1f}s")
    print(f"host steal {100 * state.steal_share:.1f} % of runnable CPU time during the loop")
    if not ok_s:
        print("no timed load succeeded", file=sys.stderr)
        return None
    metrics = (layer_metrics(state, tracer, work, trace_out) if trace
               else end_to_end_metrics(state))
    return {
        "correct": not state.problems,
        "attempted": len(state.loads),
        "failed": failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }


def remove_stale_work_dirs() -> None:
    """Work dirs of runs that were killed before they could clean up."""
    if not os.path.isdir(WORK_PARENT):
        return
    for name in os.listdir(WORK_PARENT):
        pid = name.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK_PARENT, name), ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    parser.add_argument("--trace-out", default=None,
                        help="with --trace 1, also write the full per-span report here")
    args = parser.parse_args(argv)

    if not os.path.isdir(PACKAGE_DIR):
        print(f"package not found at {PACKAGE_DIR}; run from a full checkout",
              file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    remove_stale_work_dirs()
    work = os.path.join(WORK_PARENT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        prepare_environment(work)
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work,
                     args.trace_out)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(WORK_PARENT) and not os.listdir(WORK_PARENT):
            os.rmdir(WORK_PARENT)
    if result is None:
        return 1
    if not all(math.isfinite(m["value"]) for m in result["metrics"].values()):
        print("a metric is not a finite number", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
