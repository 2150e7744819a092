"""File-drop orchestrator: path convention → three-stage pipeline run.

Re-hosts the reference's control plane (S3 event → Lambda path parsing →
Step Functions → Glue jobs; ``state_machine_trigger/lambda_handler.py:85-248``
and ``step_functions_stack.py:100-152``) as one in-process runner:

- dropped file path ``<landing>/<source_system>/<table>/[yyyy/mm/dd/]file``
  names the target database/table;
- partition y/m/d comes from the path override when present, else today;
- stages run in sequence: Collect→Cleanse → Cleanse→Consume (if SQL config
  exists) → Entity-Match (if an entitymatch spec exists);
- every run appends an audit record (the DynamoDB job-audit table becomes a
  JSONL log).
"""

from __future__ import annotations

import datetime
import json
import os
import re
import uuid

from .config import load_dataset_config
from .context import LookupStore, RunContext
from .operators.entitymatch import entity_match, merge_into_primary
from .plans.lineage import LineageLog
from .plans.pipeline import cleanse_to_consume, collect_to_cleanse

_DATE_DIR_RE = re.compile(r"(\d{4})/(\d{1,2})/(\d{1,2})")


def parse_drop_path(path: str, landing_root: str) -> dict:
    """``<root>/<source_system>/<table>/[yyyy/mm/dd/]file`` → run args."""
    rel = os.path.relpath(path, landing_root)
    parts = rel.split(os.sep)
    if len(parts) < 3:
        raise ValueError(
            f"Dropped file path {rel!r} must be <source_system>/<table>/[yyyy/mm/dd/]file"
        )
    database, table, *rest = parts
    file_name = rest[-1]
    date_match = _DATE_DIR_RE.search("/".join(rest[:-1]))
    if date_match:
        year, month, day = date_match.groups()
    else:
        today = datetime.date.today()
        year, month, day = str(today.year), str(today.month), str(today.day)
    return {
        "database": database,
        "table": table,
        "base_file_name": file_name,
        "partition": {"year": year.zfill(4), "month": month.zfill(2), "day": day.zfill(2)},
    }


def run_pipeline(
    spark,
    dropped_file: str,
    landing_root: str,
    config_dir: str,
    lookup_dir: str | None = None,
    audit_log: str | None = None,
    entitymatch_spec: dict | None = None,
    allow_schema_change: str = "permissive",
    table_format: str = "parquet",
) -> dict:
    """Run the full pipeline for one dropped file; returns a run summary.

    ``table_format="delta"|"iceberg"`` lands BOTH zones on
    transactional tables (partition-aligned clears, one-commit
    rebuilds, time travel, SQL-by-name via the registry)."""
    args = parse_drop_path(dropped_file, landing_root)
    database, table = args["database"], args["table"]
    execution_id = str(uuid.uuid4())

    ctx = RunContext(
        spark=spark,
        args={"base_file_name": args["base_file_name"], "execution_id": execution_id,
              "database": database, "table": table},
        lineage=LineageLog(execution_id=execution_id, dataset=f"{database}/{table}"),
        lookups=LookupStore(lookup_dir),
    )
    config = load_dataset_config(config_dir, database, table)

    summary: dict = {"execution_id": execution_id, "database": database, "table": table,
                     "partition": args["partition"], "stages": []}

    # frames the stages and the entity match cache are this load's
    # alone: release them when it ends, or a long-lived session keeps
    # every load's cached blocks
    try:
        result = collect_to_cleanse(
            ctx, dropped_file, database, table, config, args["partition"],
            allow_schema_change, table_format=table_format,
        )
        summary["stages"].append("collect_to_cleanse")
        # The row count was observed inside the cleanse write job itself
        # (df.observe) — re-counting here would scan the stage output a
        # second time.  Fall back to count() only when lineage was disabled.
        summary["cleanse_row_count"] = (
            result.row_count if result.row_count is not None else result.df.count()
        )
        if result.recommendations:
            summary["recommendations"] = result.recommendations

        if config.spark_sql:
            consume = cleanse_to_consume(
                ctx,
                config.spark_sql,
                database=f"{database}_consume",
                table=table,
                config=config,
                substitutions={"database": database, "table": table, **args["partition"]},
                table_format=table_format,
            )
            summary["stages"].append("cleanse_to_consume")
            if entitymatch_spec:
                from pyspark.sql import functions as F  # noqa: PLC0415

                gid = entitymatch_spec["global_id_field"]
                primary_name = entitymatch_spec["primary_entity_table"]
                if table_format in ("delta", "iceberg"):
                    # lakehouse primary: a transactional path table upserted
                    # through the SQL front-end's MERGE (one commit)
                    from .plans.writer import lakehouse_table_path  # noqa: PLC0415
                    from .sources import delta_lite, iceberg_lite  # noqa: PLC0415

                    ppath = lakehouse_table_path(
                        spark, f"{database}_consume", primary_name
                    )
                    exists = (
                        delta_lite.is_delta_table(ppath)
                        if table_format == "delta"
                        else iceberg_lite.is_iceberg_table(ppath)
                    )
                    if exists:
                        primary = (
                            delta_lite.read_delta(spark, ppath)
                            if table_format == "delta"
                            else iceberg_lite.read_iceberg(spark, ppath)
                        )
                        matched = entity_match(consume.df, primary, entitymatch_spec)
                        merge_into_primary(
                            spark, matched,
                            f"{table_format}.`{ppath}`", gid,
                        )
                    else:
                        first = consume.df.withColumn(
                            gid,
                            F.coalesce(
                                F.col(gid) if gid in consume.df.columns
                                else F.lit(None),
                                F.expr("uuid()"),
                            ),
                        )
                        if table_format == "delta":
                            delta_lite.write_delta(first, ppath)
                        else:
                            import os as _os  # noqa: PLC0415

                            _os.makedirs(ppath, exist_ok=True)
                            iceberg_lite.write_iceberg(spark, first, ppath)
                else:
                    primary_table = f"{database}_consume.{primary_name}"
                    if spark.catalog.tableExists(primary_table):
                        primary = spark.table(primary_table)
                        matched = entity_match(consume.df, primary, entitymatch_spec)
                        merge_into_primary(
                            spark, matched, primary_table, gid
                        )
                    else:
                        first = consume.df.withColumn(
                            gid,
                            F.coalesce(
                                F.col(gid) if gid in consume.df.columns else F.lit(None), F.expr("uuid()")
                            ),
                        )
                        first.write.mode("overwrite").format("parquet").saveAsTable(primary_table)
                summary["stages"].append("entity_match")
    finally:
        ctx.release_cached()

    if audit_log:
        with open(audit_log, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(summary, default=str) + "\n")
    return summary


class JobAudit:
    """JSONL-backed job-audit table — in-process stand-in for the reference's
    DynamoDB audit table (``lib/state_machine_trigger/lambda_handler.py:13-36``,
    GSIs ``source_key-job_start_date_int`` / ``job_latest_status-dependency_key``
    per ``dynamodb_stack.py``).  Log-structured: every record/update appends a
    full item and the latest record per execution_id wins, so the file doubles
    as the job history."""

    def __init__(self, path: str):
        self.path = path

    def _append(self, item: dict) -> None:
        with open(self.path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps(item, default=str) + "\n")

    def items(self) -> dict[str, dict]:
        latest: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path, encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        item = json.loads(line)
                        latest[item["execution_id"]] = item
        return latest

    def record(self, execution_id: str, source_key: str, status: str,
               dependency_keys: list[str] | None = None, **extra) -> None:
        self._append({
            "execution_id": execution_id,
            "source_key": source_key,
            "job_latest_status": status,
            "job_start_ts": extra.pop("job_start_ts", datetime.datetime.now().timestamp()),
            "dependency_keys": dependency_keys or [],
            **extra,
        })

    def update_status(self, execution_id: str, status: str, **extra) -> None:
        item = self.items()[execution_id]
        item["job_latest_status"] = status
        item["job_last_updated_ts"] = datetime.datetime.now().timestamp()
        item.update(extra)
        self._append(item)

    def succeeded_within(self, source_key: str, lookback: dict | None) -> bool:
        """True iff a run of ``source_key`` SUCCEEDED inside the lookback
        window (relativedelta kwargs, e.g. ``{"hours": 4}``; ``None`` = any
        time) — reference ``dependency_job_lookback`` (:38-82)."""
        from dateutil import relativedelta  # noqa: PLC0415

        floor = 0.0
        if lookback:
            floor = (
                datetime.datetime.now() - relativedelta.relativedelta(**lookback)
            ).timestamp()
        return any(
            item["source_key"] == source_key
            and item["job_latest_status"] == "SUCCEEDED"
            and item["job_start_ts"] > floor
            for item in self.items().values()
        )

    def queued_jobs(self, dependency_key: str) -> list[dict]:
        """QUEUED items that declare ``dependency_key`` as an upstream —
        reference ``dependency_trigger/lambda_handler.py:60-99``."""
        return [
            item
            for item in self.items().values()
            if item["job_latest_status"] == "QUEUED"
            and dependency_key in item.get("dependency_keys", [])
        ]


def load_dependency_spec(config_dir: str, database: str, table: str) -> dict | None:
    """``<config_dir>/<database>-<table>-dependent.json`` →
    ``{"depends_on": ["sys/table", ...], "lookback": {...}}`` or None —
    the reference's dependent-workflow spec discovery
    (``lambda_handler.py:157-178``)."""
    path = os.path.join(config_dir, f"{database}-{table}-dependent.json")
    if not os.path.exists(path):
        return None
    with open(path, encoding="utf-8") as fh:
        return json.load(fh)


def run_or_queue(
    spark,
    dropped_file: str,
    landing_root: str,
    config_dir: str,
    audit: JobAudit,
    **run_kwargs,
) -> dict:
    """Dependency-aware entry point: run the dropped file's pipeline now, or
    queue it until every upstream in its dependent-workflow spec has a
    successful run — then release any downstream jobs this run unblocks.

    Mirrors the reference control flow: queue when a dependent spec with
    ``depends_on`` exists (``lambda_handler.py:157-178``), run immediately
    when a ``lookback`` is declared and every dependency already succeeded
    inside the window (:38-82), and on success start queued jobs whose
    dependency just landed (``dependency_trigger/lambda_handler.py``) —
    transitively, so chains drain in one call."""
    args = parse_drop_path(dropped_file, landing_root)
    source_key = f"{args['database']}/{args['table']}"
    spec = load_dependency_spec(config_dir, args["database"], args["table"])
    depends_on = list(spec.get("depends_on") or []) if spec else []
    lookback = spec.get("lookback") if spec else None

    queue_job = bool(depends_on) and not all(
        audit.succeeded_within(dep, lookback) for dep in depends_on
    )
    execution_id = str(uuid.uuid4())
    if queue_job:
        audit.record(
            execution_id, source_key, "QUEUED", dependency_keys=depends_on,
            dropped_file=dropped_file, landing_root=landing_root,
            config_dir=config_dir,
        )
        return {"execution_id": execution_id, "status": "QUEUED",
                "source_key": source_key, "depends_on": depends_on}

    audit.record(execution_id, source_key, "STARTED", dependency_keys=depends_on,
                 dropped_file=dropped_file)
    try:
        summary = run_pipeline(spark, dropped_file, landing_root, config_dir,
                               **run_kwargs)
    except Exception:
        audit.update_status(execution_id, "FAILED")
        raise
    row_count = summary.get("cleanse_row_count")
    if row_count is not None:
        # Volume anomaly guard BEFORE this run joins the history it is
        # judged against; a drifting load still succeeds but carries the
        # warning (the reference's warn-action semantics for volume).
        ok, detail = rowcount_drift_check(audit, source_key, int(row_count))
        if not ok:
            summary["volume_warning"] = detail
        audit.update_status(execution_id, "SUCCEEDED", row_count=int(row_count))
    else:
        audit.update_status(execution_id, "SUCCEEDED")
    summary["status"] = "SUCCEEDED"
    summary["released"] = _release_queued(spark, source_key, audit, run_kwargs)
    return summary


def _release_queued(spark, completed_key: str, audit: JobAudit,
                    run_kwargs: dict) -> list[str]:
    """Start every QUEUED job whose dependencies are now all satisfied;
    recurses so a released job can unblock its own downstream."""
    released: list[str] = []
    for item in audit.queued_jobs(completed_key):
        config_dir = item["config_dir"]
        drop_args = parse_drop_path(item["dropped_file"], item["landing_root"])
        spec = load_dependency_spec(config_dir, drop_args["database"],
                                    drop_args["table"]) or {}
        lookback = spec.get("lookback")
        if not all(audit.succeeded_within(dep, lookback)
                   for dep in item.get("dependency_keys", [])):
            continue
        audit.update_status(item["execution_id"], "STARTED")
        try:
            run_pipeline(spark, item["dropped_file"], item["landing_root"],
                         config_dir, **run_kwargs)
        except Exception:
            audit.update_status(item["execution_id"], "FAILED")
            raise
        audit.update_status(item["execution_id"], "SUCCEEDED")
        released.append(item["source_key"])
        released.extend(_release_queued(spark, item["source_key"], audit, run_kwargs))
    return released


def rowcount_drift_check(
    audit: "JobAudit",
    source_key: str,
    current_count: int,
    min_history: int = 3,
    max_dev: float = 3.0,
) -> tuple[bool, dict]:
    """Volume anomaly guard over the job-audit history: compare the
    incoming batch's row count against the robust center/spread of the
    source's SUCCEEDED history — flag when it deviates more than
    ``max_dev`` scaled-MADs from the median (the same 3-MAD rule as
    ``evt_anomaly_mad``, applied to operational metadata; a mean/stddev
    rule would let one earlier bad load widen its own acceptance band).
    Returns ``(ok, detail)``; with fewer than ``min_history`` completed
    runs it always passes (cold start) while still reporting the
    observed history.  Driver-side arithmetic over the audit file —
    there are at most a few thousand runs per source, never data-plane
    rows."""
    counts = sorted(
        int(item["row_count"])
        for item in audit.items().values()
        if item.get("source_key") == source_key
        and item.get("job_latest_status") == "SUCCEEDED"
        and "row_count" in item
    )
    detail: dict = {"history_n": len(counts), "current": current_count}
    if len(counts) < min_history:
        detail["reason"] = "cold_start"
        return True, detail
    mid = len(counts) // 2
    median = (
        counts[mid]
        if len(counts) % 2
        else (counts[mid - 1] + counts[mid]) / 2
    )
    devs = sorted(abs(c - median) for c in counts)
    mid2 = len(devs) // 2
    mad = devs[mid2] if len(devs) % 2 else (devs[mid2 - 1] + devs[mid2]) / 2
    detail.update(median=median, mad=mad)
    if mad == 0:
        ok = current_count == median
        detail["reason"] = "zero_spread"
        return ok, detail
    score = abs(current_count - median) / mad
    detail["score"] = round(score, 3)
    return score <= max_dev, detail
