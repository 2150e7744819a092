"""Pipeline stages: Collect→Cleanse and Cleanse→Consume, re-hosted on plain
Spark as in-process stage runners.

Stage order parity:

Collect→Cleanse (``etl_collect_to_cleanse.py:58-353``):
  read (PERMISSIVE, inferred) → lineage read + numeric audit → empty-input
  abort (from the audit's row count) → schema map (custommapping, else
  clean names + recommended artifacts) → DQ ``before_transform`` → ordered
  transform dispatch → inject y/m/d + execution_id → DQ ``after_transform``
  → schema-gated partitioned write.

Cleanse→Consume (``etl_cleanse_to_consume.py:69-247``):
  Spark SQL (``{var}`` substitution; optional ``CREATE TABLE <t> AS``
  prefix overrides the target table) → numeric audit and DQ
  ``after_sparksql`` in one aggregate → full-table rewrite → view DDL
  (``CREATE OR REPLACE VIEW`` replaces the reference's Athena/Redshift
  stages).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..catalog import create_database
from ..config import DatasetConfig
from ..context import RunContext
from ..mapping import clean_column_names, clean_nulltypes, custommapping, generate_spec
from ..operators.registry import apply_transform_spec
from ..sources.readers import read_input
from .dq_runner import run_dq_stage
from .writer import (
    add_partition_columns,
    flush_token_vault,
    quarantine_writer,
    write_cleanse_table,
    write_consume_table,
)

# "create table <name> as" prefix — overrides the target table
# (etl_cleanse_to_consume.py:126-133).
_CREATE_TABLE_RE = re.compile(
    r"^\s*create\s+table\s+(?:if\s+not\s+exists\s+)?([`\"\w.]+)\s+as\s+", re.IGNORECASE
)


@dataclass
class StageResult:
    df: DataFrame
    database: str
    table: str
    recommendations: dict | None = None
    # Row count observed during the stage's own write job (df.observe) —
    # callers should prefer this over re-counting the output, which costs
    # a full extra scan of the stage output.
    row_count: int | None = None


def collect_to_cleanse(
    ctx: RunContext,
    source_path: str,
    database: str,
    table: str,
    config: DatasetConfig,
    partition: dict[str, str],
    allow_schema_change: str = "permissive",
    table_format: str = "parquet",
) -> StageResult:
    spark = ctx.spark
    execution_id = str(ctx.arg("execution_id", "local-run"))
    recommendations: dict = {}

    # Parsed once: the audit's job stores the rows that the
    # before_transform DQ aggregate and the transformed frame read back.
    df = ctx.checkpoint(read_input(spark, source_path, config.input_spec, config.mapping))
    ctx.log_lineage("read", df=df, source=source_path)
    # the audit's row count doubles as the empty-input check
    if ctx.lineage is not None:
        empty = ctx.lineage.numeric_audit(df)["row_count"] == 0
    else:
        empty = not df.head(1)
    if empty:
        raise RuntimeError(f"Input file {source_path} contained no data")

    # Schema mapping: fixed-width input is already mapped by the reader.
    if "fixed" not in config.input_spec:
        if config.mapping:
            df = custommapping(df, config.mapping, ctx)
        else:
            df, field_map = clean_column_names(df)
            recommendations["mapping"] = field_map
            recommendations["spec"] = generate_spec(df, source_path)
    df = clean_nulltypes(df)

    qwriter = quarantine_writer(ctx, database, partition, execution_id)
    df, _ = run_dq_stage(df, config.dq_rules, "before_transform", ctx, table, qwriter)

    df = apply_transform_spec(df, config.transform_spec, ctx)
    df = add_partition_columns(df, partition, execution_id)

    df = ctx.cache(df)
    df, _ = run_dq_stage(df, config.dq_rules, "after_transform", ctx, table, qwriter)

    # Numeric audit rides the write job itself (df.observe) — zero extra
    # passes; the event logs once the write action completes.
    finish_audit = None
    write_df = df
    if ctx.lineage is not None:
        write_df, finish_audit = ctx.lineage.numeric_audit_observed(df)

    write_cleanse_table(
        write_df, database, table, partition, ctx, allow_schema_change,
        table_format=table_format,
    )
    observed_rows = None
    if finish_audit is not None:
        observed_rows = finish_audit().get("row_count")
    flush_token_vault(ctx, database)
    return StageResult(df=df, database=database, table=table,
                       recommendations=recommendations or None,
                       row_count=observed_rows)


def cleanse_to_consume(
    ctx: RunContext,
    spark_sql: str,
    database: str,
    table: str,
    config: DatasetConfig | None = None,
    substitutions: dict | None = None,
    table_format: str = "parquet",
) -> StageResult:
    spark = ctx.spark
    execution_id = str(ctx.arg("execution_id", "local-run"))
    sql_text = spark_sql.format(**(substitutions or {})) if substitutions else spark_sql

    target_table = table
    match = _CREATE_TABLE_RE.match(sql_text)
    if match:
        target_table = match.group(1).strip('`"').split(".")[-1]
        sql_text = sql_text[match.end():]

    # SQL files may reference lakehouse paths (delta.`/p` /
    # iceberg.`/p`, incl. time travel) alongside catalog tables — the
    # front-end rewrites those refs to temp views over the protocol
    # readers and hands the statement to Catalyst unchanged, so a
    # plain-catalog SQL file costs nothing extra
    from ..sources.lakehouse_sql import sql_over_refs

    df = ctx.cache(sql_over_refs(spark, sql_text))
    ctx.log_lineage("sparksql", df=df, sql=sql_text)

    # the numeric audit of the SQL result rides the stage's DQ aggregate
    dq_rules = config.dq_rules if config else {}
    partition = {"year": "0000", "month": "00", "day": "00"}
    qwriter = quarantine_writer(ctx, database, partition, execution_id)
    df, _ = run_dq_stage(
        df, dq_rules, "after_sparksql", ctx, target_table, qwriter, numeric_audit=True
    )

    write_consume_table(
        df, database, target_table, ctx, table_format=table_format
    )

    if config and config.view_sql:
        create_database(spark, database)
        for statement in config.view_sql.split(";"):
            statement = statement.strip()
            if statement:
                _run_view_statement(
                    spark, statement.format(**(substitutions or {}))
                )
    return StageResult(df=df, database=database, table=target_table)


def _run_view_statement(spark, statement: str) -> None:
    """View DDL may reference lakehouse tables (paths or registered
    names).  Those rewrite to TEMP views, and Spark refuses a permanent
    view over a temporary one — so when a rewrite happened, the created
    view becomes TEMPORARY too (the underlying __lh views are kept for
    the session: the view's stored plan references them by name)."""
    from ..sources.lakehouse_sql import _rewrite_reads

    views: list = []
    rewritten = _rewrite_reads(spark, statement, views)
    if views and re.match(
        r"\s*create\s+(or\s+replace\s+)?view\b", rewritten, re.IGNORECASE
    ):
        rewritten = re.sub(
            r"(?i)\bview\b", "TEMPORARY VIEW", rewritten, count=1
        )
    spark.sql(rewritten)
