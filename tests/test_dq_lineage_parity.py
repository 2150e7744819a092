"""DQ, lineage and lookup results pinned to their values before the
per-stage DQ aggregate, the folded numeric audit and the JVM-built lookup
side tables.

One drop runs Collect→Cleanse→Consume with warn, halt and row-level
quarantine rules (CustomSql and ReferentialIntegrity) in every stage.  Its
lineage event list (operations, order, row counts, column sums,
quarantined counts and every outcome's observed values) must be exactly
the pinned one."""

from __future__ import annotations

import json
import os
import re

import pytest

from aws_insurancelake_etl_spark.config import load_dataset_config
from aws_insurancelake_etl_spark.context import LookupStore, RunContext
from aws_insurancelake_etl_spark.operators.lookup import transform_lookup, transform_multilookup
from aws_insurancelake_etl_spark.plans.dq_runner import (
    DataQualityHaltError,
    DataQualityQuarantineAllRowsError,
    run_dq_stage,
)
from aws_insurancelake_etl_spark.plans.lineage import LineageLog
from aws_insurancelake_etl_spark.plans.pipeline import cleanse_to_consume, collect_to_cleanse

DATABASE = "lineageparity"
TABLE = "policies"

POLICIES_CSV = """PolicyNumber,StateCd,Premium,Program
1,TX,100.5,A
2,CA,-20.25,A
3,ZZ,300,B
4,,400.25,B
5,NY,50,A
6,TX,1250.75,C
7,CA,75.5,B
8,FL,10,A
"""

DQ_RULES = {
    "before_transform": {
        "warn_rules": [
            "Completeness 'statecd' > 0.9",
            "RowCount > 3",
            "ColumnValues 'program' in ['A', 'B']",
        ],
        "quarantine_rules": ["CustomSql 'SELECT policynumber FROM primary WHERE premium >= 0'"],
        "halt_rules": ["(ColumnExists 'policynumber') and (IsComplete 'policynumber')"],
    },
    "after_transform": {
        "warn_rules": ["ReferentialIntegrity 'statecd' 'lineageparity.states.code' >= 0.5"],
        "quarantine_rules": ["ColumnValues 'premium' < 1000"],
        "halt_rules": ["CustomSql 'SELECT COUNT(*) FROM primary WHERE premium < 0' = 0"],
    },
    "after_sparksql": {
        "warn_rules": ["RowCount > 0", "Sum 'premium' > 100"],
        "quarantine_rules": ["ReferentialIntegrity 'statecd' 'lineageparity.states.code'"],
        "halt_rules": ["IsComplete 'policynumber'"],
    },
}

_LOOKUP = {"field": "statename", "source": "statecd", "lookup": "StateCd", "nomatch": "N/A"}
_CURRENCY = {"field": "premium", "format": "16,2"}
_PARTITION = {"year": "2024", "month": "02", "day": "03"}

CONSUME_SQL = (
    "SELECT policynumber, statecd, statename, premium, program, year, month, day"
    " FROM {database}.{table}"
)


def run_drop(spark, root: str) -> list[dict]:
    """Load the drop; return its lineage events with run-specific values
    (time, execution id, temp paths, the per-process string hash in
    aggregate names) normalised away."""
    config_dir = os.path.join(root, "config")
    lookup_dir = os.path.join(root, "lookups")
    os.makedirs(config_dir, exist_ok=True)
    os.makedirs(lookup_dir, exist_ok=True)
    source = os.path.join(root, "policies.csv")
    with open(source, "w", encoding="utf-8") as fh:
        fh.write(POLICIES_CSV)
    base = os.path.join(config_dir, f"{DATABASE}-{TABLE}")
    with open(f"{base}.json", "w", encoding="utf-8") as fh:
        json.dump({
            "input_spec": {"csv": {"header": True}},
            "transform_spec": {"currency": [_CURRENCY], "lookup": [_LOOKUP]},
        }, fh)
    with open(os.path.join(config_dir, f"dq-{DATABASE}-{TABLE}.json"), "w",
              encoding="utf-8") as fh:
        json.dump(DQ_RULES, fh)
    with open(os.path.join(lookup_dir, "StateCd.json"), "w", encoding="utf-8") as fh:
        json.dump({"TX": "Texas", "CA": "California", "NY": "New York"}, fh)

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DATABASE}")
    spark.createDataFrame([("TX",), ("CA",), ("NY",)], "code string").write.mode(
        "overwrite").format("parquet").saveAsTable(f"{DATABASE}.states")

    lineage = LineageLog(execution_id="parity", dataset=f"{DATABASE}/{TABLE}")
    ctx = RunContext(spark=spark, args={"execution_id": "parity",
                                        "base_file_name": "policies.csv"},
                     lineage=lineage, lookups=LookupStore(lookup_dir))
    config = load_dataset_config(config_dir, DATABASE, TABLE)
    collect_to_cleanse(ctx, source, DATABASE, TABLE, config, _PARTITION)
    cleanse_to_consume(ctx, CONSUME_SQL, f"{DATABASE}_consume", TABLE, config=config,
                       substitutions={"database": DATABASE, "table": TABLE, **_PARTITION})
    text = json.dumps(lineage.events, default=str).replace(root, "<root>")
    events = json.loads(re.sub(r"(__dq_[a-z]+)_\d+", r"\1", text))
    for event in events:
        del event["time"], event["execution_id"]
    return events


def _event(seq: int, operation: str, **info) -> dict:
    return {"dataset": f"{DATABASE}/{TABLE}", "seq": seq, "operation": operation, **info}


EXPECTED_EVENTS = [
    _event(1, "read", source="<root>/policies.csv", column_count=4),
    _event(2, "numericaudit", row_count=8,
           column_sums={"PolicyNumber": 36, "Premium": 2166.75}, column_count=4),
    _event(3, "dq-warn", rule="Completeness 'statecd' > 0.9", passed=False,
           observed={"__dq_complete": 0.875}),
    _event(4, "dq-warn", rule="RowCount > 3", passed=True, observed={"__dq_rowcount": 8}),
    _event(5, "dq-warn", rule="ColumnValues 'program' in ['A', 'B']", passed=False,
           observed={"__dq_fail": 1}),
    _event(6, "write-quarantine", table="lineageparity.policies_quarantine_before_transform",
           column_count=9),
    _event(7, "dq-quarantine", stage="before_transform", quarantined=1),
    _event(8, "currencyconversion", transform=[_CURRENCY], column_count=4),
    _event(9, "transform", name="currency", spec=[_CURRENCY], column_count=4),
    _event(10, "lookup", transform=[_LOOKUP], column_count=5),
    _event(11, "transform", name="lookup", spec=[_LOOKUP], column_count=5),
    _event(12, "dq-warn", rule="ReferentialIntegrity 'statecd' 'lineageparity.states.code' >= 0.5",
           passed=True, observed={"matched": 4, "total": 7}),
    _event(13, "write-quarantine", table="lineageparity.policies_quarantine_after_transform",
           column_count=10),
    _event(14, "dq-quarantine", stage="after_transform", quarantined=1),
    _event(15, "write", table="lineageparity.policies", partition=_PARTITION, column_count=9),
    _event(16, "numericaudit", row_count=6,
           column_sums={"premium": "936.25", "policynumber": 28}, column_count=9),
    _event(17, "sparksql", sql=CONSUME_SQL.format(database=DATABASE, table=TABLE),
           column_count=8),
    _event(18, "numericaudit", row_count=6,
           column_sums={"policynumber": 28, "premium": "936.25"}, column_count=8),
    _event(19, "dq-warn", rule="RowCount > 0", passed=True, observed={"__dq_rowcount": 6}),
    _event(20, "dq-warn", rule="Sum 'premium' > 100", passed=True,
           observed={"__dq_sum": 936.25}),
    _event(21, "write-quarantine",
           table="lineageparity_consume.policies_quarantine_after_sparksql", column_count=10),
    _event(22, "dq-quarantine", stage="after_sparksql", quarantined=3),
    _event(23, "write", table="lineageparity_consume.policies", mode="rewrite",
           column_count=8),
]


def test_lineage_events_match_pinned_run(spark, tmp_path):
    assert run_drop(spark, str(tmp_path)) == EXPECTED_EVENTS


def _policies(spark):
    return spark.createDataFrame(
        [(1, 100.0), (2, -5.0), (3, 20.0)], "policynumber int, premium double"
    )


def test_all_rows_quarantined_raises_after_the_write_and_before_halt(spark, ctx):
    calls: list[tuple[str, int]] = []
    rules = {"after_transform": {
        "quarantine_rules": ["ColumnValues 'premium' > 1000"],
        "halt_rules": ["ColumnValues 'premium' >= 0"],
    }}
    with pytest.raises(DataQualityQuarantineAllRowsError):
        run_dq_stage(_policies(spark), rules, "after_transform", ctx, "t",
                     lambda failing, table, rows: calls.append((table, rows)))
    assert calls == [("t_quarantine_after_transform", 3)]


def test_halt_raises_after_the_quarantine_write(spark, ctx):
    calls: list[tuple[str, int]] = []
    rules = {"after_transform": {
        "quarantine_rules": ["ColumnValues 'premium' >= 0"],
        "halt_rules": ["CustomSql 'SELECT COUNT(*) FROM primary WHERE premium < 0' = 0"],
    }}
    with pytest.raises(DataQualityHaltError):
        run_dq_stage(_policies(spark), rules, "after_transform", ctx, "t",
                     lambda failing, table, rows: calls.append((table, failing.count())))
    assert calls == [("t_quarantine_after_transform", 1)]


def test_rowlevel_customsql_quarantine_keeps_keys_and_column_order(spark, ctx):
    df = _policies(spark)
    rules = {"after_transform": {"quarantine_rules": [
        "CustomSql 'SELECT policynumber FROM primary WHERE premium >= 0'"
    ]}}
    out, result = run_dq_stage(df, rules, "after_transform", ctx)
    assert out.columns == df.columns
    assert sorted(out.collect()) == [(1, 100.0), (3, 20.0)]
    assert [(r["policynumber"], r["premium"]) for r in result.quarantine_df.collect()] == [
        (2, -5.0)
    ]


def test_lookup_int_values_non_string_source_null_and_nomatch(spark, ctx):
    ctx.lookups.put_values("Tier", {"1": 10, "2": 20})
    df = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c"), (None, "d")],
                               "code int, name string")
    out = transform_lookup(
        df, [{"field": "tier", "source": "code", "lookup": "Tier", "nomatch": -1}], ctx
    )
    assert out.columns == ["code", "name", "tier"]
    assert dict(out.dtypes)["tier"] == "bigint"
    assert sorted(out.collect(), key=lambda r: r["name"]) == [
        (1, "a", 10), (2, "b", 20), (3, "c", -1), (None, "d", -1),
    ]

    replaced = transform_lookup(df, [{"field": "code", "lookup": "Tier"}], ctx)
    assert replaced.columns == ["name", "code"]
    assert sorted((r["name"], r["code"]) for r in replaced.collect()) == [
        ("a", 10), ("b", 20), ("c", None), ("d", None),
    ]


def test_multilookup_keeps_types_and_order(spark, ctx):
    ctx.lookups.put_multi("Cov", {"A-1": {"limit": 100, "lob": "GL"},
                                  "B-2": {"limit": 250, "lob": None}})
    df = spark.createDataFrame([("A", 1), ("B", 2), ("C", None)], "program string, cov int")
    out = transform_multilookup(
        df, [{"lookup_group": "Cov", "match_columns": ["program", "cov"],
              "return_attributes": ["lob", "limit"]}], ctx,
    )
    assert out.dtypes == [("program", "string"), ("cov", "int"), ("lob", "string"),
                          ("limit", "bigint")]
    assert sorted(out.collect(), key=lambda r: r["program"]) == [
        ("A", 1, "GL", 100), ("B", 2, None, 250), ("C", None, None, None),
    ]
