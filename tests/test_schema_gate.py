"""Schema-evolution gate against real catalog tables.

``catalog.table_columns`` reads a table's columns with the JVM catalog
listing, which runs no Spark job.  It must return the rows PySpark's
``spark.catalog.listColumns`` returns, and the gate built on it must keep
its four policies and the partition-key rule."""

from __future__ import annotations

import pytest

from aws_insurancelake_etl_spark.catalog import enforce_schema_evolution, table_columns

DATABASE = "schemagate"

COLUMNS = {
    "policynumber": "int",
    "premium": "decimal(16,2)",
    "effective": "date",
    "loaded": "timestamp",
    "tags": "array<int>",
    "insured": "struct<name:string,dob:date>",
    "limits": "map<string,bigint>",
    "statecd": "char(2)",
    "agent": "varchar(10)",
}


@pytest.fixture(scope="module")
def table(spark):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {DATABASE}")
    spark.sql(f"DROP TABLE IF EXISTS {DATABASE}.policies")
    columns = ", ".join(f"{name} {dtype}" for name, dtype in COLUMNS.items())
    spark.sql(
        f"CREATE TABLE {DATABASE}.policies ({columns}, year string, month string, day string)"
        " USING parquet PARTITIONED BY (year, month, day)"
    )
    return "policies"


def test_listing_matches_pyspark_catalog(spark, table):
    listed = spark.catalog.listColumns(f"{DATABASE}.{table}")
    expected_schema = [
        {"Name": col.name, "Type": col.dataType.lower()} for col in listed if not col.isPartition
    ]
    expected_partitions = [col.name for col in listed if col.isPartition]

    schema, partitions = table_columns(spark, DATABASE, table)
    assert schema == expected_schema
    assert partitions == expected_partitions == ["year", "month", "day"]
    # char/varchar list as string, like the catalog reports them
    assert [row["Type"] for row in schema] == [
        "int", "decimal(16,2)", "date", "timestamp", "array<int>",
        "struct<name:string,dob:date>", "map<string,bigint>", "string", "string",
    ]


def _schema(**overrides) -> list[dict]:
    types = {**COLUMNS, "statecd": "string", "agent": "string", **overrides}
    return [{"Name": name, "Type": dtype} for name, dtype in types.items() if dtype]


KEYS = ["year", "month", "day"]
SAME = _schema()
REORDERED = SAME[1:] + SAME[:1]
EVOLVED = _schema(policynumber="bigint", premium="decimal(18,2)", agentname="string")
DELETED = _schema(agent=None)


@pytest.mark.parametrize(
    ("policy", "incoming", "allowed"),
    [
        ("strict", SAME, True),
        ("strict", REORDERED, False),
        ("reorder", REORDERED, True),
        ("reorder", EVOLVED, False),
        ("evolve", EVOLVED, True),
        ("evolve", DELETED, False),
        ("permissive", DELETED, True),
    ],
)
def test_policies_on_a_catalog_table(spark, count_jobs, table, policy, incoming, allowed):
    def gate():
        enforce_schema_evolution(spark, DATABASE, table, incoming + [
            {"Name": key, "Type": "string"} for key in KEYS
        ], policy, KEYS)

    if allowed:
        assert count_jobs(gate) == 0
    else:
        with pytest.raises(RuntimeError, match="violates policy"):
            gate()


def test_partition_key_change_is_fatal(spark, table):
    with pytest.raises(RuntimeError, match="Partition key change"):
        enforce_schema_evolution(spark, DATABASE, table, SAME, "permissive", ["year"])


def test_unknown_policy_raises(spark, table):
    with pytest.raises(RuntimeError, match="Unsupported value"):
        enforce_schema_evolution(spark, DATABASE, table, SAME, "loose", KEYS)


def test_new_table_is_not_gated(spark):
    enforce_schema_evolution(spark, DATABASE, "no_such_table", SAME, "strict", KEYS)
