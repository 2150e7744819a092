"""Catalog helpers: table existence, schema-evolution gate, partition clear.

The reference treats the Glue Data Catalog as the schema authority and
upserts table definitions via API before Spark appends data
(``lib/glue_scripts/lib/glue_catalog_helpers.py:176-288``), enforcing a
policy-gated evolution check (``check_schema_change`` :91-173).  Here the
Spark SQL catalog (warehouse dir + ``saveAsTable``) plays the catalog role
and the same evolution matrix gates writes:

- ``strict``     — identical (names, types, order);
- ``reorder``    — same column set, any order, no duplicates;
- ``evolve``     — reorder + new columns + type widening
                   (string→integral, integral widening, float→double,
                   date→timestamp, decimal precision/scale growth);
- ``permissive`` — anything.

Partition-key changes are always fatal.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession


class CatalogDecimal:
    """Comparable decimal(p,s) type string (evolution: both p and s must not
    shrink, and at least one must grow)."""

    _RE = re.compile(r"decimal\((\d+)\s*,\s*(\d+)\)")

    def __init__(self, type_string: str) -> None:
        match = self._RE.fullmatch(type_string.strip().lower())
        if not match:
            raise ValueError(f"Not a decimal type: {type_string}")
        self.precision = int(match.group(1))
        self.scale = int(match.group(2))

    def __gt__(self, other: "CatalogDecimal") -> bool:
        return (
            self.precision >= other.precision
            and self.scale >= other.scale
            and (self.precision > other.precision or self.scale > other.scale)
        )


_INTEGRAL_WIDENING: dict[str, tuple[str, ...]] = {
    "string": ("byte", "tinyint", "smallint", "int", "bigint"),
    "byte": ("tinyint", "smallint", "int", "bigint"),
    "tinyint": ("smallint", "int", "bigint"),
    "smallint": ("int", "bigint"),
    "int": ("bigint",),
    "float": ("double",),
    "date": ("timestamp",),
}


def check_schema_change(
    existing_schema: list[dict], new_schema: list[dict], allow_schema_change: str
) -> bool:
    """Schema rows are ``{"Name": ..., "Type": ...}`` (case-sensitive names)."""
    if allow_schema_change == "permissive":
        return True
    if allow_schema_change == "strict":
        return existing_schema == new_schema

    existing_map = {row["Name"]: row for row in existing_schema}
    new_map = {row["Name"]: row for row in new_schema}

    if allow_schema_change == "reorder":
        return set(existing_map) == set(new_map) and len(new_schema) == len(new_map)

    if allow_schema_change == "evolve":
        if len(new_schema) != len(new_map):
            return False  # duplicate fields
        if set(existing_map) - set(new_map):
            return False  # deletions not allowed
        for name in set(new_map) & set(existing_map):
            old_type = existing_map[name]["Type"].lower()
            new_type = new_map[name]["Type"].lower()
            if old_type == new_type or new_type in _INTEGRAL_WIDENING.get(old_type, ()):
                continue
            if old_type.startswith("decimal") and new_type.startswith("decimal"):
                try:
                    if CatalogDecimal(new_type) > CatalogDecimal(old_type):
                        continue
                except ValueError:
                    pass
            return False
        return True

    raise RuntimeError(
        "Input schema configuration is not valid: "
        f"Unsupported value for allow_schema_change {allow_schema_change}"
    )


def table_exists(spark: SparkSession, database: str, table: str) -> bool:
    return spark.catalog.tableExists(f"{database}.{table}")


def create_database(spark: SparkSession, database: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{database}`")


def table_columns(spark: SparkSession, database: str, table: str) -> tuple[list[dict], list[str]]:
    """Catalog schema as ``([{"Name", "Type"}], partition_cols)``; the
    schema rows exclude the partition columns.

    The JVM ``Catalog.listColumns`` listing is a local relation, so
    collecting it runs no Spark job.  PySpark's ``spark.catalog.listColumns``
    returns the same rows but collects them with ``toLocalIterator``, one
    job per partition of the listing."""
    listing = spark._jsparkSession.catalog().listColumns(database, table).toDF()
    rows = DataFrame(listing, spark).collect()
    schema = [{"Name": r.name, "Type": r.dataType.lower()} for r in rows if not r.isPartition]
    return schema, [r.name for r in rows if r.isPartition]


def enforce_schema_evolution(
    spark: SparkSession,
    database: str,
    table: str,
    new_schema: list[dict],
    allow_schema_change: str,
    partition_keys: list[str] | None = None,
) -> None:
    """Raise if the incoming schema is not an allowed evolution of the
    existing table's schema (no-op for a new table)."""
    if not table_exists(spark, database, table):
        return
    partition_keys = partition_keys or []
    existing, existing_partition_cols = table_columns(spark, database, table)
    if existing_partition_cols and sorted(existing_partition_cols) != sorted(partition_keys):
        raise RuntimeError(
            f"Partition key change on {database}.{table} is not allowed: "
            f"{existing_partition_cols} -> {partition_keys}"
        )
    incoming = [row for row in new_schema if row["Name"] not in set(partition_keys)]
    if not check_schema_change(existing, incoming, allow_schema_change):
        raise RuntimeError(
            f"Schema change on {database}.{table} violates policy "
            f"'{allow_schema_change}'"
        )


def clear_partition(
    spark: SparkSession, database: str, table: str, partition: dict[str, str]
) -> None:
    """Drop one partition before re-append (idempotent per-file reload)."""
    if not table_exists(spark, database, table):
        return
    partition_spec = ", ".join(f"`{k}` = '{v}'" for k, v in partition.items())
    spark.sql(
        f"ALTER TABLE `{database}`.`{table}` DROP IF EXISTS PARTITION ({partition_spec})"
    )
