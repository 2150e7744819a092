"""Lake writers: partitioned Cleanse/Consume tables, quarantine tables,
token vault, DQ results.

Parity: reference Collect-to-Cleanse write path
(``etl_collect_to_cleanse.py:319-350``): upsert catalog schema (evolution
gate) → clear target partition → append partitioned by y/m/d; and
Cleanse-to-Consume full rewrite (``etl_cleanse_to_consume.py:163-195``):
purge table, ``repartition(partition_keys)``, append.

Scale notes: partition overwrite is ``dynamic`` (only incoming partitions
rewritten); the pre-write ``repartition`` on the partition keys keeps one
writer task per output partition (file-count control) — at high volume
switch to ``repartition(N, keys)`` to bound file size instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import clear_partition, create_database, enforce_schema_evolution, table_exists
from ..context import RunContext

PARTITION_KEYS = ["year", "month", "day"]


def lakehouse_table_path(
    spark, database: str, table: str, table_location: str | None = None
) -> str:
    """Resolve a lakehouse zone table's directory under the session
    warehouse (``<warehouse>/<database>.lakehouse/<table>``)."""
    import os

    warehouse = spark.conf.get(
        "spark.sql.warehouse.dir", "spark-warehouse"
    )
    if warehouse.startswith("file:"):
        warehouse = warehouse.removeprefix("file:")
    return table_location or os.path.join(
        warehouse, f"{database}.lakehouse", table
    )


def _register_lakehouse(
    spark, database: str, table: str, fmt: str, path: str
) -> None:
    from ..sources.lakehouse_sql import register_table

    try:
        register_table(f"{database}.{table}", fmt, path, spark=spark)
    except Exception:
        pass  # non-identifier db/table names stay path-addressed


def _lakehouse_schema_gate(
    spark, fmt: str, path: str, df, allow_schema_change: str
) -> bool:
    """Apply the SAME evolution policy matrix the parquet path enforces
    (catalog.check_schema_change: strict/reorder/evolve/permissive,
    invalid policies raise) against the lakehouse table's CURRENT
    schema.  Returns whether the table exists."""
    from ..catalog import check_schema_change
    from ..sources import delta_lite, iceberg_lite

    if fmt == "delta":
        exists = delta_lite.is_delta_table(path)
        cur = delta_lite.snapshot(path).schema if exists else None
    else:
        exists = iceberg_lite.is_iceberg_table(path)
        cur = None
        if exists:
            from ..sources.iceberg_lite import (
                _load_metadata,
                _spark_schema_from_meta,
            )

            cur = _spark_schema_from_meta(_load_metadata(path))
    if not exists or cur is None:
        # still validate the policy STRING (typos must raise here too)
        check_schema_change([], [], allow_schema_change)
        return exists
    existing = [
        {"Name": f.name, "Type": f.dataType.simpleString()}
        for f in cur.fields
    ]
    incoming = [
        {"Name": f.name, "Type": f.dataType.simpleString()}
        for f in df.schema.fields
    ]
    if not check_schema_change(existing, incoming, allow_schema_change):
        raise RuntimeError(
            f"Schema change for lakehouse table {path} is not allowed "
            f"under policy {allow_schema_change!r}: {existing} -> "
            f"{incoming}"
        )
    return exists


def add_partition_columns(df: DataFrame, partition: dict[str, str],
                          execution_id: str | None = None) -> DataFrame:
    """Inject zero-padded y/m/d string partition columns (+ execution_id),
    mirroring ``etl_collect_to_cleanse.py:298-308``."""
    cols = {key: F.lit(str(value)) for key, value in partition.items()}
    if execution_id is not None:
        cols["execution_id"] = F.lit(execution_id)
    return df.withColumns(cols)


def write_cleanse_table(
    df: DataFrame,
    database: str,
    table: str,
    partition: dict[str, str],
    ctx: RunContext,
    allow_schema_change: str = "permissive",
    table_format: str = "parquet",
    table_location: str | None = None,
) -> None:
    """Idempotent per-partition append: schema gate → drop partition →
    dynamic-partition append saveAsTable.

    ``table_format="delta"|"iceberg"`` lands the Cleanse zone on a
    TRANSACTIONAL table instead of hive parquet: the partition clear is
    a partition-aligned DELETE (metadata-only on both formats — y/m/d
    are identity partition columns), the append is the format's own
    commit with its schema gate (``strict`` maps to the format's exact-
    schema append; anything looser appends with evolution), every load
    stays time-travelable, and the table registers under
    ``database.table`` in the SQL front-end's name registry so consume
    SQL files keep referencing it by name."""
    spark = ctx.spark
    if table_format in ("delta", "iceberg"):
        import os

        from ..sources import delta_lite, iceberg_lite

        path = lakehouse_table_path(spark, database, table, table_location)
        # the SAME four-policy evolution matrix the parquet path runs
        # (strict/reorder/evolve/permissive; bad policy strings raise)
        exists = _lakehouse_schema_gate(
            spark, table_format, path, df, allow_schema_change
        )
        pred = " AND ".join(
            f"{k} = '{v}'" for k, v in partition.items()
        )
        if table_format == "delta":
            if exists:
                delta_lite.delete_delta(spark, path, pred)
            delta_lite.write_delta(
                df, path, partition_by=PARTITION_KEYS,
                schema_mode="evolve",  # policy already enforced above
            )
        else:
            os.makedirs(path, exist_ok=True)
            if exists:
                iceberg_lite.delete_iceberg(spark, path, pred)
            iceberg_lite.write_iceberg(
                spark, df, path, partition_by=PARTITION_KEYS
            )
        _register_lakehouse(spark, database, table, table_format, path)
        ctx.log_lineage(
            "write", df=df, table=f"{database}.{table}",
            partition=partition,
        )
        return
    create_database(spark, database)
    new_schema = [
        {"Name": field.name, "Type": field.dataType.simpleString()}
        for field in df.schema.fields
    ]
    enforce_schema_evolution(
        spark, database, table, new_schema, allow_schema_change, PARTITION_KEYS
    )
    clear_partition(spark, database, table, partition)
    (
        df.write.mode("append")
        .format("parquet")
        .partitionBy(*PARTITION_KEYS)
        .saveAsTable(f"`{database}`.`{table}`")
    )
    ctx.log_lineage("write", df=df, table=f"{database}.{table}", partition=partition)


def write_consume_table(
    df: DataFrame,
    database: str,
    table: str,
    ctx: RunContext,
    partition_keys: list[str] | None = None,
    table_format: str = "parquet",
    table_location: str | None = None,
) -> None:
    """Full-table rewrite: the Consume table is rebuilt every run.

    ``table_format="delta"|"iceberg"``: the rebuild is ONE transactional
    overwrite commit (delta ``mode=overwrite`` / iceberg REPLACE
    snapshot) instead of a drop-and-recreate — readers mid-rebuild see
    the previous version, never a half-written table — and the name
    registers for SQL-by-name access."""
    spark = ctx.spark
    if table_format in ("delta", "iceberg"):
        import os
        import shutil as _shutil

        from ..sources import delta_lite, iceberg_lite

        path = lakehouse_table_path(spark, database, table, table_location)
        keys = partition_keys if partition_keys is not None else PARTITION_KEYS
        keys = [k for k in keys if k in df.columns]
        if table_format == "delta":
            delta_lite.write_delta(
                df, path,
                mode=(
                    "overwrite" if delta_lite.is_delta_table(path)
                    else "append"
                ),
                partition_by=keys or None,
                schema_mode="evolve",
            )
        else:
            os.makedirs(path, exist_ok=True)
            if iceberg_lite.is_iceberg_table(path):
                from ..sources.iceberg_lite import (
                    _load_metadata,
                    _spark_schema_from_meta,
                )

                cur = _spark_schema_from_meta(_load_metadata(path))
                same_cols = cur is not None and sorted(
                    f.name for f in cur.fields
                ) == sorted(df.columns)
                if same_cols:
                    iceberg_lite.overwrite_iceberg(spark, df, path)
                else:
                    # the consume SQL changed its column set: mirror the
                    # parquet path's drop-and-recreate (the rewrite is
                    # authoritative; wedging on the old schema is worse
                    # than losing its travel history)
                    _shutil.rmtree(path)
                    os.makedirs(path, exist_ok=True)
                    iceberg_lite.write_iceberg(
                        spark, df, path, partition_by=keys or None
                    )
            else:
                iceberg_lite.write_iceberg(
                    spark, df, path, partition_by=keys or None
                )
        _register_lakehouse(spark, database, table, table_format, path)
        ctx.log_lineage(
            "write", df=df, table=f"{database}.{table}", mode="rewrite"
        )
        return
    create_database(spark, database)
    keys = partition_keys if partition_keys is not None else PARTITION_KEYS
    keys = [k for k in keys if k in df.columns]
    if table_exists(spark, database, table):
        spark.sql(f"DROP TABLE `{database}`.`{table}`")
    writer = df.repartition(*keys) if keys else df
    out = writer.write.mode("overwrite").format("parquet")
    if keys:
        out = out.partitionBy(*keys)
    out.saveAsTable(f"`{database}`.`{table}`")
    ctx.log_lineage("write", df=df, table=f"{database}.{table}", mode="rewrite")


def quarantine_writer(ctx: RunContext, database: str, partition: dict[str, str],
                      execution_id: str):
    """Writer callback for the DQ runner: failing rows land in
    ``<table>_quarantine_<stage>`` with partition + context columns.

    Same per-partition reload semantics as the Cleanse write: the partition
    is cleared first (a catalog operation, no Spark job), so dropping a
    file again replaces its quarantined rows instead of appending a second
    copy.  With ``rows == 0`` the clear is all that runs."""

    def write(failing: DataFrame, table: str, rows: int) -> None:
        clear_partition(ctx.spark, database, table, partition)
        if not rows:
            return
        stamped = add_partition_columns(failing, partition, execution_id)
        create_database(ctx.spark, database)
        (
            stamped.write.mode("append")
            .format("parquet")
            .partitionBy(*PARTITION_KEYS)
            .saveAsTable(f"`{database}`.`{table}`")
        )
        ctx.log_lineage("write-quarantine", df=stamped, table=f"{database}.{table}")

    return write


def flush_token_vault(ctx: RunContext, database: str, table: str = "etl_token_vault") -> None:
    """Persist accumulated (raw_data, hash_key) pairs, deduplicated on
    raw_data, merged with any existing vault rows."""
    vault = ctx.token_vault_df()
    if vault is None:
        return
    spark = ctx.spark
    create_database(spark, database)
    full_name = f"`{database}`.`{table}`"
    if table_exists(spark, database, table):
        vault = vault.union(spark.table(full_name)).dropDuplicates(["raw_data"])
        vault = vault.localCheckpoint()  # break lineage on the table we overwrite
    vault.write.mode("overwrite").format("parquet").saveAsTable(full_name)
    ctx.log_lineage("write-token-vault", df=vault, table=f"{database}.{table}")


def write_bucketed_table(
    df: DataFrame,
    database: str,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (and optionally sorted) managed table.

    Bucketing pre-shuffles the data ONCE at write time: two tables bucketed
    the same way on the join key join with ZERO exchanges — at 100 TB this
    turns every fact⋈fact join on the bucket key from the dominant shuffle
    into a local zipper.  The cost moves to ingest (one clustering pass per
    table), amortized across every downstream join/aggregation on that key.

    Rules of thumb encoded here: bucket count should be a multiple of the
    cluster's parallelism and stable across tables meant to co-join;
    sortBy on the join key additionally removes the per-bucket sort of a
    sort-merge join.
    """
    create_database(df.sparkSession, database)
    writer = df.write.mode(mode).format("parquet").bucketBy(n_buckets, *bucket_cols)
    writer = writer.sortBy(*(sort_cols or bucket_cols))
    writer.saveAsTable(f"{database}.{table}")


def compact_partition(
    ctx: RunContext,
    database: str,
    table: str,
    partition: dict[str, str] | None = None,
    target_file_mb: int = 128,
) -> dict:
    """Rewrite a table partition (or an unpartitioned table) into files of
    ~``target_file_mb`` — the small-file maintenance pass every
    event-driven lake needs: per-file-drop appends leave one small file
    per run, and at 100 TB a scan's task count (and the namenode/S3
    listing load) is governed by file count, not data volume.

    File count derives from the partition's CURRENT on-disk bytes (catalog
    scan statistics), so compaction is one narrow ``repartition(n)``
    rewrite of just that partition — never a full-table pass.  Returns
    {files_before, files_after, bytes}.  The rewrite reuses the
    idempotent clear-partition + append path, so a crash mid-compaction
    re-runs cleanly."""
    spark = ctx.spark
    full_name = f"`{database}`.`{table}`"
    df = spark.table(full_name)
    predicate = None
    if partition:
        for key, value in partition.items():
            clause = F.col(key) == str(value)
            predicate = clause if predicate is None else (predicate & clause)
        df = df.where(predicate)

    files = df.inputFiles()
    total_bytes = 0
    import os  # noqa: PLC0415

    for path in files:
        local = path.removeprefix("file:")
        if os.path.exists(local):
            total_bytes += os.path.getsize(local)
    n_files = max(1, round(total_bytes / (target_file_mb * 1024 * 1024)) or 1)

    compacted = df.repartition(n_files).localCheckpoint()
    if partition:
        clear_partition(spark, database, table, partition)
        part_cols = list(partition.keys())
        (
            compacted.write.mode("append")
            .format("parquet")
            .partitionBy(*part_cols)
            .saveAsTable(full_name)
        )
    else:
        compacted.write.mode("overwrite").format("parquet").saveAsTable(full_name)
    ctx.log_lineage(
        "compact", table=f"{database}.{table}", partition=partition,
        files_before=len(files), files_after=n_files,
    )
    return {"files_before": len(files), "files_after": n_files, "bytes": total_bytes}


def write_range_partitioned(
    df: DataFrame,
    database: str,
    table: str,
    sort_cols: list[str],
    ctx: RunContext,
    n_files: int | None = None,
) -> None:
    """Write a table range-partitioned AND sorted on ``sort_cols`` so every
    output file covers a disjoint key range — the layout that makes
    parquet min/max (rowgroup + file) statistics actually prune: a point
    or range predicate on the sort key then touches one file instead of
    all of them.  This is the single highest-leverage layout choice for a
    100 TB fact table scanned by key ranges (dates, ids).

    ``repartitionByRange`` samples the key distribution so files balance
    even under skew; ``sortWithinPartitions`` orders rows inside each file
    so rowgroup statistics are tight too."""
    spark = ctx.spark
    create_database(spark, database)
    parts = (
        df.repartitionByRange(n_files, *sort_cols)
        if n_files
        else df.repartitionByRange(*sort_cols)
    )
    (
        parts.sortWithinPartitions(*sort_cols)
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(f"`{database}`.`{table}`")
    )
    ctx.log_lineage("write-range-partitioned", df=df, table=f"{database}.{table}",
                    sort_cols=sort_cols)


def write_zorder_table(
    df: DataFrame,
    database: str,
    table: str,
    zorder_cols: list[str],
    ctx: RunContext,
    n_files: int,
    bits: int = 16,
) -> None:
    """Write a table laid out along the z-order curve of two integer
    columns: range-partition + sort on the interleaved Morton code, then
    drop the code.  Each output file then covers a bounded min/max range
    on BOTH columns, so parquet footer statistics prune scans filtered on
    either dimension — a single-column sort only ever prunes one.  The
    multi-dimensional analogue of :func:`write_range_partitioned`."""
    from ..functions.layout import morton_code

    spark = ctx.spark
    create_database(spark, database)
    a, b = zorder_cols
    coded = df.withColumn("__z", morton_code(a, b, bits))
    (
        coded.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .format("parquet")
        .saveAsTable(f"`{database}`.`{table}`")
    )
    ctx.log_lineage("write-zorder", df=df, table=f"{database}.{table}",
                    zorder_cols=zorder_cols)
