"""Format-neutral row-level DML pieces shared by ``delta_lite`` and
``iceberg_lite``.

Both table formats run the reference's entity upsert
(``MERGE INTO ... WHEN MATCHED UPDATE SET * WHEN NOT MATCHED INSERT *``,
``etl_consume_entity_match.py:443-455``) the same way: materialize the
source once, check its keys are unique, derive the first key's range for
statistics-based file skipping, then attempt the format's own merge
against the current snapshot and re-execute it whenever another writer
wins the commit race.  Nothing here reads a Delta log or an Iceberg
manifest; each format keeps its snapshot decoding and commit encoding.

Each format has exactly one commit exit, and every commit of that
format goes through it: ``delta_lite._commit`` (claims ``<v>.json``,
checkpoints on the interval) and ``iceberg_lite._commit_metadata``
(claims ``metadata/v<n>.metadata.json``).  A lost claim deletes what
the commit staged through :func:`discard_files` and raises the
format's conflict error, which :func:`retry_on_conflict` re-executes.

- :func:`merge_prologue`: source / delete-key checkpoint (freed when
  the merge ends), duplicate-key check and first-key bounds;
- :func:`merge_key_sets`: the source and tombstone key sets and their
  join hint;
- :func:`retry_on_conflict`: the optimistic-concurrency attempt loop,
  and :func:`discard_files` for what a lost attempt staged;
- :func:`may_overlap`: the file-statistics range test behind file
  skipping;
- :func:`meta_df` / :func:`lit_lookup`: O(files) driver-side metadata
  as a one-slice DataFrame or as a literal map expression.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: largest metadata map embedded in the plan as a literal; bigger maps
#: fall back to a broadcast-join DataFrame (plan size stays bounded)
LIT_MAP_MAX = 1024


def meta_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Driver-side metadata list -> DataFrame on an explicitly sized
    RDD.  ``spark.createDataFrame(list)`` parallelizes into
    defaultParallelism slices (32 on the bench session), so every
    broadcast build of an O(files) map — row-id bases, DV descriptors,
    file/sequence maps, partition tuples — scheduled a 32-task stage
    for a handful of rows.  One slice per 64k entries (minimum one)
    makes those builds one task without changing a single row; the
    maps are O(files) driver state either way."""
    rows = list(rows)
    slices = max(1, len(rows) // 65536)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), schema
    )


def lit_lookup(rows, key_col, fields):
    """O(files) metadata map as a LITERAL plan expression instead of a
    broadcast-join DataFrame: ``element_at(map<key, struct<...>>, key)``.
    Each broadcast build costs one Spark job (the exchange materializes
    eagerly) plus a join; for the small maps the planner holds anyway
    (file -> sequence/row-id-base/DV descriptors) a literal map is pure
    codegen — zero jobs, zero exchanges.  A missing key yields null,
    matching a left-join miss (callers relying on inner-join semantics
    filter on a non-null field, which a null struct fails).

    ``rows``: [(key, v1, v2, ...)]; ``fields``: [(name, ddl_type), ...]
    aligned with v1.. — returns the struct Column."""
    entries = []
    for key, *vals in rows:
        entries.append(F.lit(key))
        entries.append(
            F.struct(
                *[
                    F.lit(v).cast(ddl).alias(name)
                    for (name, ddl), v in zip(fields, vals)
                ]
            )
        )
    return F.element_at(F.create_map(*entries), key_col)


def may_overlap(fmin, fmax, lo, hi) -> bool:
    """Whether a file whose statistics say its column spans
    ``[fmin, fmax]`` can hold a value in ``[lo, hi]`` (either query end
    None = open).  Only a provable miss returns False: missing
    statistics or values that do not compare never skip a file."""
    if fmin is None or fmax is None:
        return True
    try:
        return not (
            (hi is not None and fmin > hi) or (lo is not None and fmax < lo)
        )
    except TypeError:
        return True


@contextmanager
def merge_prologue(
    source: DataFrame, delete_keys: DataFrame | None, keys: list,
    error_cls: type, dup_hint: str = "",
) -> Iterator[tuple[DataFrame, DataFrame | None, tuple]]:
    """Materialize the MERGE inputs and check the source once; a context
    manager around the merge that frees the materialized blocks when it
    exits, so no merge leaves its source in executor storage.

    The source plan is re-used by every downstream pass (duplicate
    check, key bounds, touched-file search, survivor rewrite or
    delete staging, CDC); for SQL-front-end merges it is itself a
    multi-join over the TARGET, so re-evaluating it per pass multiplied
    the whole merge's scan work.  ``localCheckpoint`` materializes it
    (and ``delete_keys``) exactly once and truncates the plan: every
    later pass reads the materialized blocks.  O(|source|) executor
    storage — the merge stages the full source as new data files
    anyway.

    The duplicate-key check (a target row may match at most one source
    row: dup ⇔ count(*) > count(distinct key tuple)) and the first
    key's bounds come from ONE aggregate job.  With ``delete_keys`` the
    bounds are recomputed IN SPARK over the union of both key sets:
    merging per-frame bounds with Python's ``min``/``max`` diverges from
    Spark's ordering (NaN sorts above every number in Spark, UTF-8
    binary string order) and mis-shapes the skip range.

    Yields ``(source, delete_keys, (lo, hi))``; raises ``error_cls``
    naming a duplicate key (``dup_hint`` is appended to the message)."""
    source = source.localCheckpoint(eager=True)
    if delete_keys is not None:
        delete_keys = delete_keys.localCheckpoint(eager=True)
    try:
        key0 = keys[0]
        agg = source.agg(
            F.count(F.lit(1)).alias("__n"),
            F.count_distinct(F.struct(*keys)).alias("__nd"),
            F.min(key0).alias("__lo"),
            F.max(key0).alias("__hi"),
        ).collect()[0]
        if agg["__n"] != agg["__nd"]:
            dup = (
                source.groupBy(*keys).count().where(F.col("count") > 1)
                .limit(1).collect()
            )
            raise error_cls(
                f"MERGE source has duplicate key "
                f"{tuple(dup[0][k] for k in keys)}{dup_hint}"
            )
        key_bounds = (agg["__lo"], agg["__hi"])
        if delete_keys is not None:
            db = (
                source.select(F.col(key0).alias("__k"))
                .unionByName(delete_keys.select(F.col(key0).alias("__k")))
                .agg(F.min("__k").alias("lo"), F.max("__k").alias("hi"))
                .collect()[0]
            )
            key_bounds = (db["lo"], db["hi"])
        yield source, delete_keys, key_bounds
    finally:
        for df in (source, delete_keys):
            if df is not None:
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def merge_key_sets(source: DataFrame, delete_keys: DataFrame | None,
                   keys: list):
    """The MERGE's key sets: ``(src_keys, tomb_keys, hint)``.

    ``src_keys`` are the source's distinct keys; ``tomb_keys`` the
    TOMBSTONE set — target rows replaced by the source plus, with
    ``delete_keys`` (general MERGE's delete clause), rows removed
    outright.  ``hint`` is the join strategy for every key set derived
    from them: a plain MERGE's sets are source-sized, so they broadcast;
    ``delete_keys`` (the SQL front-end's DELETE / BY SOURCE clauses) can
    be target-sized, so the strategy is left to AQE, which still
    broadcasts when the runtime size allows."""
    src_keys = source.select(*keys).distinct()
    if delete_keys is None:
        return src_keys, src_keys, F.broadcast
    tomb_keys = src_keys.unionByName(delete_keys.select(*keys)).distinct()
    return src_keys, tomb_keys, lambda df: df


def discard_files(table_path: str, rels) -> None:
    """Delete files staged under ``table_path`` for a commit that then
    lost its race: no committed metadata references them, so nothing
    (vacuum, snapshot expiry) would ever reclaim them."""
    for rel in rels:
        try:
            os.remove(os.path.join(table_path, rel))
        except OSError:
            pass


def retry_on_conflict(attempt, conflict: type, max_retries: int):
    """Optimistic concurrency: ``attempt(n)`` for n = 0, 1, ... until it
    returns.  Each ``conflict`` it raises (a lost commit race) runs it
    again against the fresh table state, at most ``max_retries`` more
    times; re-execution recomputes the result from current state, as
    if the writers had been serialized.  After the last loss the
    conflict propagates."""
    n = 0
    while True:
        try:
            return attempt(n)
        except conflict:
            if n >= max_retries:
                raise
            n += 1
