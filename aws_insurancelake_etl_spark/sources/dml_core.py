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

- :func:`merge_prologue`: source / delete-key checkpoint and the
  source's checkpointed key set (all freed when the merge ends), whose
  observed counts and first-key bounds give the duplicate-key check
  and the skip range;
- :func:`merge_key_sets`: the source and tombstone key sets and their
  join hint, shared by every attempt's key joins;
- :func:`retry_on_conflict`: the optimistic-concurrency attempt loop,
  and :func:`discard_files` for what a lost attempt staged;
- :func:`may_overlap` / :func:`files_in_range`: the file-statistics
  range test and the first-key file skip of the touched-file search,
  over each format's decoded per-file ``(min, max)``;
- :func:`partition_match`: the partition-only predicate test of the
  partition clear, decided by the predicate's column references
  (:func:`predicate_columns`) and one local-relation filter;
- :func:`carry_row_ids`: an updated row keeps its target row's id;
- :func:`meta_df` / :func:`broadcast_meta` / :func:`lit_lookup`:
  driver-side rows (O(files) metadata, lookup side tables) as a JVM
  local relation, its one-task broadcast, or a literal map
  expression.
"""

from __future__ import annotations

import os
import re
from collections.abc import Iterator
from contextlib import contextmanager

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StringType, StructField, StructType

#: largest metadata map embedded in the plan as a literal; bigger maps
#: fall back to a broadcast-join DataFrame (plan size stays bounded)
LIT_MAP_MAX = 1024


def meta_df(spark: SparkSession, rows, schema=None, names=None) -> DataFrame:
    """Driver-side rows -> DataFrame over a JVM local relation: O(files)
    table metadata (row-id bases, DV descriptors, file/sequence maps,
    partition tuples, inspection tables) and lookup side tables.

    ``schema`` is a DDL string or ``StructType``; without it the schema
    is the one ``createDataFrame(rows, names)`` infers (same key types,
    so a join coerces keys the same way; empty or all-null columns
    raise the same errors).

    The rows travel as one Arrow table into a ``LocalRelation``, never
    a Python RDD, so no job over the frame starts a Python worker.  The
    optimizer folds a projection or filter over it into the relation
    itself: filtering it and collecting the result (the partition fast
    path of both formats' partition clear) submits no Spark job.  Scanned
    as-is, a local relation spreads over ``min(rows, parallelism)``
    tasks; broadcast it through :func:`broadcast_meta`, which keeps the
    build a one-task stage."""
    rows = list(rows)
    if schema is None:
        schema = spark._inferSchemaFromList(rows, names=names)
    elif isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    table = pa.Table.from_pylist(
        [dict(zip(schema.names, row)) for row in rows],
        schema=to_arrow_schema(schema),
    )
    return spark.createDataFrame(table, schema=schema)


def broadcast_meta(df: DataFrame) -> DataFrame:
    """``F.broadcast`` of a :func:`meta_df` frame as a one-task build:
    a local relation broadcast as-is scans ``min(rows, parallelism)``
    tasks for a handful of rows."""
    return F.broadcast(df.coalesce(1))


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


def files_in_range(files, file_range, lo, hi) -> list:
    """The first-key file skip of both formats' touched-file search:
    the ``files`` whose statistics ``file_range(f) -> (min, max)`` may
    hold a key in ``[lo, hi]`` (:func:`may_overlap`).  Each format
    decodes its own statistics (Delta's footer-stats JSON, Iceberg's
    manifest bounds) and answers ``(None, None)`` for a file whose
    statistics are missing or do not decode, which never drops."""
    return [f for f in files if may_overlap(*file_range(f), lo, hi)]


#: a SQL string literal (either quote, backslash escapes), then an
#: identifier, bare or backticked
_SQL_STRING = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"")
_SQL_IDENT = re.compile(r"`([^`]+)`|\b([A-Za-z_][A-Za-z0-9_]*)\b")


def predicate_columns(predicate: str) -> set:
    """Every identifier a SQL predicate names outside its string
    literals, lower-cased (Spark resolves columns case-insensitively):
    a superset of the columns it references, since function names and
    keywords count too."""
    return {
        (quoted or bare).lower()
        for quoted, bare in _SQL_IDENT.findall(_SQL_STRING.sub("", predicate))
    }


def partition_match(spark: SparkSession, predicate: str, part_fields,
                    columns, tuples):
    """The partition-only predicate test of both formats' partition
    clear.  ``tuples`` are the files' partition tuples (raw values, one
    per ``part_fields`` StructField); ``columns`` names every table
    column.  Returns the set of tuples the predicate holds for, or None
    when the predicate names a table column that is not a partition
    column: only a row-level DELETE can decide it then, and the caller
    takes that path without asking Spark to analyse the predicate
    against the partition columns alone.

    The distinct tuples, cast to their columns' types, are one
    :func:`meta_df` relation filtered by the predicate: Spark's own
    evaluation, and no Spark job."""
    names = [f.name for f in part_fields]
    data_cols = {c.lower() for c in columns} - {n.lower() for n in names}
    if predicate_columns(predicate) & data_cols:
        return None
    distinct = sorted(
        set(tuples),
        key=lambda t: tuple("" if v is None else str(v) for v in t),
    )
    raw = meta_df(
        spark,
        [(i, *t) for i, t in enumerate(distinct)],
        StructType(
            [StructField("__pt_idx", LongType(), False)]
            + [StructField(n, StringType(), True) for n in names]
        ),
    )
    typed = raw.select(
        "__pt_idx",
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in part_fields],
    )
    return {
        distinct[r["__pt_idx"]]
        for r in typed.where(F.expr(predicate)).collect()
    }


def carry_row_ids(source: DataFrame, matched: DataFrame, keys: list,
                  out_col: str, within: DataFrame | None = None) -> DataFrame:
    """An UPDATED row keeps its target row's id (Delta §Row Tracking,
    Iceberg v3 §Row Lineage): ``source`` with the smallest ``_row_id``
    of its key's ``matched`` target rows joined on as ``out_col``,
    materialized into the new files.  Inserts match nothing and read
    null, so they mint fresh ids from their new files; duplicate-key
    targets map to their smallest id, the MERGE's one-replacement-per-
    key rule.  ``within`` (a key set) first restricts ``matched`` to
    its keys: the source's, when ``matched`` also holds rows the delete
    clause removes."""
    if within is not None:
        matched = matched.join(within, keys, "left_semi")
    ids = matched.groupBy(*keys).agg(F.min("_row_id").alias(out_col))
    return source.join(ids, keys, "left")


@contextmanager
def merge_prologue(
    source: DataFrame, delete_keys: DataFrame | None, keys: list,
    error_cls: type, dup_hint: str = "",
) -> Iterator[tuple[DataFrame, DataFrame | None, tuple, tuple]]:
    """Materialize the MERGE inputs and the source's key set once and
    check the source; a context manager around the merge that frees
    all three when it exits, so no merge leaves them in executor
    storage.

    The source plan is re-used by every downstream pass (touched-file
    search, survivor rewrite or delete staging, CDC); for SQL-front-end
    merges it is itself a multi-join over the TARGET, so re-evaluating
    it per pass multiplied the whole merge's scan work.
    ``localCheckpoint`` materializes it (and ``delete_keys``) exactly
    once and truncates the plan.  O(|source|) executor storage — the
    merge stages the full source as new data files anyway.

    The source's key set is ONE checkpointed ``groupBy(*keys).count()``
    (one shuffle, 2 jobs; a count-distinct aggregate took 3).  Its
    ``observe``d max count and min and max first key come with those
    jobs: a count above one is a duplicate key (a target row may match
    at most one source row), and the min/max are the skip range.  Every later key join of every attempt (touched-file
    search, survivor anti-join, position-delete join) reads that set
    through :func:`merge_key_sets` instead of re-shuffling the source's
    distinct keys.  With ``delete_keys`` the bounds are recomputed IN
    SPARK over the union of both key sets: merging per-frame bounds
    with Python's ``min``/``max`` diverges from Spark's ordering (NaN
    sorts above every number in Spark, UTF-8 binary string order) and
    mis-shapes the skip range.

    Yields ``(source, delete_keys, key_sets, (lo, hi))`` with
    ``key_sets`` from :func:`merge_key_sets`; raises ``error_cls``
    naming a duplicate key (``dup_hint`` is appended to the message)."""
    source = source.localCheckpoint(eager=True)
    held = [source]
    if delete_keys is not None:
        delete_keys = delete_keys.localCheckpoint(eager=True)
        held.append(delete_keys)
    try:
        key0 = keys[0]
        seen = Observation()
        key_counts = (
            source.groupBy(*keys).count()
            .observe(
                seen,
                F.max("count").alias("dup"),
                F.min(key0).alias("lo"),
                F.max(key0).alias("hi"),
            )
            .localCheckpoint(eager=True)
        )
        held.append(key_counts)
        stats = seen.get
        if (stats["dup"] or 0) > 1:
            dup = key_counts.where(F.col("count") > 1).limit(1).collect()
            raise error_cls(
                f"MERGE source has duplicate key "
                f"{tuple(dup[0][k] for k in keys)}{dup_hint}"
            )
        key_bounds = (stats["lo"], stats["hi"])
        if delete_keys is not None:
            db = (
                source.select(F.col(key0).alias("__k"))
                .unionByName(delete_keys.select(F.col(key0).alias("__k")))
                .agg(F.min("__k").alias("lo"), F.max("__k").alias("hi"))
                .collect()[0]
            )
            key_bounds = (db["lo"], db["hi"])
        key_sets = merge_key_sets(
            key_counts.select(*keys), delete_keys, keys
        )
        yield source, delete_keys, key_sets, key_bounds
    finally:
        for df in held:
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def merge_key_sets(src_keys: DataFrame, delete_keys: DataFrame | None,
                   keys: list):
    """The MERGE's key sets: ``(src_keys, tomb_keys, hint)``.

    ``src_keys`` are the source's distinct keys (the prologue's
    checkpointed key set); ``tomb_keys`` the TOMBSTONE set — target
    rows replaced by the source plus, with ``delete_keys`` (general
    MERGE's delete clause), rows removed outright.  ``hint`` is the
    join strategy for every key set derived from them: a plain MERGE's
    sets are source-sized, so they broadcast; ``delete_keys`` (the SQL
    front-end's DELETE / BY SOURCE clauses) can be target-sized, so the
    strategy is left to AQE, which still broadcasts when the runtime
    size allows."""
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
