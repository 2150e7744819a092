"""dml_core: the row-level DML pieces both table formats share — the
MERGE prologue's key set and bounds, the metadata frames, the
conflict-retry loop and each format's one commit exit, which discards
what a lost commit staged — checked through the public ``delta_lite`` /
``iceberg_lite`` entry points."""

import dataclasses
import json
import os
import shutil
import uuid
from collections import Counter
from urllib.parse import unquote

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from aws_insurancelake_etl_spark.sources import delta_lite as dl
from aws_insurancelake_etl_spark.sources import dml_core
from aws_insurancelake_etl_spark.sources import iceberg_lite as il


def _tree(path):
    """Every file under ``path``, relative to it."""
    return {
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
    }


def _kv_rows(df):
    return sorted((str(r["k"]), r["v"]) for r in df.collect())


class _Fmt:
    """One table format behind the calls these tests make."""

    def __init__(self, name):
        self.name = name

    def append(self, spark, df, path):
        if self.name == "delta":
            dl.write_delta(df, path)
        else:
            il.write_iceberg(spark, df, path)

    def merge(self, spark, source, path, keys, **kw):
        fn = dl.merge_delta if self.name == "delta" else il.merge_iceberg
        return fn(spark, source, path, keys, **kw)

    def read(self, spark, path):
        if self.name == "delta":
            return dl.read_delta(spark, path)
        return il.read_iceberg(spark, path)

    def delete(self, spark, path, predicate):
        fn = dl.delete_delta if self.name == "delta" else il.delete_iceberg
        return fn(spark, path, predicate)

    def create_with_row_ids(self, spark, df, path):
        """A row-tracked Delta table or a v3 Iceberg table."""
        if self.name == "delta":
            dl.write_delta(df, path, configuration={
                "delta.enableRowTracking": "true"})
        else:
            il.write_iceberg(spark, df, path, format_version=3)

    def read_row_ids(self, spark, path):
        if self.name == "delta":
            return dl.read_delta(spark, path, row_tracking=True)
        return il.read_iceberg(spark, path, row_lineage=True)


@pytest.fixture(params=["delta", "iceberg"])
def fmt(request):
    return _Fmt(request.param)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k double, v string")


def test_delete_key_bounds_follow_spark_nan_ordering(spark, tmp_path, fmt):
    """A NaN delete key lies above every number in Spark's ordering, so
    the merged skip range must reach it: Python's ``max(5.0, nan)`` is
    5.0, which would skip the NaN row's file and keep the row."""
    path = str(tmp_path / "t")
    nan = float("nan")
    fmt.append(spark, _kv(spark, [(1.0, "a"), (5.0, "b")]), path)
    fmt.append(spark, _kv(spark, [(nan, "n")]), path)
    fmt.append(spark, _kv(spark, [(100.0, "z")]), path)
    fmt.merge(
        spark, _kv(spark, [(1.0, "a2"), (5.0, "b2")]), path, ["k"],
        delete_keys=_kv(spark, [(nan, "")]).select("k"),
    )
    assert _kv_rows(fmt.read(spark, path)) == [
        ("1.0", "a2"), ("100.0", "z"), ("5.0", "b2"),
    ]


def _lose_next_commit(monkeypatch, fmt):
    """The next version claim of ``fmt`` loses the race: another writer
    took the version first.  Later claims are real."""
    mod, name = (
        (dl, "_try_commit") if fmt.name == "delta"
        else (il, "_try_commit_metadata")
    )
    real, lost = getattr(mod, name), []

    def claim(*a, **k):
        if not lost:
            lost.append(1)
            return False
        return real(*a, **k)

    monkeypatch.setattr(mod, name, claim)


def _rows(n0, n1):
    return [Row(k=i, v=f"v{i}") for i in range(n0, n1)]


#: one writer family per case: ``(table, setup, op)`` per format.
#: ``table`` is the Delta configuration or the Iceberg format version
#: the table is created with; ``setup`` (or None) takes it past its
#: first commit (deletion vectors, a second manifest); ``op`` is the
#: writer whose commit loses.  Delta tables carry the change data feed,
#: so the lost DML also stages CDC files.
_WRITERS = {
    "append_row_ids": {
        "delta": (
            {"delta.enableRowTracking": "true"}, None,
            lambda spark, p, df: dl.write_delta(df, p),
        ),
        "iceberg": (
            3, None,
            lambda spark, p, df: il.write_iceberg(spark, df, p, max_retries=0),
        ),
    },
    "overwrite": {
        "delta": (
            {}, None,
            lambda spark, p, df: dl.write_delta(df, p, mode="overwrite"),
        ),
        "iceberg": (
            2, None, lambda spark, p, df: il.overwrite_iceberg(spark, df, p),
        ),
    },
    "delete": {
        "delta": ({}, None, lambda spark, p, df: dl.delete_delta(
            spark, p, "k < 3", use_deletion_vectors=False)),
        "iceberg": (2, None, lambda spark, p, df: il.delete_iceberg(
            spark, p, "k < 3")),
    },
    "delete_dv": {
        "delta": ({}, None, lambda spark, p, df: dl.delete_delta(
            spark, p, "k < 3", use_deletion_vectors=True)),
        "iceberg": (3, None, lambda spark, p, df: il.delete_iceberg(
            spark, p, "k < 3")),
    },
    "update": {
        "delta": ({}, None, lambda spark, p, df: dl.update_delta(
            spark, p, {"v": "'x'"}, "k < 3", use_deletion_vectors=False)),
        "iceberg": (2, None, lambda spark, p, df: il.update_iceberg(
            spark, p, {"v": "'x'"}, "k < 3")),
    },
    "update_dv": {
        "delta": ({}, None, lambda spark, p, df: dl.update_delta(
            spark, p, {"v": "'x'"}, "k < 3", use_deletion_vectors=True)),
        "iceberg": (3, None, lambda spark, p, df: il.update_iceberg(
            spark, p, {"v": "'x'"}, "k < 3")),
    },
    "compact": {
        "delta": ({}, None, lambda spark, p, df: dl.optimize(spark, p, 1)),
        "iceberg": (2, None, lambda spark, p, df: il.rewrite_data_files(
            spark, p, target_files=1)),
    },
    "purge": {
        # Delta: rewrite the files carrying deletion vectors.  Iceberg:
        # merge two appends' manifests (metadata only, nothing but the
        # manifests and manifest list is staged)
        "delta": (
            {}, lambda spark, p: dl.delete_delta(
                spark, p, "k = 7", use_deletion_vectors=True),
            lambda spark, p, df: dl.reorg_purge(spark, p),
        ),
        "iceberg": (
            2, lambda spark, p: il.write_iceberg(
                spark, spark.createDataFrame(_rows(20, 22)), p),
            lambda spark, p, df: il.rewrite_manifests(p),
        ),
    },
    "merge": {
        "delta": ({}, None, lambda spark, p, df: dl.merge_delta(
            spark, df, p, ["k"], max_retries=0)),
        "iceberg": (2, None, lambda spark, p, df: il.merge_iceberg(
            spark, df, p, ["k"], max_retries=0)),
    },
}


def _writer_table(spark, path, fmt, family):
    """Create the ``family``'s table at ``path`` (two files, rows 0-7)
    and return its writer."""
    table_opt, setup, op = _WRITERS[family][fmt.name]
    base = spark.createDataFrame(_rows(0, 8)).repartition(2)
    if fmt.name == "delta":
        dl.write_delta(base, path, configuration={
            "delta.enableChangeDataFeed": "true", **table_opt,
        })
    else:
        il.write_iceberg(spark, base, path, format_version=table_opt)
    if setup is not None:
        setup(spark, path)
    return op


@pytest.mark.parametrize("family", list(_WRITERS))
def test_lost_commit_leaves_no_files(spark, tmp_path, monkeypatch, fmt,
                                     family):
    """Every writer family that loses its version claim raises the
    format's conflict, deletes every file it staged (data, delete, CDC,
    DV, manifests, manifest list) and leaves the table reading as
    before."""
    path = str(tmp_path / "t")
    op = _writer_table(spark, path, fmt, family)
    before_rows = sorted(map(tuple, fmt.read(spark, path).collect()))
    before = _tree(path)
    _lose_next_commit(monkeypatch, fmt)
    conflict = (
        dl.ConcurrentWriteError if fmt.name == "delta"
        else il.ConcurrentIcebergWrite
    )
    with pytest.raises(conflict):
        op(spark, path, spark.createDataFrame(_rows(1, 2) + _rows(20, 21)))
    assert _tree(path) == before
    monkeypatch.undo()
    assert sorted(map(tuple, fmt.read(spark, path).collect())) == before_rows


def test_ddl_commit_on_the_interval_writes_its_checkpoint(spark, tmp_path):
    """A metadata-only commit is a version like any other: landing on a
    multiple of ``CHECKPOINT_INTERVAL`` writes that checkpoint, and the
    snapshot read through it equals the one replayed from the JSON log."""
    path = str(tmp_path / "t")
    dl.write_delta(_kv(spark, [(1.0, "a")]), path)
    for i in range(1, dl.CHECKPOINT_INTERVAL):
        dl.set_delta_properties(path, {f"test.p{i}": str(i)})
    assert dl.snapshot(path).version == dl.CHECKPOINT_INTERVAL - 1
    v = dl.set_delta_properties(path, {"test.last": "x"})
    assert v == dl.CHECKPOINT_INTERVAL
    log = os.path.join(path, "_delta_log")
    assert os.path.exists(os.path.join(log, f"{v:020d}.checkpoint.parquet"))
    replay = str(tmp_path / "replay")
    os.makedirs(os.path.join(replay, "_delta_log"))
    for name in os.listdir(log):
        if name.endswith(".json"):
            shutil.copy(os.path.join(log, name),
                        os.path.join(replay, "_delta_log", name))
    from_json = dataclasses.replace(dl.snapshot(replay), table_path=path)
    assert dl.snapshot(path) == from_json


def test_append_keeps_staged_files_until_its_last_lost_commit(
        spark, tmp_path, monkeypatch):
    """An append stages its data files once for every attempt: a lost
    commit that is retried keeps them, the last lost commit discards
    them."""
    path = str(tmp_path / "t")
    il.write_iceberg(spark, _kv(spark, [(1.0, "a")]), path)
    real, losses = il._commit_snapshot, []

    def lose_once(*a, **k):
        if not losses:
            losses.append(1)
            raise il.ConcurrentIcebergWrite("table moved (forced)")
        return real(*a, **k)

    monkeypatch.setattr(il, "_commit_snapshot", lose_once)
    il.write_iceberg(spark, _kv(spark, [(2.0, "b")]), path, max_retries=1)
    assert _kv_rows(il.read_iceberg(spark, path)) == [("1.0", "a"), ("2.0", "b")]
    before = _tree(path)

    def lose(*_a, **_k):
        raise il.ConcurrentIcebergWrite("table moved (forced)")

    monkeypatch.setattr(il, "_commit_snapshot", lose)
    with pytest.raises(il.ConcurrentIcebergWrite):
        il.write_iceberg(spark, _kv(spark, [(3.0, "c")]), path, max_retries=1)
    assert _tree(path) == before


@pytest.mark.parametrize("columns, row", [
    ("k int, v string, extra string", (1, "x", "e")),
    ("k int", (1,)),
])
def test_merge_into_truncated_iceberg_table_appends_the_source(
        spark, tmp_path, columns, row):
    """A table with no data file has nothing to match: MERGE appends the
    source as it is, whether it carries a column more or one less than
    the table."""
    path = str(tmp_path / "t")
    il.write_iceberg(spark, spark.createDataFrame([(9, "old")], "k int, v string"), path)
    il.truncate_iceberg(path)
    res = il.merge_iceberg(spark, spark.createDataFrame([row], columns), path, ["k"])
    assert res["deleted_rows"] == 0 and res["retries"] == 0
    assert "files_scanned" not in res
    out = il.read_iceberg(spark, path)
    assert out.columns == ["k", "v"]
    assert [tuple(r) for r in out.collect()] == [(1, row[1] if len(row) > 1 else None)]


def _delta_logged_files(path):
    """Every data file any committed Delta version added."""
    log = os.path.join(path, "_delta_log")
    added = set()
    for name in os.listdir(log):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log, name), encoding="utf-8") as fh:
            for line in fh:
                action = json.loads(line)
                if "add" in action:
                    added.add(unquote(action["add"]["path"]))
    return added


def test_merge_retries_once_after_a_lost_commit(spark, tmp_path, monkeypatch,
                                                 fmt):
    """Another writer lands an append between the merge's snapshot and
    its commit: the first attempt loses, discards what it staged and
    re-executes on the new snapshot, which carries the append."""
    path = str(tmp_path / "t")
    fmt.append(spark, _kv(spark, [(1.0, "a"), (2.0, "b")]), path)
    other = _kv(spark, [(7.0, "o")])
    source = _kv(spark, [(2.0, "b2"), (3.0, "c")])
    calls = []
    if fmt.name == "delta":
        real = dl._try_commit

        def commit(log_dir, version, actions, *a, **k):
            if not calls:
                calls.append(version)
                dl.write_delta(other, path)  # lands at `version` first
            return real(log_dir, version, actions, *a, **k)

        monkeypatch.setattr(dl, "_try_commit", commit)
    else:
        real = il._commit_snapshot

        def commit(*a, **k):
            if not calls:
                calls.append(1)
                il.write_iceberg(spark, other, path)
            return real(*a, **k)

        monkeypatch.setattr(il, "_commit_snapshot", commit)
    res = fmt.merge(spark, source, path, ["k"])
    assert res["retries"] == 1
    assert _kv_rows(fmt.read(spark, path)) == [
        ("1.0", "a"), ("2.0", "b2"), ("3.0", "c"), ("7.0", "o"),
    ]
    if fmt.name == "delta":
        on_disk = {
            f for f in _tree(path)
            if not f.startswith("_delta_log") and f.endswith(".parquet")
        }
        assert on_disk <= _delta_logged_files(path)
    else:
        data, deletes = il.plan_scan(path)
        live = {os.path.relpath(e.path, path) for e in (*data, *deletes)}
        assert {f for f in _tree(path) if f.startswith("data")} == live


def test_may_overlap_only_skips_a_provable_miss():
    assert dml_core.may_overlap(1, 5, 6, 9) is False
    assert dml_core.may_overlap(6, 9, 1, 5) is False
    assert dml_core.may_overlap(1, 5, 5, 9) is True
    assert dml_core.may_overlap(1, 5, None, 0) is False
    assert dml_core.may_overlap(1, 5, 6, None) is False
    # missing statistics or values that do not compare never skip
    assert dml_core.may_overlap(None, 5, 6, 9) is True
    assert dml_core.may_overlap("a", "c", 6, 9) is True
    assert dml_core.may_overlap(1, 5, "a", "c") is True
    assert dml_core.may_overlap(7, 9, "a", None) is True


def test_retry_on_conflict_gives_up_after_the_budget():
    class Lost(Exception):
        pass

    attempts = []

    def attempt(n):
        attempts.append(n)
        raise Lost()

    with pytest.raises(Lost):
        dml_core.retry_on_conflict(attempt, Lost, 2)
    assert attempts == [0, 1, 2]
    assert dml_core.retry_on_conflict(lambda n: n, Lost, 0) == 0


def _stage_tasks(spark, fn):
    """Tasks of every stage of the jobs ``fn`` submits."""
    sc = spark.sparkContext
    group = f"stage-tasks-{uuid.uuid4()}"
    sc.setJobGroup(group, "stage tasks")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    return [
        st.getStageInfo(stage).numTasks
        for job in st.getJobIdsForGroup(group)
        for stage in st.getJobInfo(job).stageIds
    ]


def test_meta_df_is_a_jvm_local_relation(spark):
    """Metadata frames and lookup side tables are local relations, with
    the schema given or inferred from the rows: no job over them starts
    a Python worker."""
    explicit = dml_core.meta_df(
        spark, [(1, "a", {"p": "1"}), (2, None, {})],
        "n long, s string, part map<string,string>",
    )
    inferred = dml_core.meta_df(spark, [(1, "a")], names=["n", "s"])
    for df in (explicit, inferred):
        assert df._jdf.queryExecution().optimizedPlan().nodeName() == (
            "LocalRelation"
        )
    assert explicit.collect() == [
        Row(n=1, s="a", part={"p": "1"}), Row(n=2, s=None, part={}),
    ]
    assert inferred.schema.simpleString() == "struct<n:bigint,s:string>"
    assert dml_core.meta_df(spark, [], "n long").collect() == []


def test_filter_over_meta_df_runs_no_job(spark, count_jobs):
    meta = dml_core.meta_df(
        spark, [(i, str(i)) for i in range(6)], "n long, p string"
    )
    out = []
    typed = meta.select("n", F.col("p").cast("int").alias("p"))
    assert count_jobs(
        lambda: out.extend(typed.where(F.expr("p > 3")).collect())
    ) == 0
    assert sorted(r["n"] for r in out) == [4, 5]


def test_meta_df_broadcast_is_one_task(spark):
    """A local relation broadcast as it is scans min(rows, parallelism)
    tasks; the metadata broadcast keeps its build to one."""
    meta = dml_core.meta_df(
        spark, [(i, f"f{i}") for i in range(12)], "n long, f string"
    )
    facts = spark.range(0, 24, 1, 1).withColumnRenamed("id", "n")
    out = []
    tasks = _stage_tasks(spark, lambda: out.extend(
        facts.join(dml_core.broadcast_meta(meta), "n").collect()
    ))
    assert tasks and set(tasks) == {1}, tasks
    assert len(out) == 12


def test_partition_clear_fast_path_runs_no_job(spark, tmp_path, count_jobs,
                                               fmt, monkeypatch):
    """A DELETE on partition columns alone decides per partition tuple
    on the driver and commits file removals: no Spark job.  A predicate
    that also names a data column takes the row path, decided by its
    column references: Spark never fails to analyse it against the
    partition columns alone."""
    from pyspark.errors import AnalysisException
    from pyspark.errors.exceptions.captured import CapturedException

    path = str(tmp_path / "t")
    df = spark.range(6).selectExpr("id AS k", "cast(id % 2 AS string) AS p")
    if fmt.name == "delta":
        dl.write_delta(df, path, partition_by=["p"])
    else:
        il.write_iceberg(spark, df, path, partition_by=["p"])
    out = []
    assert count_jobs(lambda: out.append(fmt.delete(spark, path, "p = '1'"))) == 0
    assert out[0]["metadata_only"] is True
    assert sorted(r["k"] for r in fmt.read(spark, path).collect()) == [0, 2, 4]
    analysed = []
    real = CapturedException.__init__

    def record(self, *a, **k):
        real(self, *a, **k)
        if isinstance(self, AnalysisException):
            analysed.append(str(self))

    monkeypatch.setattr(CapturedException, "__init__", record)
    res = fmt.delete(spark, path, "K >= 4 AND p = '0'")
    assert not res.get("metadata_only")
    assert analysed == []
    monkeypatch.undo()
    assert sorted(r["k"] for r in fmt.read(spark, path).collect()) == [0, 2]


#: Spark jobs of one MERGE into a two-file table: two fewer than when
#: every key join re-shuffled the source's distinct keys and the
#: duplicate check ran its own 3-job aggregate (delta 11, iceberg 10;
#: 8 and 8 with the shared key set)
_MERGE_JOBS = {"delta": 9, "iceberg": 8}


def test_merge_job_budget(spark, tmp_path, count_jobs, fmt):
    """The prologue builds the source's key set once (one shuffle, its
    duplicate check and bounds observed on the same job) and every key
    join reads it: no key set is re-shuffled per use."""
    path = str(tmp_path / "t")
    rows = "cast(id AS double) AS k", "cast(id AS string) AS v"
    fmt.append(spark, spark.range(8).selectExpr(*rows), path)
    fmt.append(spark, spark.range(20, 23).selectExpr(*rows), path)
    source = spark.range(4).selectExpr(
        "cast((id * 7) % 30 AS double) AS k", "'new' AS v"
    )
    jobs = count_jobs(lambda: fmt.merge(spark, source, path, ["k"]))
    assert jobs <= _MERGE_JOBS[fmt.name], jobs
    got = {r["k"]: r["v"] for r in fmt.read(spark, path).collect()}
    assert got == {
        **{float(i): str(i) for i in (*range(8), 20, 22)},
        0.0: "new", 7.0: "new", 14.0: "new", 21.0: "new",
    }


#: Spark jobs of each row-level writer on its ``_WRITERS`` table, as
#: measured before the writers shared one touched-file search and one
#: commit tail (Delta tables carry the change data feed)
_VERB_JOBS = {
    ("delete", "delta"): 4, ("delete", "iceberg"): 3,
    ("delete_dv", "delta"): 3, ("delete_dv", "iceberg"): 2,
    ("update", "delta"): 4, ("update", "iceberg"): 5,
    ("update_dv", "delta"): 6, ("update_dv", "iceberg"): 4,
    ("merge", "delta"): 13, ("merge", "iceberg"): 8,
}


@pytest.mark.parametrize(
    "family", ["delete", "delete_dv", "update", "update_dv", "merge"]
)
def test_row_level_job_budget(spark, tmp_path, count_jobs, fmt, family):
    """Each row-level writer runs no more Spark jobs than it did with
    one search and one commit tail per writer."""
    path = str(tmp_path / "t")
    op = _writer_table(spark, path, fmt, family)
    source = spark.createDataFrame(_rows(1, 2) + _rows(20, 21))
    jobs = count_jobs(lambda: op(spark, path, source))
    assert jobs <= _VERB_JOBS[family, fmt.name], jobs
    got = {r["k"]: r["v"] for r in fmt.read(spark, path).collect()}
    want = {i: f"v{i}" for i in range(8)}
    if family.startswith("delete"):
        want = {k: v for k, v in want.items() if k >= 3}
    elif family.startswith("update"):
        want.update({0: "x", 1: "x", 2: "x"})
    else:
        want.update({1: "v1", 20: "v20"})
    assert got == want


def test_general_merge_carries_ids_of_updated_rows_only(spark, tmp_path,
                                                         fmt):
    """A MERGE with a delete clause: the updated row keeps its row id,
    the deleted row is gone, and the inserted row gets a fresh id."""
    path = str(tmp_path / "t")
    fmt.create_with_row_ids(
        spark, spark.createDataFrame(_rows(0, 4)).repartition(2), path
    )
    ids = {r["k"]: r["_row_id"] for r in fmt.read_row_ids(spark, path).collect()}
    fmt.merge(
        spark, spark.createDataFrame([Row(k=1, v="new"), Row(k=9, v="ins")]),
        path, ["k"], delete_keys=spark.createDataFrame([Row(k=2)]),
    )
    got = {
        r["k"]: (r["v"], r["_row_id"])
        for r in fmt.read_row_ids(spark, path).collect()
    }
    assert set(got) == {0, 1, 3, 9}
    assert got[1] == ("new", ids[1])
    assert got[0] == ("v0", ids[0]) and got[3] == ("v3", ids[3])
    assert got[9][0] == "ins"
    assert got[9][1] is not None and got[9][1] not in ids.values()


@pytest.mark.parametrize("dv", [False, True])
def test_failed_update_leaves_no_files(spark, tmp_path, dv):
    """An UPDATE whose new rows break a CHECK constraint raises before
    its commit and deletes everything it staged (the deletion-vector
    shape stages its DVs while it searches)."""
    path = str(tmp_path / "t")
    dl.write_delta(spark.createDataFrame(_rows(0, 8)).repartition(2), path,
                   configuration={"delta.enableChangeDataFeed": "true"})
    dl.add_check_constraint(spark, path, "short_v", "length(v) < 3")
    before = _tree(path)
    with pytest.raises(dl.DeltaLiteError, match="short_v"):
        dl.update_delta(spark, path, {"v": "'long'"}, "k < 3",
                        use_deletion_vectors=dv)
    assert _tree(path) == before


#: every Iceberg metadata-only commit: ``op(path, snapshot_ids)`` on a
#: v2 table with three appends, main rolled back to the second, tag
#: ``t0`` and branch ``b1`` at the third
_METADATA_COMMITS = {
    "create_ref": lambda p, s: il.create_ref(p, "t1"),
    "drop_ref": lambda p, s: il.drop_ref(p, "t0"),
    "fast_forward": lambda p, s: il.fast_forward(p, "b1"),
    "set_iceberg_properties": lambda p, s: il.set_iceberg_properties(
        p, {"mine": "1"}),
    "set_sort_order": lambda p, s: il.set_sort_order(p, [("k", "asc")]),
    "alter_iceberg_schema": lambda p, s: il.alter_iceberg_schema(
        p, renames={"v": "w"}),
    "upgrade_iceberg_format": lambda p, s: il.upgrade_iceberg_format(p, 3),
    "rollback_to_snapshot": lambda p, s: il.rollback_to_snapshot(p, s[0]),
    "expire_snapshots": lambda p, s: il.expire_snapshots(p, keep_last=1),
    # _carry_commit, also the partition clear's metadata-only DELETE
    "rewrite_manifests": lambda p, s: il.rewrite_manifests(p),
}


@pytest.mark.parametrize("op", list(_METADATA_COMMITS))
def test_metadata_commit_loses_to_a_commit_after_its_load(
    spark, tmp_path, monkeypatch, op,
):
    """Another writer commits right after the operation loaded the
    metadata it edits: the operation's claim must lose and raise, never
    overwrite the other writer's change."""
    path = str(tmp_path / "t")
    for n in range(3):
        il.write_iceberg(spark, spark.createDataFrame(_rows(n, n + 1)), path)
    snaps = il.snapshot_ids(path)
    il.create_ref(path, "t0")
    il.create_ref(path, "b1", "branch")
    il.rollback_to_snapshot(path, snaps[1])
    before = _tree(path)
    real, injected = il._load_versioned, []

    def load(table_path):
        loaded = real(table_path)
        if not injected:
            injected.append(1)
            il.set_iceberg_properties(table_path, {"other.writer": "1"})
        return loaded

    monkeypatch.setattr(il, "_load_versioned", load)
    with pytest.raises(il.ConcurrentIcebergWrite):
        _METADATA_COMMITS[op](path, snaps)
    monkeypatch.undo()
    meta = il._load_metadata(path)
    assert meta["properties"]["other.writer"] == "1"
    assert "mine" not in meta["properties"]
    assert meta["current-snapshot-id"] == snaps[1]
    assert set(meta["refs"]) == {"main", "t0", "b1"}
    # nothing the losing operation planned to delete is gone
    assert before <= _tree(path)
    assert sorted(r["k"] for r in il.read_iceberg(spark, path).collect()) == [
        0, 1,
    ]


def _dvs_per_data_file(path):
    """Deletion vectors of the current snapshot, per data file."""
    return Counter(
        d.referenced_data_file for d in il.plan_scan(path)[1]
        if d.file_format == "PUFFIN"
    )


#: row writers that plan the table, read its live rows and commit
_ROW_WRITES = {
    "update": lambda spark, p: il.update_iceberg(
        spark, p, {"v": "'x'"}, "k = 1"),
    "delete": lambda spark, p: il.delete_iceberg(spark, p, "k = 1"),
    "rewrite_data_files": lambda spark, p: il.rewrite_data_files(spark, p),
}


@pytest.mark.parametrize("fv", [2, 3], ids=["v2", "v3"])
@pytest.mark.parametrize("op", list(_ROW_WRITES))
def test_row_write_loses_to_a_commit_after_its_plan(
    spark, tmp_path, monkeypatch, op, fv,
):
    """Another writer's DELETE lands right after the operation planned
    the table: the operation must lose its claim and raise, leaving the
    table exactly as the other writer left it — one deletion vector per
    data file, so a later DELETE resurrects no row."""
    path = str(tmp_path / "t")
    il.write_iceberg(spark, spark.createDataFrame(_rows(0, 10)).coalesce(1),
                     path, format_version=fv)
    il.write_iceberg(spark, spark.createDataFrame(_rows(10, 20)).coalesce(1),
                     path)
    il.delete_iceberg(spark, path, "k = 0")
    real, other = il._plan, []

    def plan(*a, **k):
        planned = real(*a, **k)
        if not other:
            other.append(1)
            il.delete_iceberg(spark, path, "k = 5")
            other.append(_tree(path))
        return planned

    monkeypatch.setattr(il, "_plan", plan)
    lost = []
    try:
        _ROW_WRITES[op](spark, path)
    except il.ConcurrentIcebergWrite:
        lost.append(1)
    monkeypatch.undo()
    after, dvs = _tree(path), _dvs_per_data_file(path)
    il.delete_iceberg(spark, path, "k = 7")
    rows = sorted(tuple(r) for r in il.read_iceberg(spark, path).collect())
    assert all(n == 1 for n in dvs.values()), dvs
    assert not {0, 5, 7} & {k for k, _v in rows}, "deleted rows came back"
    assert lost, "the operation committed on a stale plan"
    assert after == other[1]
    assert rows == [(i, f"v{i}") for i in range(1, 20) if i not in (5, 7)]


#: row writers touching only the second append's file; MERGE updates
#: one of its rows and inserts one
_SECOND_FILE_WRITES = {
    "merge": lambda spark, p: il.merge_iceberg(
        spark, spark.createDataFrame([Row(k=21, v="m"), Row(k=40, v="i")]),
        p, ["k"]),
    "update": lambda spark, p: il.update_iceberg(
        spark, p, {"v": "'x'"}, "k = 21"),
    "delete": lambda spark, p: il.delete_iceberg(spark, p, "k = 22"),
    "rewrite_data_files": lambda spark, p: il.rewrite_data_files(spark, p),
}


@pytest.mark.parametrize("fv", [2, 3], ids=["v2", "v3"])
@pytest.mark.parametrize("op", list(_SECOND_FILE_WRITES))
def test_row_level_metadata_reads(spark, tmp_path, monkeypatch, op, fv):
    """A row writer loads the table metadata once, reads the snapshot's
    manifest list once and each manifest once: its read and its commit
    both work from the one plan."""
    path = str(tmp_path / "t")
    il.write_iceberg(spark, spark.createDataFrame(_rows(0, 8)).coalesce(1),
                     path, format_version=fv)
    il.write_iceberg(spark, spark.createDataFrame(_rows(20, 28)).coalesce(1),
                     path)
    il.delete_iceberg(spark, path, "k = 0")
    manifests = {
        os.path.basename(mf["manifest_path"])
        for mf in il._plan(path).manifests
    }
    assert len(manifests) == 3
    loads, reads = [], []
    real_load, real_read = il._load_versioned, il._read_manifest_rows

    def load(*a, **k):
        loads.append(1)
        return real_load(*a, **k)

    def read(p):
        reads.append(os.path.basename(p))
        return real_read(p)

    monkeypatch.setattr(il, "_load_versioned", load)
    monkeypatch.setattr(il, "_read_manifest_rows", read)
    res = _SECOND_FILE_WRITES[op](spark, path)
    monkeypatch.undo()
    assert res.get("retries", 0) == 0
    assert len(loads) == 1
    assert sum(r.startswith("snap-") for r in reads) == 1
    assert sorted(r for r in reads if not r.startswith("snap-")) == sorted(
        manifests
    )


def test_iceberg_commit_reads_no_prior_metadata(spark, tmp_path, monkeypatch):
    """A commit builds the metadata and snapshot logs from the metadata
    its writer already loaded: one UPDATE opens the current
    ``vN.metadata.json`` once, for its plan."""
    path = str(tmp_path / "t")
    il.write_iceberg(spark, spark.createDataFrame(_rows(0, 8)), path)
    opened = []

    def tracked_open(file, *a, **k):
        if str(file).endswith(".metadata.json"):
            opened.append(os.path.basename(str(file)))
        return open(file, *a, **k)

    monkeypatch.setattr(il, "open", tracked_open, raising=False)
    il.update_iceberg(spark, path, {"v": "'x'"}, "k = 3")
    monkeypatch.undo()
    assert opened == ["v1.metadata.json"]
    meta = il._load_metadata(path)
    assert meta["metadata-log"][-1]["metadata-file"].endswith(
        "/metadata/v1.metadata.json"
    )
    assert [e["snapshot-id"] for e in meta["snapshot-log"]] == [
        s["snapshot-id"] for s in meta["snapshots"]
    ]


def test_truncated_table_reads_as_a_local_relation(spark, tmp_path, fmt):
    """A table with no live file reads as an empty local relation, which
    the optimizer folds through joins and unions, not as a scan of an
    empty Python RDD."""
    path = str(tmp_path / "t")
    fmt.append(spark, _kv(spark, [(1.0, "a")]), path)
    if fmt.name == "delta":
        dl.truncate_delta(spark, path)
    else:
        il.truncate_iceberg(path)
    df = fmt.read(spark, path)
    assert df._jdf.queryExecution().optimizedPlan().nodeName() == (
        "LocalRelation"
    )
    assert df.columns == ["k", "v"] and df.collect() == []
