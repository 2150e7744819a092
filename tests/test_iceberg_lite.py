"""iceberg_lite: manifest-tree reads of spec-conformant Iceberg v2
tables — snapshot time travel, identity-partition pruning at the
manifest level, path rebasing for relocated tables, POSITION deletes
(merge-on-read, incl. the sequence-number visibility rule), and
EQUALITY deletes (field-id resolution, strict sequence rule, null-safe
matching).  Reference parity: the Iceberg scan at
``etl_consume_entity_match.py:395-397`` over a format-version-2 table
(created at ``etl_consume_entity_match.py:385-389``) whose MERGE
history produces position deletes on any real deployment."""

import json
import os

import pytest
from pyspark.sql import Row

from aws_insurancelake_etl_spark.queries.pipeline_ops import build_iceberg_table
from aws_insurancelake_etl_spark.sources import avro_lite, iceberg_lite


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    snap1 = spark.createDataFrame(
        [Row(id=i, grp="a" if i < 3 else "b", v=float(i)) for i in range(6)]
    ).select("id", "grp", "v")
    snap2 = spark.createDataFrame(
        [Row(id=i, grp="c", v=float(i)) for i in range(10, 13)]
    ).select("id", "grp", "v")
    build_iceberg_table(spark, path, [snap1, snap2], "grp")
    return path


def test_latest_snapshot_reads_all(spark, table):
    df = iceberg_lite.read_iceberg(spark, table)
    assert df.count() == 9
    assert {r.grp for r in df.select("grp").distinct().collect()} == {"a", "b", "c"}


def test_time_travel_to_first_snapshot(spark, table):
    assert iceberg_lite.snapshot_ids(table) == [1, 2]
    df = iceberg_lite.read_iceberg(spark, table, snapshot_id=1)
    assert df.count() == 6
    assert {r.grp for r in df.select("grp").distinct().collect()} == {"a", "b"}
    with pytest.raises(iceberg_lite.IcebergLiteError, match="snapshot 99"):
        iceberg_lite.plan_files(table, snapshot_id=99)


def test_partition_pruning_happens_on_manifests(spark, table):
    all_files = iceberg_lite.plan_files(table)
    pruned = iceberg_lite.plan_files(table, partition_filter={"grp": "b"})
    assert len(pruned) == 1 and len(all_files) == 3
    assert pruned[0].partition == {"grp": "b"}
    df = iceberg_lite.read_iceberg(spark, table, partition_filter={"grp": "b"})
    assert sorted(r.id for r in df.collect()) == [3, 4, 5]


def test_paths_rebase_from_original_location(table):
    """The builder writes FAKE original-location URIs into every
    manifest; resolving them proves the relocation path."""
    meta = json.load(
        open(os.path.join(table, "metadata", "v2.metadata.json"))
    )
    assert meta["location"].startswith("file:///warehouse/orig")
    for f in iceberg_lite.plan_files(table):
        assert f.path.startswith(table)
        assert os.path.exists(f.path)


def test_position_deletes_applied(spark, tmp_path):
    """v2 merge-on-read: a delete snapshot's position-delete file drops
    exactly the named (file, row-ordinal) pairs; time travel to the
    pre-delete snapshot still sees every row.  The builder writes each
    partition's rows in input order, so ordinal i = i-th input row."""
    path = str(tmp_path / "mor")
    snap1 = spark.createDataFrame(
        [Row(id=i, grp="a" if i < 4 else "b", v=float(i)) for i in range(8)]
    ).select("id", "grp", "v").coalesce(1).sortWithinPartitions("id")
    empty = snap1.where("1=0")
    build_iceberg_table(
        spark, path, [snap1, empty], "grp",
        position_deletes={
            2: [("data/grp=a/f1-a.parquet", [0, 2]),
                ("data/grp=b/f1-b.parquet", [3])],
        },
    )
    latest = iceberg_lite.read_iceberg(spark, path)
    # grp=a file rows are ids [0,1,2,3] -> drop ordinals 0,2 = ids 0,2;
    # grp=b file rows are ids [4,5,6,7] -> drop ordinal 3 = id 7
    assert sorted(r.id for r in latest.collect()) == [1, 3, 4, 5, 6]
    time_travel = iceberg_lite.read_iceberg(spark, path, snapshot_id=1)
    assert time_travel.count() == 8
    data, deletes = iceberg_lite.plan_scan(path)
    assert len(data) == 2 and len(deletes) == 2
    assert all(d.sequence_number == 2 for d in deletes)
    # delete files live under the table after rebase
    assert all(os.path.exists(d.path) for d in deletes)


def test_position_delete_sequence_rule(spark, tmp_path):
    """A delete file only applies to data files with data sequence
    number <= the delete's (spec: Scan Planning).  A doctored delete at
    seq 2 forward-referencing a file added at seq 3 must NOT drop that
    file's rows — without the rule a compaction-rewritten file would
    lose rows to stale deletes."""
    path = str(tmp_path / "seq")
    mk = lambda ids, grp: spark.createDataFrame(
        [Row(id=i, grp=grp, v=float(i)) for i in ids]
    ).select("id", "grp", "v").coalesce(1).sortWithinPartitions("id")
    empty = mk(range(4), "a").where("1=0")
    build_iceberg_table(
        spark, path, [mk(range(4), "a"), empty, mk(range(10, 14), "c")],
        "grp",
        position_deletes={
            2: [("data/grp=a/f1-a.parquet", [1]),      # applies: 2 >= 1
                ("data/grp=c/f3-c.parquet", [0, 1])],  # ignored: 2 < 3
        },
    )
    rows = sorted(r.id for r in iceberg_lite.read_iceberg(spark, path).collect())
    assert rows == [0, 2, 3, 10, 11, 12, 13]


def test_equality_delete_without_ids_raises(spark, tmp_path):
    """A content=2 manifest entry with no ``equality_ids`` is malformed
    (spec: equality delete files must list the equated field ids) —
    loud error, not a silently-wrong read."""
    path = str(tmp_path / "eq")
    snap1 = spark.createDataFrame(
        [Row(id=i, grp="a", v=float(i)) for i in range(4)]
    ).select("id", "grp", "v")
    empty = snap1.where("1=0")
    build_iceberg_table(
        spark, path, [snap1, empty], "grp",
        position_deletes={2: [("data/grp=a/f1-a.parquet", [0])]},
    )
    # rewrite the delete manifest's entry content 1 -> 2 (keeps the
    # null equality_ids the position-delete entry carried)
    dman = os.path.join(path, "metadata", "delete-manifest-2.avro")
    names, rows = avro_lite.read_avro(dman)
    import io as _io

    with open(dman, "rb") as fh:
        meta, _ = avro_lite.read_header(_io.BytesIO(fh.read()))
    schema = json.loads(meta["avro.schema"].decode())
    doctored = []
    for status, snap_id, df in (tuple(r) for r in rows):
        df = (2,) + tuple(df)[1:]
        doctored.append((status, snap_id, df))
    avro_lite.write_avro(
        dman, [f["name"] for f in schema["fields"]],
        [f["type"] for f in schema["fields"]], doctored,
        record_name="manifest_entry",
    )
    with pytest.raises(iceberg_lite.IcebergLiteError, match="equality_ids"):
        iceberg_lite.plan_scan(path)


def test_equality_deletes_applied(spark, tmp_path):
    """v2 equality deletes (the Flink-CDC upsert shape): a delete
    snapshot's equality-delete file removes EVERY matching data row in
    earlier-sequence files, matching on the columns its manifest names
    by FIELD ID; time travel to the pre-delete snapshot still sees all
    rows."""
    path = str(tmp_path / "eqapply")
    snap1 = spark.createDataFrame(
        [Row(id=i, grp="a" if i < 4 else "b", v=float(i % 3)) for i in range(8)]
    ).select("id", "grp", "v")
    empty = snap1.where("1=0")
    build_iceberg_table(
        spark, path, [snap1, empty], "grp",
        # field ids: id=1, grp=2, v=3 -> delete every row with v=0.0
        # (ids 0,3,6 across BOTH partition files) and id=4 exactly
        equality_deletes={
            2: [(["v"], [(0.0,)]), (["id"], [(4,)])],
        },
    )
    data, deletes = iceberg_lite.plan_scan(path)
    assert [d.content for d in deletes] == [2, 2]
    assert sorted(d.equality_ids for d in deletes) == [(1,), (3,)]
    latest = sorted(r.id for r in iceberg_lite.read_iceberg(spark, path).collect())
    assert latest == [1, 2, 5, 7]
    assert iceberg_lite.read_iceberg(spark, path, snapshot_id=1).count() == 8


def test_equality_delete_strict_sequence_rule(spark, tmp_path):
    """An equality delete applies only to data files with STRICTLY
    smaller data sequence numbers (spec: Scan Planning) — rows added in
    the SAME snapshot as the delete survive, which is exactly how a CDC
    upsert (delete-then-insert of the same key) stays correct."""
    path = str(tmp_path / "eqseq")
    mk = lambda ids, grp: spark.createDataFrame(
        [Row(id=i, grp=grp, v=float(i)) for i in ids]
    ).select("id", "grp", "v")
    build_iceberg_table(
        spark, path, [mk(range(4), "a"), mk([1, 2], "a")], "grp",
        # snapshot 2 deletes ids 1,2 (seq 2 > seq 1 data) AND re-adds
        # them at seq 2 — the re-added rows must survive
        equality_deletes={2: [(["id"], [(1,), (2,)])]},
    )
    rows = sorted(
        (r.id, r.grp) for r in iceberg_lite.read_iceberg(spark, path).collect()
    )
    assert [i for i, _ in rows] == [0, 1, 2, 3]
    data, _ = iceberg_lite.plan_scan(path)
    assert len(data) == 2  # both generations of grp=a present


def test_equality_delete_null_safe_match(spark, tmp_path):
    """Null equality-delete values match null data values (spec:
    'considered equal'), unlike SQL = semantics."""
    path = str(tmp_path / "eqnull")
    snap1 = spark.createDataFrame(
        [(0, "a", None), (1, "a", 1.0), (2, "a", 2.0), (3, "a", None)],
        "id long, grp string, v double",
    )
    empty = snap1.where("1=0")
    build_iceberg_table(
        spark, path, [snap1, empty], "grp",
        equality_deletes={2: [(["v"], [(None,), (2.0,)])]},
    )
    rows = sorted(r.id for r in iceberg_lite.read_iceberg(spark, path).collect())
    assert rows == [1]


def test_not_a_table_raises(tmp_path):
    with pytest.raises(iceberg_lite.IcebergLiteError, match="metadata"):
        iceberg_lite.plan_files(str(tmp_path / "nope"))


def test_snapshot_as_of_timestamp(table):
    """The builder stamps snapshot N at 1700000000000 + N ms."""
    base = 1700000000000
    assert iceberg_lite.snapshot_as_of_timestamp(table, base + 1) == 1
    assert iceberg_lite.snapshot_as_of_timestamp(table, base + 99) == 2
    assert iceberg_lite.snapshot_as_of_timestamp(table, base - 1) is None


# ------------------------------------------------------------- write path
#
# write_iceberg / merge_iceberg (round 7): pure-Python Iceberg v2
# writer — distributed parquet data files, Avro manifests + manifest
# lists, O_EXCL metadata commits, and MERGE-ON-READ upserts that land
# position-delete files instead of rewriting survivors.  Reference
# parity: the entity primary table is CREATE'd format-version 2 and
# MERGE'd (etl_consume_entity_match.py:385-389,449-455).

from pyspark.sql import functions as F  # noqa: E402


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_write_roundtrip_unpartitioned(spark, tmp_path):
    path = str(tmp_path / "w1")
    df = spark.createDataFrame(
        [Row(id=i, v=float(i) * 1.5) for i in range(20)]
    ).select("id", "v")
    snap = iceberg_lite.write_iceberg(spark, df, path)
    assert snap == 1
    got = iceberg_lite.read_iceberg(spark, path)
    assert _rows(got) == _rows(df)


def test_append_creates_second_snapshot_time_travel(spark, tmp_path):
    path = str(tmp_path / "w2")
    a = spark.createDataFrame([Row(id=i, v="a") for i in range(5)])
    b = spark.createDataFrame([Row(id=i, v="b") for i in range(5, 8)])
    iceberg_lite.write_iceberg(spark, a.select("id", "v"), path)
    iceberg_lite.write_iceberg(spark, b.select("id", "v"), path)
    assert iceberg_lite.snapshot_ids(path) == [1, 2]
    assert iceberg_lite.read_iceberg(spark, path).count() == 8
    old = iceberg_lite.read_iceberg(spark, path, snapshot_id=1)
    assert _rows(old) == _rows(a.select("id", "v"))


def test_write_partitioned_manifest_prunes(spark, tmp_path):
    """Identity partition values land in the manifest (pruned before
    any footer) AND stay inside the data files (Iceberg convention,
    unlike Hive/Delta)."""
    path = str(tmp_path / "w3")
    df = spark.createDataFrame(
        [Row(id=i, grp="x" if i % 2 else "y", v=float(i)) for i in range(10)]
    ).select("id", "grp", "v")
    iceberg_lite.write_iceberg(spark, df, path, partition_by=["grp"])
    all_files = iceberg_lite.plan_files(path)
    pruned = iceberg_lite.plan_files(path, partition_filter={"grp": "x"})
    assert 0 < len(pruned) < len(all_files)
    got = iceberg_lite.read_iceberg(spark, path, partition_filter={"grp": "x"})
    assert sorted(r.id for r in got.collect()) == [1, 3, 5, 7, 9]
    # partition column readable straight from the parquet file itself
    raw = spark.read.parquet(pruned[0].path)
    assert set(raw.columns) == {"id", "grp", "v"}


def test_append_partitioning_mismatch_raises(spark, tmp_path):
    path = str(tmp_path / "w4")
    df = spark.createDataFrame([Row(id=1, grp="x")]).select("id", "grp")
    iceberg_lite.write_iceberg(spark, df, path, partition_by=["grp"])
    with pytest.raises(iceberg_lite.IcebergLiteError, match="partitioning"):
        iceberg_lite.write_iceberg(spark, df, path, partition_by=["id"])


def test_merge_mor_writes_position_deletes_not_rewrites(spark, tmp_path):
    path = str(tmp_path / "m1")
    base = spark.createDataFrame(
        [Row(k=i, s="base", cents=i * 100) for i in range(12)]
    ).select("k", "s", "cents")
    iceberg_lite.write_iceberg(spark, base.repartition(3), path)
    files_before = {f.path for f in iceberg_lite.plan_files(path)}
    src = spark.createDataFrame(
        [Row(k=i, s="upd", cents=i * 200) for i in range(0, 12, 2)]
        + [Row(k=i, s="new", cents=i * 100) for i in range(20, 23)]
    ).select("k", "s", "cents")
    out = iceberg_lite.merge_iceberg(spark, src, path, "k")
    assert out["deleted_rows"] == 6 and out["delete_files"] >= 1
    files_after = {f.path for f in iceberg_lite.plan_files(path)}
    # MOR: every pre-merge data file is still live (no rewrite)
    assert files_before <= files_after
    _, deletes = iceberg_lite.plan_scan(path)
    assert deletes, "expected position-delete files in the new snapshot"
    got = iceberg_lite.read_iceberg(spark, path)
    expect = {
        **{i: ("base", i * 100) for i in range(12) if i % 2},
        **{i: ("upd", i * 200) for i in range(0, 12, 2)},
        **{i: ("new", i * 100) for i in range(20, 23)},
    }
    assert {r.k: (r.s, r.cents) for r in got.collect()} == expect
    # pre-merge snapshot still reads the original rows (time travel)
    old = iceberg_lite.read_iceberg(spark, path, snapshot_id=1)
    assert _rows(old) == _rows(base)


def test_merge_delete_file_rows_sorted_per_spec(spark, tmp_path):
    """Spec: position delete rows sorted by (file_path, pos)."""
    import glob

    path = str(tmp_path / "m2")
    base = spark.createDataFrame(
        [Row(k=i, v=i) for i in range(40)]
    ).select("k", "v")
    iceberg_lite.write_iceberg(spark, base.repartition(4), path)
    src = spark.createDataFrame(
        [Row(k=i, v=-i) for i in range(0, 40, 3)]
    ).select("k", "v")
    iceberg_lite.merge_iceberg(spark, src, path, "k")
    del_files = glob.glob(os.path.join(path, "data", "delete-*.parquet"))
    assert del_files
    import pyarrow.parquet as pq

    for f in del_files:
        tbl = pq.read_table(f)
        rows = list(zip(
            tbl.column("file_path").to_pylist(), tbl.column("pos").to_pylist()
        ))
        assert rows == sorted(rows)
        assert set(tbl.schema.names) == {"file_path", "pos"}


def test_merge_duplicate_source_key_raises(spark, tmp_path):
    path = str(tmp_path / "m3")
    df = spark.createDataFrame([Row(k=1, v=1)]).select("k", "v")
    iceberg_lite.write_iceberg(spark, df, path)
    dup = spark.createDataFrame(
        [Row(k=2, v=1), Row(k=2, v=2)]
    ).select("k", "v")
    with pytest.raises(iceberg_lite.IcebergLiteError, match=r"duplicate key \(2,\)"):
        iceberg_lite.merge_iceberg(spark, dup, path, "k")


def test_consecutive_merges_compose(spark, tmp_path):
    """Second MERGE must see (and be able to re-delete) rows the first
    MERGE appended; stale positions deleted twice stay deleted."""
    path = str(tmp_path / "m4")
    base = spark.createDataFrame(
        [Row(k=i, v="v0") for i in range(6)]
    ).select("k", "v")
    iceberg_lite.write_iceberg(spark, base, path)
    up1 = spark.createDataFrame(
        [Row(k=2, v="v1"), Row(k=9, v="v1")]
    ).select("k", "v")
    up2 = spark.createDataFrame(
        [Row(k=2, v="v2"), Row(k=4, v="v2")]
    ).select("k", "v")
    iceberg_lite.merge_iceberg(spark, up1, path, "k")
    iceberg_lite.merge_iceberg(spark, up2, path, "k")
    got = {r.k: r.v for r in iceberg_lite.read_iceberg(spark, path).collect()}
    assert got == {0: "v0", 1: "v0", 2: "v2", 3: "v0", 4: "v2",
                   5: "v0", 9: "v1"}


def test_concurrent_appends_both_land(spark, tmp_path):
    """Two writers race the O_EXCL metadata commit; the loser retries
    against the fresh log and BOTH rows sets must be present, with the
    winner's manifests untouched (uuid-named side files)."""
    import threading

    path = str(tmp_path / "race")
    seed = spark.createDataFrame([Row(id=-1, tag="seed")]).select("id", "tag")
    iceberg_lite.write_iceberg(spark, seed, path)
    errs = []

    def _writer(tag):
        try:
            df = spark.createDataFrame(
                [Row(id=i, tag=tag) for i in range(3)]
            ).select("id", "tag")
            iceberg_lite.write_iceberg(spark, df, path, max_retries=10)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [threading.Thread(target=_writer, args=(t,))
               for t in ("a", "b")]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    got = iceberg_lite.read_iceberg(spark, path)
    assert got.count() == 7
    assert {r.tag for r in got.select("tag").distinct().collect()} == {
        "seed", "a", "b"}
    assert iceberg_lite.snapshot_ids(path) == [1, 2, 3]


def test_concurrent_merges_retry_and_compose(spark, tmp_path):
    """MERGE-vs-MERGE on the same table: the loser must re-plan against
    the winner's snapshot (Iceberg optimistic concurrency), so both
    upserts land regardless of commit order."""
    import threading

    path = str(tmp_path / "mrace")
    base = spark.createDataFrame(
        [Row(k=i, v="v0") for i in range(8)]
    ).select("k", "v")
    iceberg_lite.write_iceberg(spark, base.repartition(2), path)
    errs = []

    def _merger(keys, val):
        try:
            src = spark.createDataFrame(
                [Row(k=k, v=val) for k in keys]
            ).select("k", "v")
            iceberg_lite.merge_iceberg(spark, src, path, "k", max_retries=10)
        except Exception as exc:  # pragma: no cover
            errs.append(exc)

    threads = [
        threading.Thread(target=_merger, args=([0, 2, 10], "left")),
        threading.Thread(target=_merger, args=([5, 7, 11], "right")),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    got = {r.k: r.v for r in iceberg_lite.read_iceberg(spark, path).collect()}
    assert got == {0: "left", 1: "v0", 2: "left", 3: "v0", 4: "v0",
                   5: "right", 6: "v0", 7: "right", 10: "left", 11: "right"}


# round 8: partition-scoped equality deletes (ADVICE r7 — a scoped
# delete must not erase matching rows in OTHER partitions), the
# equality-delete WRITE path (Flink-style streaming upsert), MOR
# maintenance (rewrite_data_files compaction + expire_snapshots).


def test_partition_scoped_equality_delete_only_hits_its_partition(
    spark, tmp_path
):
    path = str(tmp_path / "eqscope")
    # v=1.0 rows exist in BOTH partitions; the delete on v=1.0 is scoped
    # to grp='a' so grp='b' row with v=1.0 must survive
    snap1 = spark.createDataFrame(
        [Row(id=1, grp="a", v=1.0), Row(id=2, grp="a", v=2.0),
         Row(id=3, grp="b", v=1.0), Row(id=4, grp="b", v=2.0)]
    ).select("id", "grp", "v")
    snap2 = spark.createDataFrame(
        [Row(id=5, grp="a", v=9.0)]
    ).select("id", "grp", "v")
    build_iceberg_table(
        spark, path, [snap1, snap2], "grp",
        equality_deletes={2: [(["v"], [(1.0,)], "a")]},
    )
    _, deletes = iceberg_lite.plan_scan(path)
    eq = [d for d in deletes if d.content == 2]
    assert eq and eq[0].partition_scope == (("grp", "a"),)
    got = _rows(iceberg_lite.read_iceberg(spark, path).select("id"))
    assert got == [(2,), (3,), (4,), (5,)]


def test_global_equality_delete_hits_every_partition(spark, tmp_path):
    path = str(tmp_path / "eqglobal")
    snap1 = spark.createDataFrame(
        [Row(id=1, grp="a", v=1.0), Row(id=3, grp="b", v=1.0),
         Row(id=4, grp="b", v=2.0)]
    ).select("id", "grp", "v")
    snap2 = spark.createDataFrame(
        [Row(id=5, grp="a", v=9.0)]
    ).select("id", "grp", "v")
    build_iceberg_table(
        spark, path, [snap1, snap2], "grp",
        equality_deletes={2: [(["v"], [(1.0,)])]},
    )
    got = _rows(iceberg_lite.read_iceberg(spark, path).select("id"))
    assert got == [(4,), (5,)]


def test_upsert_equality_roundtrip(spark, tmp_path, count_jobs):
    path = str(tmp_path / "equp")
    base = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(10)]
    ).select("id", "v")
    iceberg_lite.write_iceberg(spark, base, path)
    upd = spark.createDataFrame(
        [Row(id=i, v=float(i) * 100) for i in (2, 4, 12)]
    ).select("id", "v")
    stats = iceberg_lite.upsert_iceberg_equality(spark, upd, path, "id")
    assert stats["delete_files"] >= 1
    files, deletes = iceberg_lite.plan_scan(path)
    eq = [d for d in deletes if d.content == 2]
    assert eq and eq[0].equality_ids == (1,)  # id = field 1
    # the delete files are read typed from the table schema: building
    # the read infers no Parquet schema
    reads = []
    assert count_jobs(
        lambda: reads.append(iceberg_lite.read_iceberg(spark, path))
    ) == 0
    got = dict((r["id"], r["v"]) for r in reads[0].collect())
    assert got[2] == 200.0 and got[4] == 400.0 and got[12] == 1200.0
    assert got[3] == 3.0 and len(got) == 11


def test_upsert_equality_composes_with_second_upsert(spark, tmp_path):
    path = str(tmp_path / "equp2")
    base = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(6)]
    ).select("id", "v")
    iceberg_lite.write_iceberg(spark, base, path)
    iceberg_lite.upsert_iceberg_equality(
        spark,
        spark.createDataFrame([Row(id=1, v=10.0)]).select("id", "v"),
        path, "id",
    )
    iceberg_lite.upsert_iceberg_equality(
        spark,
        spark.createDataFrame([Row(id=1, v=20.0), Row(id=9, v=90.0)])
        .select("id", "v"),
        path, "id",
    )
    got = dict(
        (r["id"], r["v"])
        for r in iceberg_lite.read_iceberg(spark, path).collect()
    )
    assert got[1] == 20.0 and got[9] == 90.0 and len(got) == 7


def test_rewrite_data_files_folds_deletes_and_preserves_rows(
    spark, tmp_path
):
    path = str(tmp_path / "compact")
    base = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(30)]
    ).select("id", "v").repartition(4)
    iceberg_lite.write_iceberg(spark, base, path)
    iceberg_lite.merge_iceberg(
        spark,
        spark.createDataFrame(
            [Row(id=i, v=float(i) * 100) for i in range(0, 30, 3)]
        ).select("id", "v"),
        path, "id",
    )
    iceberg_lite.upsert_iceberg_equality(
        spark,
        spark.createDataFrame([Row(id=7, v=777.0)]).select("id", "v"),
        path, "id",
    )
    before = _rows(iceberg_lite.read_iceberg(spark, path))
    files_b, deletes_b = iceberg_lite.plan_scan(path)
    assert deletes_b, "fixture must carry outstanding delete files"
    stats = iceberg_lite.rewrite_data_files(spark, path, target_files=2)
    assert stats["rewritten"] and stats["delete_files_before"] == len(deletes_b)
    files_a, deletes_a = iceberg_lite.plan_scan(path)
    assert deletes_a == [] and len(files_a) <= 2
    assert _rows(iceberg_lite.read_iceberg(spark, path)) == before


def test_rewrite_noop_without_deletes(spark, tmp_path):
    path = str(tmp_path / "noopc")
    iceberg_lite.write_iceberg(
        spark,
        spark.createDataFrame([Row(id=1, v=1.0)]).select("id", "v"),
        path,
    )
    stats = iceberg_lite.rewrite_data_files(spark, path)
    assert stats["rewritten"] is False and stats["snapshot_id"] is None


def test_expire_snapshots_reclaims_and_refuses_time_travel(
    spark, tmp_path
):
    path = str(tmp_path / "expire")
    base = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(20)]
    ).select("id", "v").repartition(3)
    iceberg_lite.write_iceberg(spark, base, path)
    iceberg_lite.merge_iceberg(
        spark,
        spark.createDataFrame(
            [Row(id=i, v=-1.0) for i in range(0, 20, 4)]
        ).select("id", "v"),
        path, "id",
    )
    iceberg_lite.rewrite_data_files(spark, path, target_files=1)
    expected = _rows(iceberg_lite.read_iceberg(spark, path))
    import glob as _glob

    n_parquet_before = len(
        _glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                   recursive=True)
    )
    stats = iceberg_lite.expire_snapshots(path, keep_last=1)
    assert stats["expired"] == [1, 2]
    assert stats["deleted_files"] > 0
    n_parquet_after = len(
        _glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                   recursive=True)
    )
    assert n_parquet_after < n_parquet_before
    # the current snapshot still reads identically
    assert _rows(iceberg_lite.read_iceberg(spark, path)) == expected
    # time travel to an expired snapshot REFUSES rather than returning a
    # partially-reclaimed view
    with pytest.raises(iceberg_lite.IcebergLiteError, match="snapshot"):
        iceberg_lite.read_iceberg(spark, path, snapshot_id=1)


def test_expire_keeps_snapshots_newer_than_cutoff(spark, tmp_path):
    path = str(tmp_path / "expcut")
    df = spark.createDataFrame([Row(id=1, v=1.0)]).select("id", "v")
    iceberg_lite.write_iceberg(spark, df, path)
    iceberg_lite.write_iceberg(
        spark,
        spark.createDataFrame([Row(id=2, v=2.0)]).select("id", "v"),
        path,
    )
    # cutoff in the distant past: nothing qualifies as old, so nothing
    # expires even with keep_last=1
    stats = iceberg_lite.expire_snapshots(path, keep_last=1, older_than_ms=0)
    assert stats["expired"] == [] and stats["deleted_files"] == 0
    assert len(iceberg_lite.snapshot_ids(path)) == 2


def test_upsert_equality_partition_scoped_when_keys_cover_partition(
    spark, tmp_path
):
    """Partitioned Flink-CDC shape: when the partition columns are part
    of the upsert key, the writer emits PARTITION-SCOPED equality
    deletes — and a matching key value in ANOTHER partition survives."""
    path = str(tmp_path / "equp_scoped")
    base = spark.createDataFrame(
        [Row(grp=g, id=i, v=float(i))
         for g in ("a", "b") for i in range(4)]
    ).select("grp", "id", "v")
    iceberg_lite.write_iceberg(spark, base, path, partition_by=["grp"])
    upd = spark.createDataFrame(
        [Row(grp="a", id=1, v=100.0)]
    ).select("grp", "id", "v")
    iceberg_lite.upsert_iceberg_equality(spark, upd, path, ["grp", "id"])
    _, deletes = iceberg_lite.plan_scan(path)
    eq = [d for d in deletes if d.content == 2]
    assert eq and all(d.partition_scope == (("grp", "a"),) for d in eq)
    got = {(r["grp"], r["id"]): r["v"]
           for r in iceberg_lite.read_iceberg(spark, path).collect()}
    assert got[("a", 1)] == 100.0
    assert got[("b", 1)] == 1.0  # same id, other partition: untouched
    assert len(got) == 8


def test_upsert_equality_global_when_keys_miss_partition(spark, tmp_path):
    path = str(tmp_path / "equp_glob")
    base = spark.createDataFrame(
        [Row(grp=g, id=i, v=float(i)) for g in ("a", "b") for i in range(3)]
    ).select("grp", "id", "v")
    iceberg_lite.write_iceberg(spark, base, path, partition_by=["grp"])
    upd = spark.createDataFrame([Row(grp="a", id=2, v=99.0)]).select(
        "grp", "id", "v"
    )
    # key = id only: the delete can match any partition -> global scope;
    # id=2 vanishes from BOTH partitions, replaced by the single source row
    iceberg_lite.upsert_iceberg_equality(spark, upd, path, "id")
    _, deletes = iceberg_lite.plan_scan(path)
    eq = [d for d in deletes if d.content == 2]
    assert eq and all(d.partition_scope == () for d in eq)
    got = sorted(
        (r["grp"], r["id"], r["v"])
        for r in iceberg_lite.read_iceberg(spark, path).collect()
    )
    assert got == [("a", 0, 0.0), ("a", 1, 1.0), ("a", 2, 99.0),
                   ("b", 0, 0.0), ("b", 1, 1.0)]


def test_manifest_bounds_prune_files_and_filter_rows(spark, tmp_path):
    """round 8: the writer lands lower/upper bounds (spec Appendix D
    single-value bytes, keyed by field id) in the manifest; a
    bounds_filter prunes data files at PLAN time and the read applies
    the residual range."""
    path = str(tmp_path / "bounds")
    df = (
        spark.createDataFrame(
            [Row(id=i, v=float(i)) for i in range(100)]
        )
        .select("id", "v")
        .repartitionByRange(5, "id")
        .sortWithinPartitions("id")
    )
    iceberg_lite.write_iceberg(spark, df, path)
    all_files = iceberg_lite.plan_files(path)
    assert len(all_files) == 5
    assert all(f.lower_bounds and f.upper_bounds for f in all_files)
    planned = iceberg_lite.plan_files(path, bounds_filter={"id": (37, 44)})
    assert 1 <= len(planned) < len(all_files)
    got = _rows(
        iceberg_lite.read_iceberg(
            spark, path, bounds_filter={"id": (37, 44)}
        ).select("id")
    )
    assert got == [(i,) for i in range(37, 45)]


def test_bounds_open_ended_and_unbounded_columns(spark, tmp_path):
    path = str(tmp_path / "bounds2")
    df = (
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(40)])
        .select("id", "v")
        .repartitionByRange(4, "id")
        .sortWithinPartitions("id")
    )
    iceberg_lite.write_iceberg(spark, df, path)
    # open lower end
    planned = iceberg_lite.plan_files(path, bounds_filter={"id": (None, 5)})
    assert len(planned) < 4
    got = iceberg_lite.read_iceberg(
        spark, path, bounds_filter={"id": (None, 5)}
    )
    assert got.count() == 6
    # a column with no usable bounds never prunes
    planned = iceberg_lite.plan_files(
        path, bounds_filter={"nope": (0, 1)}
    )
    assert len(planned) == 4


def test_bounds_survive_merge_and_compaction(spark, tmp_path):
    path = str(tmp_path / "bounds3")
    df = (
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(60)])
        .select("id", "v")
        .repartitionByRange(3, "id")
        .sortWithinPartitions("id")
    )
    iceberg_lite.write_iceberg(spark, df, path)
    iceberg_lite.merge_iceberg(
        spark,
        spark.createDataFrame([Row(id=10, v=1000.0)]).select("id", "v"),
        path, "id",
    )
    iceberg_lite.rewrite_data_files(spark, path, target_files=3)
    files = iceberg_lite.plan_files(path)
    assert all(f.lower_bounds for f in files)
    got = iceberg_lite.read_iceberg(
        spark, path, bounds_filter={"id": (10, 10)}
    ).collect()
    assert len(got) == 1 and got[0]["v"] == 1000.0


def test_merge_skips_files_outside_source_key_bounds(spark, tmp_path):
    """round 8: merge's touched-file search prunes on the manifests'
    key bounds — a narrow upsert against a range-clustered table scans
    a handful of files, never the table (the Iceberg twin of
    delta_lite's footer-stats skipping)."""
    path = str(tmp_path / "mskip")
    df = (
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(80)])
        .select("id", "v")
        .repartitionByRange(8, "id")
        .sortWithinPartitions("id")
    )
    iceberg_lite.write_iceberg(spark, df, path)
    src = spark.createDataFrame(
        [Row(id=41, v=-1.0), Row(id=43, v=-3.0)]
    ).select("id", "v")
    stats = iceberg_lite.merge_iceberg(spark, src, path, "id")
    assert stats["files_total"] == 8
    assert stats["files_scanned"] < 8
    assert stats["deleted_rows"] == 2
    got = {r["id"]: r["v"] for r in iceberg_lite.read_iceberg(spark, path).collect()}
    assert got[41] == -1.0 and got[43] == -3.0 and got[40] == 40.0
    assert len(got) == 80


def test_expire_metadata_retention(spark, tmp_path):
    path = str(tmp_path / "expmeta")
    for i in range(4):
        iceberg_lite.write_iceberg(
            spark,
            spark.createDataFrame([Row(id=i, v=float(i))]).select("id", "v"),
            path,
        )
    before = _rows(iceberg_lite.read_iceberg(spark, path))
    stats = iceberg_lite.expire_snapshots(
        path, keep_last=1, keep_metadata_versions=2
    )
    assert stats["deleted_metadata_files"] > 0
    import glob as _glob

    remaining = _glob.glob(os.path.join(path, "metadata", "v*.metadata.json"))
    assert len(remaining) == 2
    assert _rows(iceberg_lite.read_iceberg(spark, path)) == before


def test_rewrite_zorder_enables_multidim_bounds_pruning(spark, tmp_path):
    """round 8: a z-ordered rewrite clusters BOTH dimensions, so the
    manifests' bounds prune a 2-D range on either column — the plain
    row-order layout prunes only the leading one."""
    import random

    path = str(tmp_path / "zb")
    rnd = random.Random(7)
    rows = [Row(x=rnd.randrange(256), y=rnd.randrange(256), v=float(i))
            for i in range(4000)]
    df = spark.createDataFrame(rows).select("x", "y", "v")
    iceberg_lite.write_iceberg(spark, df.repartition(8), path)
    before = _rows(iceberg_lite.read_iceberg(spark, path))
    # random layout: a narrow y-range overlaps essentially every file
    unpruned = iceberg_lite.plan_files(path, bounds_filter={"y": (0, 15)})
    stats = iceberg_lite.rewrite_data_files(
        spark, path, target_files=8, zorder_by=["x", "y"]
    )
    assert stats["rewritten"] and stats["files_after"] <= 8
    assert _rows(iceberg_lite.read_iceberg(spark, path)) == before
    for col in ("x", "y"):
        pruned = iceberg_lite.plan_files(
            path, bounds_filter={col: (0, 15)}
        )
        assert len(pruned) < stats["files_after"], col
    assert len(
        iceberg_lite.plan_files(path, bounds_filter={"y": (0, 15)})
    ) <= len(unpruned)
    got = iceberg_lite.read_iceberg(
        spark, path, bounds_filter={"x": (0, 15), "y": (0, 15)}
    ).collect()
    want = [r for r in rows if r.x <= 15 and r.y <= 15]
    assert len(got) == len(want)


# ------------------------------------------------------- round 9: refs
# (branches/tags, spec §Snapshot References — VERDICT r8 item 7)


def test_refs_tag_read_and_main_follows_head(spark, tmp_path):
    path = str(tmp_path / "refs")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    iceberg_lite.write_iceberg(spark, df1, path)
    iceberg_lite.create_ref(path, "v1-audit", ref_type="tag")
    df2 = spark.createDataFrame([(3, "c")], "id int, s string")
    iceberg_lite.write_iceberg(spark, df2, path)
    refs = iceberg_lite.list_refs(path)
    assert refs["v1-audit"] == {"snapshot-id": 1, "type": "tag"}
    # snapshot ids track metadata versions; the ref commit consumed v2,
    # so the append landed as snapshot 3 — main follows the head
    assert refs["main"]["snapshot-id"] == 3
    # VERSION AS OF 'tag' resolves through refs
    tagged = iceberg_lite.read_iceberg(spark, path, snapshot_id="v1-audit")
    assert {r.id for r in tagged.collect()} == {1, 2}
    main = iceberg_lite.read_iceberg(spark, path, snapshot_id="main")
    assert {r.id for r in main.collect()} == {1, 2, 3}
    with pytest.raises(iceberg_lite.IcebergLiteError, match="unknown snapshot ref"):
        iceberg_lite.read_iceberg(spark, path, snapshot_id="nope")


def test_expire_never_drops_a_reffed_snapshot(spark, tmp_path):
    path = str(tmp_path / "refs_expire")
    for i in range(3):
        iceberg_lite.write_iceberg(
            spark,
            spark.createDataFrame([(i, float(i))], "id int, v double"),
            path,
        )
        if i == 0:
            iceberg_lite.create_ref(path, "keepme", ref_type="tag")
    res = iceberg_lite.expire_snapshots(path, keep_last=1)
    # snapshots are 1, 3, 4 (the tag commit consumed version 2):
    # 1 is tagged -> retained; 3 is neither tagged nor newest -> expires
    assert 1 in res["retained"] and res["expired"] == [3]
    tagged = iceberg_lite.read_iceberg(spark, path, snapshot_id="keepme")
    assert [r.id for r in tagged.collect()] == [0]
    # drop the tag -> the snapshot becomes expirable
    iceberg_lite.drop_ref(path, "keepme")
    res2 = iceberg_lite.expire_snapshots(path, keep_last=1)
    assert 1 in res2["expired"]
    with pytest.raises(iceberg_lite.IcebergLiteError):
        iceberg_lite.read_iceberg(spark, path, snapshot_id="keepme")


def test_drop_main_refuses_and_create_ref_validates(spark, tmp_path):
    path = str(tmp_path / "refs_guard")
    iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(1,)], "id int"), path
    )
    with pytest.raises(iceberg_lite.IcebergLiteError, match="main"):
        iceberg_lite.drop_ref(path, "main")
    with pytest.raises(iceberg_lite.IcebergLiteError, match="unknown snapshot"):
        iceberg_lite.create_ref(path, "t", snapshot_id=99)
    with pytest.raises(iceberg_lite.IcebergLiteError, match="tag|branch"):
        iceberg_lite.create_ref(path, "t", ref_type="hat")


# ------------------------------------------- round 9: incremental read


def test_incremental_read_returns_only_appended_rows(spark, tmp_path):
    path = str(tmp_path / "incr")
    for lo, hi in ((0, 5), (5, 8), (8, 12)):
        iceberg_lite.write_iceberg(
            spark,
            spark.range(lo, hi).selectExpr("id", "id * 2 as v"),
            path,
        )
    got = iceberg_lite.read_iceberg_incremental(spark, path, 1)
    assert sorted(r.id for r in got.collect()) == list(range(5, 12))
    got2 = iceberg_lite.read_iceberg_incremental(spark, path, 1, 2)
    assert sorted(r.id for r in got2.collect()) == list(range(5, 8))
    with pytest.raises(iceberg_lite.IcebergLiteError, match="backwards"):
        iceberg_lite.read_iceberg_incremental(spark, path, 3, 1)


def test_incremental_read_accepts_ref_names_and_refuses_merges(
    spark, tmp_path
):
    from pyspark.sql import functions as F

    path = str(tmp_path / "incr_refs")
    iceberg_lite.write_iceberg(
        spark, spark.range(5).selectExpr("id", "id * 2 as v"), path
    )
    iceberg_lite.create_ref(path, "start", ref_type="tag")
    iceberg_lite.write_iceberg(
        spark, spark.range(5, 9).selectExpr("id", "id * 2 as v"), path
    )
    got = iceberg_lite.read_iceberg_incremental(spark, path, "start", "main")
    assert sorted(r.id for r in got.collect()) == [5, 6, 7, 8]
    # a MERGE in range is not a pure append: refuse by snapshot id
    iceberg_lite.merge_iceberg(
        spark,
        spark.range(2).selectExpr("id", "id * 100 as v"),
        path,
        keys=["id"],
    )
    with pytest.raises(iceberg_lite.IcebergLiteError, match="not pure appends"):
        iceberg_lite.read_iceberg_incremental(spark, path, "start")


# ------------------------------------------ round 9: metadata tables


def test_metadata_tables_expose_internals(spark, tmp_path):
    path = str(tmp_path / "meta_tables")
    df = spark.createDataFrame(
        [(i, "a" if i < 6 else "b", float(i)) for i in range(10)],
        "id int, grp string, v double",
    )
    iceberg_lite.write_iceberg(spark, df, path, partition_by=["grp"])
    iceberg_lite.write_iceberg(
        spark,
        spark.createDataFrame([(20, "c", 2.0)], "id int, grp string, v double"),
        path,
    )
    snaps = iceberg_lite.inspect_snapshots(spark, path).collect()
    assert [r.snapshot_id for r in snaps] == [1, 2]
    assert all(r.operation == "append" for r in snaps)
    hist = iceberg_lite.inspect_history(spark, path).collect()
    assert [(r.snapshot_id, r.is_current_ancestor) for r in hist] == [
        (1, True), (2, True),
    ]
    parts = {
        tuple(sorted(r.partition.items())): (r.record_count, r.file_count)
        for r in iceberg_lite.inspect_partitions(spark, path).collect()
    }
    assert parts[(("grp", "a"),)][0] == 6
    assert parts[(("grp", "b"),)][0] == 4
    assert parts[(("grp", "c"),)] == (1, 1)
    files = iceberg_lite.inspect_files(spark, path).collect()
    assert sum(r.record_count for r in files) == 11
    assert all(r.file_path.startswith(path) for r in files)
    # time travel: pre-append state
    files_v1 = iceberg_lite.inspect_files(spark, path, snapshot_id=1).collect()
    assert sum(r.record_count for r in files_v1) == 10


# ------------------------------------------ round 9: schema evolution


def test_append_with_new_column_evolves_schema(spark, tmp_path):
    path = str(tmp_path / "schema_evo")
    iceberg_lite.write_iceberg(
        spark, spark.range(3).selectExpr("id", "id * 2 as v"), path
    )
    iceberg_lite.write_iceberg(
        spark,
        spark.range(3, 6).selectExpr("id", "id * 2 as v", "'x' as tag"),
        path,
    )
    meta = iceberg_lite._load_metadata(path)
    assert [s["schema-id"] for s in meta["schemas"]] == [0, 1]
    assert meta["current-schema-id"] == 1
    cur = meta["schemas"][1]["fields"]
    assert [(f["id"], f["name"]) for f in cur] == [
        (1, "id"), (2, "v"), (3, "tag"),
    ]
    out = iceberg_lite.read_iceberg(spark, path)
    assert out.columns == ["id", "v", "tag"]
    rows = {r.id: r.tag for r in out.collect()}
    assert rows[0] is None and rows[4] == "x"  # old files read null


def test_append_subset_of_columns_reads_null(spark, tmp_path):
    path = str(tmp_path / "schema_subset")
    iceberg_lite.write_iceberg(
        spark, spark.range(2).selectExpr("id", "id * 2 as v"), path
    )
    iceberg_lite.write_iceberg(
        spark, spark.range(2, 4).selectExpr("id"), path
    )
    out = iceberg_lite.read_iceberg(spark, path)
    vals = {r.id: r.v for r in out.collect()}
    assert vals == {0: 0, 1: 2, 2: None, 3: None}


def test_append_widening_promotes_and_retype_raises(spark, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "schema_widen")
    iceberg_lite.write_iceberg(
        spark,
        spark.range(2).select(F.col("id").cast("int").alias("k")),
        path,
    )
    iceberg_lite.write_iceberg(
        spark,
        spark.range(2, 4).select(F.col("id").cast("long").alias("k")),
        path,
    )
    meta = iceberg_lite._load_metadata(path)
    cur = [s for s in meta["schemas"]
           if s["schema-id"] == meta["current-schema-id"]][0]
    assert cur["fields"][0]["type"] == "long"  # promoted, id preserved
    assert cur["fields"][0]["id"] == 1
    out = iceberg_lite.read_iceberg(spark, path)
    assert out.schema["k"].dataType.simpleString() == "bigint"
    assert sorted(r.k for r in out.collect()) == [0, 1, 2, 3]
    with pytest.raises(iceberg_lite.IcebergLiteError, match="retypes"):
        iceberg_lite.write_iceberg(
            spark,
            spark.range(2).selectExpr("CAST(id AS string) AS k"),
            path,
        )


# --------------------------- round 9: rollback + orphan maintenance


def test_rollback_to_snapshot_restores_and_reverses(spark, tmp_path):
    path = str(tmp_path / "rollback")
    iceberg_lite.write_iceberg(
        spark, spark.range(3).selectExpr("id", "id * 2 as v"), path
    )
    iceberg_lite.write_iceberg(
        spark, spark.range(100, 103).selectExpr("id", "id * 2 as v"), path
    )
    res = iceberg_lite.rollback_to_snapshot(path, 1)
    assert res["previous_snapshot_id"] == 2
    out = iceberg_lite.read_iceberg(spark, path)
    assert sorted(r.id for r in out.collect()) == [0, 1, 2]
    assert iceberg_lite.list_refs(path)["main"]["snapshot-id"] == 1
    # reversible: the bad snapshot is still there
    iceberg_lite.rollback_to_snapshot(path, 2)
    assert iceberg_lite.read_iceberg(spark, path).count() == 6
    with pytest.raises(iceberg_lite.IcebergLiteError, match="unknown"):
        iceberg_lite.rollback_to_snapshot(path, 99)


def test_remove_orphan_files_deletes_only_unreferenced(spark, tmp_path):
    import glob
    import os as _os

    path = str(tmp_path / "orphans")
    iceberg_lite.write_iceberg(
        spark, spark.range(6).selectExpr("id", "id * 2 as v"), path
    )
    # plant orphans: a stray data file and a stray manifest
    stray_data = _os.path.join(path, "data", "stray.parquet")
    with open(stray_data, "wb") as fh:
        fh.write(b"not really parquet")
    stray_man = _os.path.join(path, "metadata", "manifest-stray.avro")
    with open(stray_man, "wb") as fh:
        fh.write(b"junk")
    dry = iceberg_lite.remove_orphan_files(path, dry_run=True)
    assert set(dry["orphans"]) == {stray_data, stray_man}
    assert _os.path.exists(stray_data)  # dry run touched nothing
    res = iceberg_lite.remove_orphan_files(path)
    assert res["deleted"] == 2
    assert not _os.path.exists(stray_data)
    assert not _os.path.exists(stray_man)
    # table still reads; all real files intact
    assert iceberg_lite.read_iceberg(spark, path).count() == 6
    assert iceberg_lite.remove_orphan_files(path)["deleted"] == 0
    # metadata jsons are never considered orphans
    assert glob.glob(_os.path.join(path, "metadata", "*.metadata.json"))


# --------------------------------------------------------------- WAP:
# branch writes + fast_forward publish (spec §Snapshot References; the
# write-audit-publish workflow Iceberg ships as write.wap.enabled +
# the fast_forward procedure)


def test_branch_write_invisible_until_fast_forward(spark, tmp_path):
    path = str(tmp_path / "wap")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string")
    iceberg_lite.write_iceberg(spark, base, path)
    staged = spark.createDataFrame([(3, "c"), (4, "d"), (5, "e")],
                                   "id int, s string")
    snap = iceberg_lite.write_iceberg(spark, staged, path, branch="audit")
    # WRITE: main is untouched; the branch sees base + staged
    assert {r.id for r in iceberg_lite.read_iceberg(spark, path).collect()} \
        == {1, 2}
    branch_rows = iceberg_lite.read_iceberg(spark, path, snapshot_id="audit")
    assert {r.id for r in branch_rows.collect()} == {1, 2, 3, 4, 5}
    refs = iceberg_lite.list_refs(path)
    assert refs["audit"]["snapshot-id"] == snap
    assert refs["main"]["snapshot-id"] == 1
    # the commit records its parent (the main head the branch forked at)
    meta = iceberg_lite._load_metadata(path)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    assert by_id[snap]["parent-snapshot-id"] == 1
    # PUBLISH: fast_forward moves main to the audited head, O(1)
    res = iceberg_lite.fast_forward(path, "audit")
    assert res["updated"] and res["snapshot_id"] == snap
    assert {r.id for r in iceberg_lite.read_iceberg(spark, path).collect()} \
        == {1, 2, 3, 4, 5}
    assert iceberg_lite.list_refs(path)["main"]["snapshot-id"] == snap
    # re-publish is a no-op, not an error
    assert iceberg_lite.fast_forward(path, "audit")["updated"] is False


def test_branch_commits_stack_on_the_branch_head(spark, tmp_path):
    path = str(tmp_path / "wap_stack")
    iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(1,)], "id int"), path
    )
    s1 = iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(2,)], "id int"), path, branch="stage"
    )
    s2 = iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(3,)], "id int"), path, branch="stage"
    )
    # second branch commit parents on the FIRST branch commit, not main
    meta = iceberg_lite._load_metadata(path)
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    assert by_id[s2]["parent-snapshot-id"] == s1
    assert {r.id for r in
            iceberg_lite.read_iceberg(spark, path, snapshot_id="stage")
            .collect()} == {1, 2, 3}
    assert iceberg_lite.read_iceberg(spark, path).count() == 1
    iceberg_lite.fast_forward(path, "stage")
    assert iceberg_lite.read_iceberg(spark, path).count() == 3


def test_fast_forward_refuses_diverged_branches(spark, tmp_path):
    path = str(tmp_path / "wap_diverge")
    iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(1,)], "id int"), path
    )
    iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(2,)], "id int"), path, branch="stage"
    )
    # main moves on independently -> histories diverge
    iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(9,)], "id int"), path
    )
    with pytest.raises(iceberg_lite.IcebergLiteError, match="not an ancestor"):
        iceberg_lite.fast_forward(path, "stage")
    # the branch itself is still intact and readable
    assert {r.id for r in
            iceberg_lite.read_iceberg(spark, path, snapshot_id="stage")
            .collect()} == {1, 2}


def test_branch_write_on_missing_table_refuses(spark, tmp_path):
    with pytest.raises(iceberg_lite.IcebergLiteError, match="create it on main"):
        iceberg_lite.write_iceberg(
            spark, spark.createDataFrame([(1,)], "id int"),
            str(tmp_path / "nope"), branch="stage",
        )


def test_fast_forward_unknown_branch_refuses(spark, tmp_path):
    path = str(tmp_path / "wap_unknown")
    iceberg_lite.write_iceberg(
        spark, spark.createDataFrame([(1,)], "id int"), path
    )
    with pytest.raises(iceberg_lite.IcebergLiteError, match="no such branch"):
        iceberg_lite.fast_forward(path, "ghost")


# ------------------------------------------------- rewrite_manifests


def test_rewrite_manifests_merges_and_preserves_mor_reads(spark, tmp_path):
    """Four appends + a MOR MERGE accumulate one manifest per commit;
    rewrite_manifests folds them into one data + one delete manifest
    with EXPLICIT per-entry sequence numbers, and the read (incl.
    delete visibility) is unchanged."""
    path = str(tmp_path / "rm")
    for lo in (0, 10, 20, 30):
        iceberg_lite.write_iceberg(
            spark,
            spark.range(lo, lo + 10).selectExpr("id", "id * 2 as v"),
            path,
        )
    # MOR merge: update some rows -> position delete files
    src = spark.range(5, 25).selectExpr("id", "id * 100 as v")
    iceberg_lite.merge_iceberg(spark, src, path, keys=["id"])
    before_rows = {(r.id, r.v) for r in
                   iceberg_lite.read_iceberg(spark, path).collect()}
    res = iceberg_lite.rewrite_manifests(path)
    assert res["rewritten"] and res["manifests_before"] > res["manifests_after"]
    assert res["manifests_after"] <= 2  # one data + one delete manifest
    after_rows = {(r.id, r.v) for r in
                  iceberg_lite.read_iceberg(spark, path).collect()}
    assert after_rows == before_rows
    assert (5, 500) in after_rows and (5, 10) not in after_rows
    # idempotent: already one manifest per (content, spec)
    res2 = iceberg_lite.rewrite_manifests(path)
    assert res2["rewritten"] is False
    # time travel to the pre-rewrite snapshot still works
    prior = iceberg_lite.read_iceberg(
        spark, path, snapshot_id=res["snapshot_id"] - 1
    )
    assert {(r.id, r.v) for r in prior.collect()} == before_rows


def test_rewrite_manifests_then_expire_reclaims_old_manifests(
    spark, tmp_path
):
    import glob as _glob

    path = str(tmp_path / "rm2")
    for lo in (0, 10, 20):
        iceberg_lite.write_iceberg(
            spark, spark.range(lo, lo + 10).selectExpr("id"), path
        )
    n_manifests = len(
        _glob.glob(os.path.join(path, "metadata", "manifest-*.avro"))
    )
    iceberg_lite.rewrite_manifests(path)
    iceberg_lite.expire_snapshots(path, keep_last=1)
    left = _glob.glob(os.path.join(path, "metadata", "manifest-*.avro"))
    assert len(left) < n_manifests
    assert iceberg_lite.read_iceberg(spark, path).count() == 30


def test_inspect_manifests_and_refs(spark, tmp_path):
    path = str(tmp_path / "meta_tbls")
    for lo in (0, 10):
        iceberg_lite.write_iceberg(
            spark,
            spark.range(lo, lo + 10).selectExpr("id").coalesce(1),
            path,
        )
    iceberg_lite.create_ref(path, "v1", ref_type="tag", snapshot_id=1)
    mans = iceberg_lite.inspect_manifests(spark, path).collect()
    assert len(mans) == 2  # one manifest per append commit
    assert sum(m.entry_count for m in mans) == 2  # one file each
    assert {m.content for m in mans} == {0}
    # after rewrite_manifests: ONE manifest with both entries
    iceberg_lite.rewrite_manifests(path)
    mans2 = iceberg_lite.inspect_manifests(spark, path).collect()
    assert len(mans2) == 1 and mans2[0].entry_count == 2
    refs = {r.name: (r.type, r.snapshot_id)
            for r in iceberg_lite.inspect_refs(spark, path).collect()}
    assert refs["v1"] == ("tag", 1)
    assert refs["main"][0] == "branch"
    # the $manifests view of an OLD snapshot still resolves
    old = iceberg_lite.inspect_manifests(spark, path, snapshot_id=1)
    assert old.count() == 1


# ------------------------------------------------------ delete_iceberg


def test_delete_iceberg_partition_fast_path(spark, tmp_path):
    import glob as _glob

    path = str(tmp_path / "del_fast")
    df = spark.createDataFrame(
        [Row(id=i, grp="a" if i % 2 == 0 else "b", v=float(i))
         for i in range(12)]
    ).select("id", "grp", "v")
    iceberg_lite.write_iceberg(spark, df, path, partition_by=["grp"])
    iceberg_lite.write_iceberg(
        spark,
        spark.createDataFrame([Row(id=100, grp="a", v=1.0)])
        .select("id", "grp", "v"),
        path,
    )
    n_parquet = len(_glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                               recursive=True))
    res = iceberg_lite.delete_iceberg(spark, path, "grp = 'a'")
    assert res["metadata_only"] is True
    assert res["rows_deleted"] == 7 and res["files_removed"] >= 2
    got = sorted(r.id for r in iceberg_lite.read_iceberg(spark, path).collect())
    assert got == list(range(1, 12, 2))
    # pure metadata: no file written, none deleted (until expire)
    assert len(_glob.glob(os.path.join(path, "data", "**", "*.parquet"),
                          recursive=True)) == n_parquet
    # pre-delete snapshot still time-travels
    prior = iceberg_lite.read_iceberg(
        spark, path, snapshot_id=res["snapshot_id"] - 1
    )
    assert prior.count() == 13
    # no-match predicate: no commit
    res2 = iceberg_lite.delete_iceberg(spark, path, "grp = 'zzz'")
    assert res2["rows_deleted"] == 0 and res2["snapshot_id"] is None


def test_delete_iceberg_row_path_position_deletes(spark, tmp_path):
    path = str(tmp_path / "del_rows")
    iceberg_lite.write_iceberg(
        spark,
        spark.range(20).selectExpr("id", "id * 2 as v").coalesce(2),
        path,
    )
    res = iceberg_lite.delete_iceberg(spark, path, "id % 3 = 0 AND v < 30")
    assert res["metadata_only"] is False and res["delete_files"] >= 1
    assert res["rows_deleted"] == 5  # ids 0,3,6,9,12
    got = sorted(r.id for r in iceberg_lite.read_iceberg(spark, path).collect())
    assert got == [i for i in range(20) if not (i % 3 == 0 and i * 2 < 30)]
    # compaction folds the delete files away; read unchanged
    iceberg_lite.rewrite_data_files(spark, path)
    got2 = sorted(r.id for r in iceberg_lite.read_iceberg(spark, path).collect())
    assert got2 == got
    _, dels = iceberg_lite.plan_scan(path)
    assert dels == []


# --------------------------------------------------- nested types (r10)


def test_nested_types_roundtrip_and_evolution(spark, tmp_path):
    """round 10: struct/list/map columns get spec-shaped nested schema
    metadata (unique field ids at every level) instead of the former
    'string' mis-declaration that crashed reads; appends preserve the
    ids, and nested shape CHANGES refuse as illegal evolution."""
    path = str(tmp_path / "nested")
    df = spark.createDataFrame(
        [
            Row(id=1, info=Row(city="x", zip=7), tags=["a", "b"]),
            Row(id=2, info=None, tags=[]),
        ]
    ).select("id", "info", "tags")
    iceberg_lite.write_iceberg(spark, df, path)
    meta = iceberg_lite._load_metadata(path)
    cur = iceberg_lite._current_schema_of(meta)
    info = next(f for f in cur["fields"] if f["name"] == "info")
    assert info["type"]["type"] == "struct"
    nested_ids = [f["id"] for f in info["type"]["fields"]]
    top_ids = [f["id"] for f in cur["fields"]]
    all_ids = top_ids + nested_ids + [
        next(f for f in cur["fields"] if f["name"] == "tags")["type"][
            "element-id"
        ]
    ]
    assert len(set(all_ids)) == len(all_ids)
    assert iceberg_lite._last_column_id(meta) == max(all_ids)
    out = iceberg_lite.read_iceberg(spark, path)
    got = {r["id"]: (r["info"], list(r["tags"])) for r in out.collect()}
    assert got[1] == (Row(city="x", zip=7), ["a", "b"])
    assert got[2] == (None, [])
    # same-shape append keeps the schema (no new schema version)
    iceberg_lite.write_iceberg(
        spark, df.withColumn("id", df.id + 10), path
    )
    meta2 = iceberg_lite._load_metadata(path)
    assert iceberg_lite._current_schema_of(meta2)["fields"] == cur["fields"]
    # nested field OMISSION is legal evolution (round 10): the omitted
    # field stays in the schema and reads null for the new rows
    narrower = spark.createDataFrame(
        [Row(id=99, info=Row(city="y"), tags=["z"])]
    ).select("id", "info", "tags")
    iceberg_lite.write_iceberg(spark, narrower, path)
    r99 = (
        iceberg_lite.read_iceberg(spark, path)
        .where("id = 99")
        .collect()[0]
    )
    assert r99["info"]["city"] == "y" and r99["info"]["zip"] is None
    # a KIND change (struct -> primitive) still refuses
    bad = spark.createDataFrame(
        [Row(id=100, info="flat", tags=["z"])]
    ).select("id", "info", "tags")
    with pytest.raises(iceberg_lite.IcebergLiteError, match="kind"):
        iceberg_lite.write_iceberg(spark, bad, path)


def test_nested_types_compose_with_dml_and_top_level_ddl(spark, tmp_path):
    path = str(tmp_path / "nested_dml")
    df = spark.createDataFrame(
        [Row(id=i, info=Row(score=float(i))) for i in range(6)]
    ).select("id", "info")
    iceberg_lite.write_iceberg(spark, df, path)
    iceberg_lite.delete_iceberg(spark, path, "info.score >= 4.0")
    assert sorted(
        r["id"] for r in iceberg_lite.read_iceberg(spark, path).collect()
    ) == [0, 1, 2, 3]
    # top-level rename of a struct COLUMN (not its fields) works
    iceberg_lite.alter_iceberg_schema(path, renames={"info": "details"})
    out = iceberg_lite.read_iceberg(spark, path)
    assert out.columns == ["id", "details"]
    assert {r["details"]["score"] for r in out.collect()} == {
        0.0, 1.0, 2.0, 3.0
    }


def test_inspect_entries_shows_churn(spark, tmp_path):
    path = str(tmp_path / "entries")
    df = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(6)]
    ).select("id", "v")
    iceberg_lite.write_iceberg(spark, df, path)
    iceberg_lite.write_iceberg(
        spark, df.withColumn("id", df.id + 10), path
    )
    iceberg_lite.delete_iceberg(spark, path, "id = 1")
    ent = iceberg_lite.inspect_entries(spark, path)
    rows = ent.collect()
    assert all(r["record_count"] > 0 for r in rows)
    data = [r for r in rows if r["content"] == 0]
    deletes = [r for r in rows if r["content"] == 1]
    assert len(deletes) == 1 and deletes[0]["status"] == 1
    assert {r["snapshot_id"] for r in data} == {1, 2}
    # time travel: snapshot 1 shows only the first commit's entries
    ent1 = iceberg_lite.inspect_entries(spark, path, snapshot_id=1)
    assert {r["snapshot_id"] for r in ent1.collect()} == {1}


# -------------------------------------------------------- changelog scan


def test_changelog_inserts_deletes_and_compaction(spark, tmp_path):
    path = str(tmp_path / "changelog")
    df1 = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(6)]
    ).select("id", "v").orderBy("id").coalesce(1)
    iceberg_lite.write_iceberg(spark, df1, path)            # snap 1
    iceberg_lite.write_iceberg(
        spark,
        spark.createDataFrame([Row(id=10, v=10.0)]).select("id", "v"),
        path,
    )                                                       # snap 2
    iceberg_lite.delete_iceberg(spark, path, "id in (1, 3)")  # snap 3 (MOR)
    iceberg_lite.rewrite_data_files(spark, path)            # snap 4 (replace)
    log = iceberg_lite.read_iceberg_changelog(spark, path, from_snapshot=1)
    rows = [
        (r["id"], r["_change_type"], r["_commit_snapshot_id"])
        for r in log.collect()
    ]
    assert (10, "insert", 2) in rows
    assert (1, "delete", 3) in rows and (3, "delete", 3) in rows
    # compaction emits NOTHING
    assert not [r for r in rows if r[2] == 4]
    assert len(rows) == 3


def test_changelog_dv_and_partition_drop(spark, tmp_path):
    path = str(tmp_path / "changelog_v3")
    df = spark.createDataFrame(
        [Row(id=i, grp="a" if i < 3 else "b", v=float(i))
         for i in range(6)]
    ).select("id", "grp", "v").orderBy("id").coalesce(1)
    iceberg_lite.write_iceberg(
        spark, df, path, partition_by=["grp"], format_version=3
    )                                                       # snap 1
    iceberg_lite.delete_iceberg(spark, path, "id = 4")      # snap 2 (DV)
    iceberg_lite.delete_iceberg(spark, path, "grp = 'a'")   # snap 3 (meta-only)
    log = iceberg_lite.read_iceberg_changelog(spark, path, from_snapshot=1)
    got = sorted(
        (r["id"], r["_change_type"], r["_commit_snapshot_id"])
        for r in log.collect()
    )
    assert (4, "delete", 2) in got
    dropped = [r for r in got if r[2] == 3]
    assert sorted(r[0] for r in dropped) == [0, 1, 2]
    assert all(r[1] == "delete" for r in dropped)


def test_changelog_materializes_equality_deletes(spark, tmp_path):
    """An upsert commit's changelog = deletes for the OLD versions of
    matched keys (materialized by the key semi-join against the parent
    snapshot) + inserts for every source row; a key matching nothing
    (the pure insert) emits no delete."""
    path = str(tmp_path / "changelog_eq")
    df = spark.createDataFrame(
        [Row(id=i, v=float(i)) for i in range(4)]
    ).select("id", "v")
    iceberg_lite.write_iceberg(spark, df, path)             # snap 1
    iceberg_lite.upsert_iceberg_equality(
        spark,
        spark.createDataFrame(
            [Row(id=1, v=99.0), Row(id=9, v=9.0)]
        ).select("id", "v"),
        path,
        keys=["id"],
    )                                                       # snap 2
    log = iceberg_lite.read_iceberg_changelog(spark, path, from_snapshot=1)
    got = sorted(
        (r["id"], float(r["v"]), r["_change_type"], r["_commit_snapshot_id"])
        for r in log.collect()
    )
    assert got == [
        (1, 1.0, "delete", 2),   # old version of the matched key
        (1, 99.0, "insert", 2),  # new version
        (9, 9.0, "insert", 2),   # pure insert: no delete row
    ]


def test_changelog_scoped_equality_deletes(spark, tmp_path):
    """Partition-scoped equality deletes delete only within their
    partition: the same key value in another partition survives."""
    path = str(tmp_path / "changelog_eq_scoped")
    df = spark.createDataFrame(
        [Row(id=i % 3, grp="a" if i < 3 else "b", v=float(i))
         for i in range(6)]
    ).select("id", "grp", "v").orderBy("v").coalesce(1)
    iceberg_lite.write_iceberg(spark, df, path, partition_by=["grp"])
    iceberg_lite.upsert_iceberg_equality(
        spark,
        spark.createDataFrame(
            [Row(id=1, grp="a", v=50.0)]
        ).select("id", "grp", "v"),
        path,
        keys=["id", "grp"],
    )
    log = iceberg_lite.read_iceberg_changelog(spark, path, from_snapshot=1)
    dels = [
        (r["id"], r["grp"], float(r["v"]))
        for r in log.collect() if r["_change_type"] == "delete"
    ]
    assert dels == [(1, "a", 1.0)]  # grp='b' id=1 (v=4.0) untouched


def test_timestamp_ntz_commits_spec_timestamp_type(spark, tmp_path):
    """Spark timestamp_ntz -> iceberg 'timestamp' (WITHOUT zone) and
    timestamptz stays 'timestamptz' (round 10: ntz used to
    mis-declare as timestamptz); values round-trip wall-clock."""
    path = str(tmp_path / "ntz")
    df = spark.sql(
        "select 1 as id, timestamp_ntz'2024-01-02 03:04:05' as ts, "
        "timestamp'2024-01-02 03:04:05Z' as tz"
    )
    iceberg_lite.write_iceberg(spark, df, path)
    cur = iceberg_lite._current_schema_of(
        iceberg_lite._load_metadata(path)
    )
    types = {f["name"]: f["type"] for f in cur["fields"]}
    assert types["ts"] == "timestamp"
    assert types["tz"] == "timestamptz"
    out = iceberg_lite.read_iceberg(spark, path)
    assert dict(out.dtypes)["ts"] == "timestamp_ntz"
    assert str(out.collect()[0]["ts"]) == "2024-01-02 03:04:05"


def test_merge_insert_only_out_of_bounds_keys(spark, tmp_path):
    """A MERGE whose source keys all fall OUTSIDE every file's bounds
    (the insert-only upsert on a key-clustered table) must degenerate
    to a pure append — it used to crash the bounds-filtered live read
    with 'no data files in snapshot'."""
    from aws_insurancelake_etl_spark.sources import iceberg_lite as il

    path = str(tmp_path / "oob")
    il.write_iceberg(
        spark,
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string"),
        path,
    )
    res = il.merge_iceberg(
        spark,
        spark.createDataFrame([(100, "x"), (101, "y")], "id int, v string"),
        path,
        keys=["id"],
    )
    assert res["deleted_rows"] == 0 and res["files_scanned"] == 0
    assert il.read_iceberg(spark, path).count() == 4


def test_variant_and_unknown_types_refuse_by_name(spark, tmp_path):
    """Round 11: an unmappable Spark type (variant incl.) must refuse
    at write time, never commit metadata calling the column a string
    (silent misdescription another engine would then trust)."""
    from aws_insurancelake_etl_spark.sources import iceberg_lite as il

    path = str(tmp_path / "vr")
    df = spark.sql("select 1 as id, parse_json('{\"a\": 1}') as v")
    with pytest.raises(il.IcebergLiteError, match="variant"):
        il.write_iceberg(spark, df, path, format_version=3)
    assert not il.is_iceberg_table(path)


def test_properties_persist_across_snapshot_commits(spark, tmp_path):
    """Round-11 fix: data commits must carry table properties forward
    (spec §Table Metadata) — appends/DML were silently clearing
    `owner`, stored ANALYZE stats, and any other engine's entries."""
    from aws_insurancelake_etl_spark.sources import iceberg_lite as il

    path = str(tmp_path / "pp")
    il.write_iceberg(spark, spark.range(3).selectExpr("id"), path)
    il.set_iceberg_properties(path, {"owner": "etl"})
    il.write_iceberg(spark, spark.range(3, 6).selectExpr("id"), path)
    il.delete_iceberg(spark, path, "id = 4")
    assert il._load_metadata(path).get("properties") == {"owner": "etl"}


def test_sort_order_declared_and_honored(spark, tmp_path):
    """Round 11 (spec §Sort Orders): set_sort_order commits the
    metadata entry; rewrite_data_files range-clusters by the default
    order so per-file bounds become disjoint (the pruning payoff);
    properties/order survive later commits."""
    from aws_insurancelake_etl_spark.sources import iceberg_lite as il

    path = str(tmp_path / "so")
    df = spark.range(1000).selectExpr(
        "cast(id * 2654435761 % 1000 as int) AS k", "id AS v"
    )
    il.write_iceberg(spark, df.repartition(4), path)
    res = il.set_sort_order(path, [("k", "asc", "nulls-first")])
    meta = il._load_metadata(path)
    assert meta["default-sort-order-id"] == res["order_id"]
    assert meta["sort-orders"][-1]["fields"][0]["direction"] == "asc"
    out = il.rewrite_data_files(spark, path, target_files=4)
    assert out["rewritten"] is True
    # after the sorted rewrite, k-bounds across files are disjoint
    import pyarrow.parquet as pq

    ranges = []
    for f in il.plan_files(path):
        t = pq.read_table(f.path, columns=["k"])
        ks = t.column("k").to_pylist()
        ranges.append((min(ks), max(ks)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2, f"overlapping k ranges {ranges}"
    # files of the sorted rewrite are stamped with the order id
    # (spec data_file field 140)
    meta2 = il._load_metadata(path)
    ml = meta2["snapshots"][-1]["manifest-list"]
    mf = il._read_manifest_rows(ml)[0]
    stamped = {
        e["data_file"].get("sort_order_id")
        for e in il._read_manifest_rows(mf["manifest_path"])
    }
    assert stamped == {res["order_id"]}
    # the order survives a later data commit (carry-forward)
    il.write_iceberg(
        spark, spark.range(5).selectExpr("cast(id as int) AS k", "id AS v"),
        path,
    )
    assert il._load_metadata(path)["default-sort-order-id"] == res["order_id"]
    with pytest.raises(il.IcebergLiteError, match="no such column"):
        il.set_sort_order(path, [("nope",)])


def test_snapshot_log_resolves_timestamp_travel_after_rollback(
    spark, tmp_path
):
    """Round 11 (spec §Table Metadata): the snapshot-log records every
    current-snapshot-id change, so TIMESTAMP AS OF 'now' after a
    ROLLBACK resolves to the rolled-back-TO snapshot — creation
    timestamps alone would wrongly give the newest snapshot."""
    import time as _t

    from aws_insurancelake_etl_spark.sources import iceberg_lite as il

    path = str(tmp_path / "sl")
    il.write_iceberg(spark, spark.range(3).selectExpr("id"), path)
    _t.sleep(0.05)
    il.write_iceberg(spark, spark.range(3, 6).selectExpr("id"), path)
    _t.sleep(0.05)
    il.rollback_to_snapshot(path, 1)
    _t.sleep(0.05)
    sid = il.snapshot_as_of_timestamp(path, int(_t.time() * 1000))
    assert sid == 1
    meta = il._load_metadata(path)
    assert [e["snapshot-id"] for e in meta["snapshot-log"]] == [1, 2, 1]
    assert len(meta["metadata-log"]) >= 1
    rows = sorted(
        r["id"]
        for r in il.read_iceberg(spark, path, snapshot_id=sid).collect()
    )
    assert rows == [0, 1, 2]
