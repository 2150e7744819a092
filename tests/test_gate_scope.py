"""``gate_scope`` leaves no gate state behind.

Each gate below runs twice, each time in its own scope, and must leave
the session's runtime conf, catalog tables and databases, active streams,
warehouse directory and ``tempfile.tempdir`` exactly as it found them.  Together the gates
cover every kind of state a gate makes: a memory sink, a conf change and
temp dirs (``stream_windowed_counts``), a persistent table
(``stream_upsert_totals``), databases (``pipeline_cleanse_to_consume``,
``sink_partition_clear``), a ``__gate_*`` temp view
(``sql_merge_canonical``) and a database's lakehouse zone under the
warehouse (``pipeline_cleanse_lakehouse``)."""

from __future__ import annotations

import os
import tempfile

import pytest

from aws_insurancelake_etl_spark.queries import all_queries, gate_scope

LEAKY_GATES = (
    "stream_windowed_counts",
    "stream_upsert_totals",
    "pipeline_cleanse_to_consume",
    "sink_partition_clear",
    "sql_merge_canonical",
    "pipeline_cleanse_lakehouse",
)


def _session_state(spark):
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    return (
        spark.conf.getAll,
        sorted(spark.catalog.listTables(), key=repr),
        sorted(spark.catalog.listDatabases(), key=repr),
        sorted(os.listdir(warehouse)) if os.path.isdir(warehouse) else [],
    )


@pytest.mark.parametrize("name", LEAKY_GATES)
def test_gate_leaves_no_state(spark, sf_dir, name):
    gate = all_queries()[name]
    outer_tmp = tempfile.tempdir
    runs = []
    for _ in range(2):
        before = _session_state(spark)
        with gate_scope(spark) as scratch:
            assert tempfile.gettempdir() == scratch
            runs.append(sorted(map(repr, gate(spark, sf_dir).collect())))
        assert _session_state(spark) == before
        assert spark.streams.active == []
        assert tempfile.tempdir == outer_tmp
        assert not os.path.exists(scratch)
    assert runs[0], f"{name} returned no rows"
    assert runs[0] == runs[1]


@pytest.mark.parametrize("name", ("stream_windowed_counts", "stream_upsert_totals"))
def test_stream_gate_sets_its_state_width_back(spark, sf_dir, name):
    """A caller without a scope keeps its session's shuffle width: the
    stream gates set the state width back when the stream ends."""
    width = spark.conf.get("spark.sql.shuffle.partitions")
    with gate_scope(spark):
        all_queries()[name](spark, sf_dir).collect()
        assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_memoized_fixture_outlives_the_scope(spark, sf_dir):
    """The per-session change-feed fixture lives outside any scope's
    directory, so a second scoped run reuses the table the first built."""
    from aws_insurancelake_etl_spark.queries import pipeline_ops

    gate = all_queries()["src_delta_change_feed"]
    paths = []
    for _ in range(2):
        with gate_scope(spark) as scratch:
            gate(spark, sf_dir).collect()
        path = pipeline_ops._CDF_FIXTURES[(id(spark.sparkContext), sf_dir)]
        assert not path.startswith(scratch)
        assert os.path.isdir(path)
        paths.append(path)
    assert paths[0] == paths[1]


def test_scope_submits_no_spark_job(spark, count_jobs):
    def plain_gate():
        with gate_scope(spark):
            spark.range(10).createOrReplaceTempView("__gate_scope_probe")
            spark.conf.set("spark.sql.shuffle.partitions", "3")
            tempfile.mkdtemp()

    assert count_jobs(plain_gate) == 0
    assert "__gate_scope_probe" not in {t.name for t in spark.catalog.listTables()}
