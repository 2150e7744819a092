"""Spark jobs per file drop, and reloads of a dropped file.

A seeded policy drop shaped like the file-drop benchmark's (mapping with a
fuzzy-matched column, ``lookup`` transform, warn / quarantine / halt DQ
rules, consume SQL) is loaded into Parquet zones twice.  The second load,
a reload of the same partition, must stay within the job budget: the
schema gate and the lookup run no job, each DQ stage evaluates its rules
in one aggregate, and the numeric audits ride actions that run anyway."""

from __future__ import annotations

import json
import random

import pytest

from aws_insurancelake_etl_spark.catalog import enforce_schema_evolution
from aws_insurancelake_etl_spark.operators.lookup import transform_lookup
from aws_insurancelake_etl_spark.orchestrator import run_pipeline
from aws_insurancelake_etl_spark.plans.writer import quarantine_writer

DATABASE = "jobbudget"
TABLE = "policydata"
ROWS = 200
#: Spark jobs of the second load (36 before the per-stage DQ aggregate,
#: the job-free schema gate and the folded numeric audits).
JOB_BUDGET = 17

MAPPING_CSV = """SourceName,DestName,Threshold,Scorer
PolicyNumber,policynumber,,
StateCd,statecd,,
LOBCode,lobcode,,
WrittenPremium,writtenpremium,,
AgentCode,agentcode,85,ratio
"""

TRANSFORM_SPEC = {
    "input_spec": {"csv": {"header": True}},
    "transform_spec": {
        "filterrows": [{"condition": "lobcode <> 'TEST'"}],
        "currency": [{"field": "writtenpremium", "format": "16,2"}],
        "lookup": [{"field": "statename", "source": "statecd", "lookup": "StateCd",
                    "nomatch": "N/A"}],
    },
}

DQ_RULES = {
    "before_transform": {
        "warn_rules": ["Completeness 'policynumber' > 0.9",
                       "ColumnValues 'statecd' matches '[A-Z]{2}'"],
    },
    "after_transform": {
        "quarantine_rules": ["ColumnValues 'writtenpremium' >= 0"],
        "halt_rules": ["(ColumnExists 'policynumber') and (IsComplete 'policynumber')"],
    },
    "after_sparksql": {"warn_rules": ["RowCount > 0"]},
}

CONSUME_SQL = (
    "SELECT policynumber, statecd, statename, lobcode, writtenpremium, year, month, day"
    " FROM {database}.{table} WHERE year = '{year}' AND month = '{month}' AND day = '{day}'"
)

STATES = {"TX": "Texas", "CA": "California", "NY": "New York", "FL": "Florida"}


def _drop_csv(rng: random.Random) -> tuple[str, int]:
    """Return the CSV text and its number of negative-premium rows."""
    lines = ["PolicyNumber,StateCd,LOBCode,WrittenPremium,AgentCd"]
    negatives = 0
    for n in range(ROWS):
        lob = "TEST" if n % 50 == 0 else rng.choice(("GL", "WC", "AUTO"))
        cents = rng.randrange(20_000, 2_500_000)
        if lob != "TEST" and n % 25 == 7:
            cents, negatives = -cents, negatives + 1
        state = "ZZ" if n % 40 == 3 else rng.choice(sorted(STATES))
        lines.append(f"{n},{state},{lob},{cents / 100:.2f},AG{rng.randrange(1, 400):04d}")
    return "\n".join(lines) + "\n", negatives


def _loader(spark, root):
    """Write the drop, its config and lookup under ``root``; return
    (a function loading the drop, its number of negative-premium rows)."""
    config_dir, lookup_dir = root / "config", root / "lookups"
    config_dir.mkdir()
    lookup_dir.mkdir()
    base = f"{DATABASE}-{TABLE}"
    (config_dir / f"{base}.csv").write_text(MAPPING_CSV)
    (config_dir / f"{base}.json").write_text(json.dumps(TRANSFORM_SPEC))
    (config_dir / f"dq-{base}.json").write_text(json.dumps(DQ_RULES))
    (config_dir / f"spark-{base}.sql").write_text(CONSUME_SQL)
    (lookup_dir / "StateCd.json").write_text(json.dumps(STATES))
    drop_dir = root / "landing" / DATABASE / TABLE / "2024" / "05" / "06"
    drop_dir.mkdir(parents=True)
    text, negatives = _drop_csv(random.Random(611))
    (drop_dir / "policies-0001.csv").write_text(text)

    def load():
        return run_pipeline(spark, str(drop_dir / "policies-0001.csv"),
                            landing_root=str(root / "landing"),
                            config_dir=str(config_dir), lookup_dir=str(lookup_dir))

    return load, negatives


@pytest.fixture(scope="module")
def loads(spark, count_jobs, tmp_path_factory):
    """Load one drop twice; return (jobs of the second load, negatives)."""
    load, negatives = _loader(spark, tmp_path_factory.mktemp("jobbudget"))
    load()
    return count_jobs(load), negatives


def test_second_load_stays_within_job_budget(loads):
    jobs, _ = loads
    assert jobs <= JOB_BUDGET, jobs


def test_reload_keeps_one_copy_of_quarantined_rows(spark, loads):
    _, negatives = loads
    quarantined = spark.table(f"{DATABASE}.{TABLE}_quarantine_after_transform")
    assert negatives > 0
    assert quarantined.count() == negatives
    assert quarantined.select("policynumber").distinct().count() == negatives
    cleansed = spark.table(f"{DATABASE}.{TABLE}")
    assert cleansed.count() == ROWS - ROWS // 50 - negatives


def test_clean_reload_clears_earlier_quarantined_rows(spark, ctx):
    write = quarantine_writer(ctx, "quarantinereload", {"year": "2024", "month": "05",
                                                        "day": "07"}, "run-1")
    failing = spark.createDataFrame([(1,), (2,)], "policynumber int")
    table = "quarantinereload.policies_quarantine_after_transform"
    write(failing, "policies_quarantine_after_transform", 2)
    write(failing, "policies_quarantine_after_transform", 2)
    assert spark.table(table).count() == 2
    write(failing.limit(0), "policies_quarantine_after_transform", 0)
    assert spark.table(table).count() == 0


def test_schema_gate_runs_no_job(spark, count_jobs, loads):
    columns = [{"Name": f.name, "Type": f.dataType.simpleString()}
               for f in spark.table(f"{DATABASE}.{TABLE}").schema.fields]
    assert count_jobs(lambda: enforce_schema_evolution(
        spark, DATABASE, TABLE, columns, "strict", ["year", "month", "day"])) == 0


def test_lookup_side_table_is_a_local_relation(spark, count_jobs, ctx):
    ctx.lookups.put_values("StateCd", STATES)
    df = spark.range(4).selectExpr("element_at(array('TX', 'CA', 'ZZ', 'NY'), "
                                   "cast(id + 1 as int)) AS statecd")
    spec = [{"field": "statename", "source": "statecd", "lookup": "StateCd", "nomatch": "N/A"}]
    built = []
    assert count_jobs(lambda: built.append(transform_lookup(df, spec, ctx))) == 0
    out = built[0]
    # no Python RDD anywhere in the plan: the broadcast runs no Python worker
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "ExistingRDD" not in plan and "LogicalRDD" not in plan
    assert sorted(out.collect()) == [("CA", "California"), ("NY", "New York"),
                                     ("TX", "Texas"), ("ZZ", "N/A")]


def test_loads_release_their_cached_frames(spark, tmp_path):
    """The frames a load caches (read, transformed, consume SQL result)
    are released when it ends, so a long-lived session does not hold
    every load's blocks."""
    load, _ = _loader(spark, tmp_path)
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    load()
    after_first = len(persisted())
    load()
    assert len(persisted()) <= after_first


@pytest.fixture(scope="module", params=["iceberg", "delta"])
def upsert_load(request, spark, tmp_path_factory):
    """Seed a lakehouse primary with one drop, then upsert a second drop
    into it (entity match + MERGE); return (persistent RDD ids before the
    upsert load, after it, temp views after it)."""
    from aws_insurancelake_etl_spark.sources.lakehouse_sql import unregister_table

    fmt = request.param
    root = tmp_path_factory.mktemp(f"upsert-{fmt}")
    database = f"emupsert{fmt}"
    config_dir = root / "config"
    config_dir.mkdir()
    (config_dir / f"{database}-cust.json").write_text(
        json.dumps({"input_spec": {"csv": {"header": True}}, "transform_spec": {}}))
    (config_dir / f"spark-{database}-cust.sql").write_text(
        "SELECT custid, src, name FROM {database}.{table} WHERE day = '{day}'")
    spec = {
        "primary_entity_table": "cust_primary",
        "global_id_field": "gid",
        "exact_match_fields": {"source_primary_key": "custid", "source_system_key": "src"},
        "levels": [{"blocks": ["name[:1]"], "threshold": 0.85,
                    "fields": [{"fieldname": "name", "type": "string", "weight": 1.0,
                                "method": "jarowinkler", "threshold": 0.85}]}],
    }
    landing = root / "landing"

    def load(day, text):
        drop_dir = landing / database / "cust" / "2024" / "03" / day
        drop_dir.mkdir(parents=True)
        (drop_dir / "cust.csv").write_text(text)
        run_pipeline(spark, str(drop_dir / "cust.csv"), landing_root=str(landing),
                     config_dir=str(config_dir), entitymatch_spec=spec, table_format=fmt)

    persisted = spark.sparkContext._jsc.getPersistentRDDs
    try:
        load("01", "CustId,Src,Name\n1,a,ann\n2,a,bob\n")
        before = set(persisted().keys())
        load("02", "CustId,Src,Name\n1,a,ann\n3,b,bobby\n4,b,zed\n")
        after = set(persisted().keys())
        views = [t.name for t in spark.catalog.listTables() if t.isTemporary]
    finally:
        unregister_table(f"{database}.cust")
        unregister_table(f"{database}_consume.cust")
    return before, after, views


def test_upsert_load_leaves_persisted_rdds_as_it_found_them(upsert_load):
    """Nothing an upsert load caches or checkpoints (the drop's read, the
    transformed and consume frames, the MERGE source) outlives it.  RDDs
    that earlier tests in the session left persisted may be cleaned up by
    the garbage collector while the load runs, so only additions count."""
    before, after, _ = upsert_load
    assert after - before == set()


def test_upsert_load_leaves_no_merge_source_view(upsert_load):
    _, _, views = upsert_load
    assert not [v for v in views if v.startswith("__em_incoming")], views


def test_redropped_file_loads_its_new_content(spark, tmp_path):
    """A file dropped again at the same path with new rows loads the new
    rows, not frames an earlier load of that path left cached."""
    config_dir = tmp_path / "config"
    config_dir.mkdir()
    (config_dir / "redrop-policies.json").write_text(
        json.dumps({"input_spec": {"csv": {"header": True}}, "transform_spec": {}}))
    drop_dir = tmp_path / "landing" / "redrop" / "policies" / "2024" / "01" / "02"
    drop_dir.mkdir(parents=True)
    drop = drop_dir / "policies.csv"

    def load(text):
        drop.write_text(text)
        run_pipeline(spark, str(drop), landing_root=str(tmp_path / "landing"),
                     config_dir=str(config_dir))
        return sorted(tuple(r) for r in spark.table("redrop.policies").select("id", "amt").collect())

    assert load("Id,Amt\n1,10\n2,20\n") == [(1, 10), (2, 20)]
    assert load("Id,Amt\n7,70\n8,80\n9,90\n") == [(7, 70), (8, 80), (9, 90)]
