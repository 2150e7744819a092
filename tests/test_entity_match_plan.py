"""The entity match builds one linear plan: its results, its plan shape
and the Spark jobs it costs.

The parity fixture covers every path of the flow: prematched rows
(one whose exact key also exists in the primary), exact matches, two
fuzzy levels (Jaro-Winkler, then Levenshtein), a block cap that drops a
primary candidate, a null blocking key, score ties broken by the sort
field and then the global id, candidates that all fail the threshold,
and rows with no candidate at all.  ``EXPECTED`` is the result of the
earlier four-branch union flow on the same fixture."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_insurancelake_etl_spark.operators.entitymatch import entity_match

COLS = ("custno string, src string, first string, last string, zip string, "
        "updated string, gid string")

SPEC = {
    "global_id_field": "gid",
    "sort_field": "updated",
    "exact_match_fields": {"source_primary_key": "custno", "source_system_key": "src"},
    "levels": [
        {
            "id": "1",
            "blocks": ["last[:2]", "zip"],
            "block_cap": 3,
            "threshold": 0.8,
            "fields": [
                {"fieldname": "first", "type": "string", "method": "jarowinkler",
                 "threshold": 0.85, "weight": 0.5},
                {"fieldname": "last", "type": "string", "method": "jarowinkler",
                 "threshold": 0.9, "weight": 0.5},
            ],
        },
        {
            "id": "2",
            "blocks": ["first[:1]"],
            "threshold": 0.7,
            "fields": [
                {"fieldname": "last", "type": "string", "method": "levenshtein",
                 "weight": 1},
            ],
        },
    ],
}

PRIMARY = [
    # block "Sm10001" holds five candidates; the cap keeps the three most
    # recent and drops g01 and g11, the only candidate X9 would pass
    ("P1", "S1", "John", "Smith", "10001", "2024-01-01", "g01"),
    ("P2", "S1", "John", "Smith", "10001", "2024-03-01", "g02"),
    ("P3", "S1", "Jon", "Smith", "10001", "2024-03-01", "g03"),
    ("P10", "S1", "Johnny", "Smith", "10001", "2024-02-01", "g10"),
    ("P11", "S1", "Bart", "Smithers", "10001", "2023-01-01", "g11"),
    # block "Br20002": equal scores; g00 loses on the sort field, g04 beats
    # g05 on the global id
    ("P4", "S1", "Anna", "Brown", "20002", "2024-02-01", "g04"),
    ("P5", "S1", "Anna", "Brown", "20002", "2024-02-01", "g05"),
    ("P9", "S1", "Anna", "Brown", "20002", "2024-01-01", "g00"),
    ("P6", "S2", "Mary", "Jones", "30003", "2024-01-15", "g06"),
    ("P7", "S2", "Maria", "Jonas", "40004", "2024-01-15", "g07"),
    # a primary row with a null blocking key matches nothing at level 1
    ("P8", "S2", "Zed", "Zulu", None, "2024-05-01", "g08"),
]

INCOMING = [
    # prematched: keeps its id, even where its exact key is in the primary
    ("I1", "S9", "Xavier", "Quill", "99999", "2024-06-01", "gpre-1"),
    ("P1", "S1", "John", "Smith", "10001", "2024-06-01", "gpre-2"),
    # exact match on (custno, src)
    ("P6", "S2", "Mary", "Jones", "30003", "2024-06-01", None),
    # same custno, other source system: no exact match; level 1 tie
    ("P4", "S3", "Anna", "Brown", "20002", "2024-06-01", None),
    # level 1 inside the capped block
    ("X1", "S1", "John", "Smith", "10001", "2024-06-01", None),
    ("X2", "S1", "Jhon", "Smyth", "10001", "2024-06-01", None),
    ("X9", "S1", "Bart", "Smith", "10001", "2024-06-01", None),
    # null blocking key at level 1 (null zip); level 2 matches on "J"
    ("X5", "S1", "John", "Smith", None, "2024-06-01", None),
    # no level 1 block; level 2 picks the closer last name
    ("X3", "S1", "Maria", "Jonas", "40005", "2024-06-01", None),
    ("X7", "S1", "Mara", "Jones", "77777", "2024-06-01", None),
    # level 2 candidates that all fail the threshold
    ("X6", "S1", "Mark", "Zzyzx", "30003", "2024-06-01", None),
    # no candidate at any level
    ("X4", "S1", "Quentin", "Tarantino", "55555", "2024-06-01", None),
    ("X8", "S1", None, None, None, "2024-06-01", None),
]

EXPECTED = {
    "I1": "gpre-1",
    "P1": "gpre-2",
    "P6": "g06",
    "P4": "g04",
    "X1": "g02",
    "X2": "g02",
    "X5": "g02",
    "X3": "g07",
    "X7": "g06",
    "X6": "new-X6",
    "X4": "new-X4",
    "X8": "new-X8",
    "X9": "new-X9",
}


def _match(spark, spec=SPEC):
    return entity_match(
        spark.createDataFrame(INCOMING, COLS),
        spark.createDataFrame(PRIMARY, COLS),
        spec,
        new_id_column=F.concat(F.lit("new-"), F.col("custno")),
    )


def test_results_equal_the_union_flow(spark):
    out = _match(spark)
    assert out.columns == spark.createDataFrame(INCOMING, COLS).columns
    rows = out.collect()
    assert len(rows) == len(INCOMING)
    assert {r["custno"]: r["gid"] for r in rows} == EXPECTED


def test_uncapped_level_adopts_the_candidate_the_cap_drops(spark):
    """The fixture's cap is active: without it X9 matches g11 at level 1."""
    spec = dict(SPEC, levels=[dict(SPEC["levels"][0], block_cap=None), SPEC["levels"][1]])
    got = {r["custno"]: r["gid"] for r in _match(spark, spec).collect()}
    assert got == dict(EXPECTED, X9="g11")


def test_plan_has_no_union_and_scores_each_level_once(spark):
    """Level 1 scores two Jaro-Winkler fields, which share one
    ArrowEvalPython node; level 2 is native Levenshtein."""
    plan = _match(spark)._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan
    assert plan.count("ArrowEvalPython") == 1


#: Spark jobs of building the match of the parity fixture (the four-branch
#: union flow took 37).  9 or 10: adaptive execution turns the first
#: level's candidate join into a broadcast join once the capped primary
#: side is built; if the incoming side's shuffle for the sort-merge join
#: has started by then, it costs one more job.
SOURCE_JOB_BUDGET = 10
#: Spark jobs of the ``em_full_flow`` gate (the union flow took 14 to 15 at
#: sf0.001, 16 at sf0.01)
EM_FULL_FLOW_JOB_BUDGET = 7


def test_match_build_stays_within_job_budget(spark, count_jobs):
    assert count_jobs(lambda: _match(spark).localCheckpoint()) <= SOURCE_JOB_BUDGET


def test_em_full_flow_stays_within_job_budget(spark, count_jobs, sf_dir):
    from aws_insurancelake_etl_spark.queries import all_queries, gate_scope

    with gate_scope(spark):
        df = all_queries()["em_full_flow"](spark, sf_dir)
        jobs = count_jobs(lambda: df.write.format("noop").mode("overwrite").save())
    assert jobs <= EM_FULL_FLOW_JOB_BUDGET
