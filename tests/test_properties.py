"""Property-based tests (hypothesis) for the scale-path operators whose
correctness is an algebraic claim, not an example: salted ops must equal
their unsalted twins on ANY input, connected components must equal a
union-find reference, deterministic sampling must be a pure row predicate.

The reference has no property tests (SURVEY.md §5); this is part of the
"stronger than reference" test plan.  Examples are kept small and few —
each example pays a full Spark job — but hypothesis explores the corner
shapes (empty, single row, all-one-key, duplicate rows) that fixed
fixtures miss.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from aws_insurancelake_etl_spark.operators import dedup as D
from aws_insurancelake_etl_spark.operators import textanalysis as TA
from aws_insurancelake_etl_spark.operators.skew import salted_agg, salted_join

SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),     # key (few values => hot keys)
        st.integers(min_value=-100, max_value=100),  # measure
    ),
    min_size=0,
    max_size=25,
)

edges = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=12),
        st.integers(min_value=0, max_value=12),
    ),
    min_size=1,
    max_size=20,
)


@given(data=rows)
@settings(**SETTINGS)
def test_salted_agg_equals_plain_agg(spark, data):
    df = spark.createDataFrame(data, "k int, v int") if data else \
        spark.createDataFrame([], "k int, v int")
    salted = salted_agg(
        df, ["k"], {"total": ("sum", F.col("v")), "n": ("count", F.lit(1))},
        n_salts=4,
    )
    plain = df.groupBy("k").agg(
        F.sum("v").alias("total"), F.count(F.lit(1)).alias("n")
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


@given(
    fact=st.lists(st.integers(min_value=0, max_value=4), min_size=0, max_size=20),
    dim=st.lists(st.integers(min_value=0, max_value=6), min_size=0, max_size=6),
)
@settings(**SETTINGS)
def test_salted_join_equals_plain_join(spark, fact, dim):
    dim = list(dict.fromkeys(dim))  # dimension keys unique
    f = spark.createDataFrame([(k,) for k in fact], "k int") if fact else \
        spark.createDataFrame([], "k int")
    d = spark.createDataFrame([(k, k * 10) for k in dim], "k int, attr int") if dim \
        else spark.createDataFrame([], "k int, attr int")
    salted = salted_join(f, d, on=["k"], n_salts=3)
    plain = f.join(d, "k")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))


def _union_find_components(pairs):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # path-compress to final minima
    return {n: find(n) for n in parent}


@given(pairs=edges)
@settings(**SETTINGS)
def test_connected_components_equals_union_find(spark, pairs):
    pairs = [(a, b) for a, b in pairs if a != b]
    if not pairs:
        return
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {r["node"]: r["cluster_id"] for r in D.connected_components(df).collect()}
    want = _union_find_components(pairs)
    assert got == want


@given(
    ids=st.lists(st.integers(min_value=0, max_value=10_000), min_size=0,
                 max_size=30, unique=True),
    rate=st.sampled_from([0.0, 0.25, 0.5, 1.0]),
)
@settings(**SETTINGS)
def test_stratified_sample_is_pure_row_predicate(spark, ids, rate):
    """Membership depends only on (id, rate) — never on the surrounding
    rows — so sampling commutes with filtering: sample(S) == sample(all) ∩ S."""
    df = spark.createDataFrame([(i, "x") for i in ids], "doc_id long, lang string") \
        if ids else spark.createDataFrame([], "doc_id long, lang string")
    kept_all = {r["doc_id"] for r in
                TA.stratified_sample(df, "lang", {"x": rate}).collect()}
    half = df.where(F.col("doc_id") % 2 == 0)
    kept_half = {r["doc_id"] for r in
                 TA.stratified_sample(half, "lang", {"x": rate}).collect()}
    assert kept_half == {i for i in kept_all if i % 2 == 0}
    if rate == 1.0:
        assert kept_all == set(ids)
    if rate == 0.0:
        assert kept_all == set()


@given(
    base=st.dictionaries(st.integers(min_value=0, max_value=6),
                         st.integers(min_value=0, max_value=3),
                         min_size=1, max_size=6),
    upd=st.dictionaries(st.integers(min_value=0, max_value=8),
                        st.integers(min_value=0, max_value=3),
                        min_size=0, max_size=6),
)
@settings(**SETTINGS)
def test_scd2_invariants(spark, base, upd):
    """After any apply: every key has exactly one open row, and re-applying
    the same updates is a no-op (idempotence)."""
    from pyspark.sql import functions as F

    from aws_insurancelake_etl_spark.operators.scd import scd2_apply

    current = spark.createDataFrame(
        [(k, float(v), "2020-01-01", None) for k, v in base.items()],
        "k long, bal double, valid_from string, valid_to string",
    ).select("k", "bal", F.to_date("valid_from").alias("valid_from"),
             F.to_date("valid_to").alias("valid_to"))
    updates = spark.createDataFrame(
        [(k, float(v), "2024-06-01") for k, v in upd.items()],
        "k long, bal double, effective_date string",
    ).withColumn("effective_date", F.to_date("effective_date")) if upd else \
        spark.createDataFrame([], "k long, bal double, effective_date date")

    once = scd2_apply(current, updates, ["k"], ["bal"])
    rows1 = sorted(map(tuple, once.collect()))
    # exactly one open version per key
    open_counts = {}
    for k, _, _, vt in rows1:
        if vt is None:
            open_counts[k] = open_counts.get(k, 0) + 1
    assert set(open_counts) == set(base) | set(upd)
    assert all(c == 1 for c in open_counts.values())
    # idempotence: same updates again change nothing
    twice = scd2_apply(once, updates, ["k"], ["bal"])
    assert sorted(map(tuple, twice.collect())) == rows1


@given(
    pairs=st.lists(
        st.tuples(st.integers(0, 65535), st.integers(0, 65535)),
        min_size=1, max_size=40, unique=True,
    )
)
@settings(max_examples=20, deadline=None)
def test_morton_code_bijective_and_monotone_on_tiles(spark, pairs):
    """The Morton code must be a bijection on (a, b) pairs within the bit
    budget — distinct inputs get distinct codes and decode by bit
    de-interleave."""
    from pyspark.sql import functions as F

    from aws_insurancelake_etl_spark.functions.layout import morton_code

    df = spark.createDataFrame(pairs, "a long, b long")
    rows = df.select("a", "b", morton_code("a", "b", 16).alias("z")).collect()
    assert len({r["z"] for r in rows}) == len(pairs)
    for r in rows:
        a = sum(((r["z"] >> (2 * i)) & 1) << i for i in range(16))
        b = sum(((r["z"] >> (2 * i + 1)) & 1) << i for i in range(16))
        assert (a, b) == (r["a"], r["b"])


@given(
    texts=st.lists(
        st.text(alphabet="ab xyz", min_size=1, max_size=30),
        min_size=2, max_size=6,
    )
)
@settings(max_examples=15, deadline=None)
def test_partial_ratio_bounds_and_substring_property(spark, texts):
    """partial_ratio ∈ [0,1]; a non-empty string against itself scores 1."""
    from pyspark.sql import functions as F

    from aws_insurancelake_etl_spark.functions.similarity import (
        partial_ratio_similarity,
    )

    rows = [(t, u) for t in texts for u in texts]
    df = spark.createDataFrame(rows, "a string, b string")
    out = df.select("a", "b", partial_ratio_similarity("a", "b").alias("s")).collect()
    for r in out:
        assert 0.0 <= r["s"] <= 1.0 + 1e-9
        if r["a"] == r["b"] and r["a"].strip():
            assert r["s"] == 1.0 or abs(r["s"] - 1.0) < 1e-9


@given(
    texts=st.lists(
        st.text(alphabet="abc wxyz", min_size=1, max_size=40),
        min_size=1, max_size=6,
    )
)
@settings(max_examples=12, deadline=None)
def test_unigram_entropy_bounds(spark, texts):
    """Entropy ∈ [0, ln n_distinct]; ratio ∈ [0, 1]; single-repeated-token
    docs score exactly 0 — on ANY input, not just the fixture corpus."""
    import math

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    for r in TA.unigram_entropy(df).collect():
        assert r["entropy"] >= 0.0
        assert 0.0 <= r["entropy_ratio"] <= 1.0 + 1e-9
        # entropy is rounded to 4 decimals, so allow half a ulp of that
        assert r["entropy"] <= math.log(max(r["n_tokens"], 1)) + 5e-5


@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=5, max_size=40),
        min_size=2, max_size=5,
    )
)
@settings(max_examples=10, deadline=None)
def test_containment_bounds_and_dominates_jaccard(spark, texts):
    """Containment ∈ (0, 1]; for every candidate pair containment >=
    jaccard (|A∩B|/min <= |A∩B|/union is impossible the other way)."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    sh = D.shingles(df)
    cont = {(r["doc_a"], r["doc_b"]): r["containment"]
            for r in D.containment_pairs(sh, threshold=0.0).collect()}
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in D.jaccard_pairs(sh, threshold=0.0).collect()}
    assert set(cont) == set(jac)  # same candidate pairs (shared expansion)
    for pair, c in cont.items():
        assert 0.0 < c <= 1.0 + 1e-9
        assert c >= jac[pair] - 1e-9


# Documents as lists of tokens from a TINY vocab so shared runs actually
# occur; small doc count — each example pays a full Spark job.
_tok = st.sampled_from(["a", "b", "c", "d"])
docs_strategy = st.lists(
    st.lists(_tok, min_size=4, max_size=18),
    min_size=2,
    max_size=4,
)


def _brute_force_max_runs(doclists, min_run):
    """O(n^2) DP reference: longest common SUBSTRING (token run) per pair."""
    out = {}
    for a in range(len(doclists)):
        for b in range(a + 1, len(doclists)):
            A, B = doclists[a], doclists[b]
            best = 0
            dp = [0] * (len(B) + 1)
            for i in range(1, len(A) + 1):
                prev = 0
                for j in range(1, len(B) + 1):
                    cur = dp[j]
                    dp[j] = prev + 1 if A[i - 1] == B[j - 1] else 0
                    best = max(best, dp[j])
                    prev = cur
            if best >= min_run:
                out[(a, b)] = best
    return out


@given(doclists=docs_strategy)
@settings(**SETTINGS)
def test_substring_runs_match_dp_reference(spark, doclists):
    """Diagonal-island run detection == classic longest-common-substring
    DP, for any documents over a tiny vocabulary (k=2 grams so short
    runs are visible)."""
    k, min_run = 2, 3
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(doclists)],
        ["doc_id", "text"],
    )
    got = {
        (r.doc_a, r.doc_b): r.max_run_tokens
        for r in D.substring_run_pairs(df, k=k, min_run_tokens=min_run).collect()
    }
    assert got == _brute_force_max_runs(doclists, min_run)


mix_strategy = st.tuples(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=3),
    st.integers(min_value=10, max_value=300),   # budget_docs
    st.integers(min_value=2, max_value=12),     # docs per stratum
)


@given(cfg=mix_strategy)
@settings(**SETTINGS)
def test_mix_epochs_budget_exact_for_any_weights(spark, cfg):
    """For ANY weight vector and budget, the scheduled repetitions per
    stratum equal exactly (permille * budget) // 1000, and each doc's
    epochs are a dense 1..n_i prefix with counts differing by at most 1
    within a stratum."""
    permilles, budget, per = cfg
    weights = {f"s{i}": pm for i, pm in enumerate(permilles)}
    rows = [(f"s{i}", i * 1000 + j) for i in range(len(permilles))
            for j in range(per)]
    df = spark.createDataFrame(rows, ["lang", "doc_id"])
    out = TA.mix_epochs(df, weights_permille=weights, budget_docs=budget).collect()
    by_stratum: dict = {}
    by_doc: dict = {}
    for r in out:
        by_stratum[r.lang] = by_stratum.get(r.lang, 0) + 1
        by_doc.setdefault((r.lang, r.doc_id), []).append(r.epoch)
    for lang, pm in weights.items():
        assert by_stratum.get(lang, 0) == (pm * budget) // 1000
    for (lang, _), epochs in by_doc.items():
        assert sorted(epochs) == list(range(1, len(epochs) + 1))
        counts = [len(v) for (l2, _), v in by_doc.items() if l2 == lang]
        assert max(counts) - min(counts) <= 1


# Documents over a tiny vocabulary so hot shingles (posting lists above the
# cap) arise naturally alongside cold ones.
capdocs = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
             min_size=3, max_size=8),
    min_size=2,
    max_size=10,
)


@given(doclists=capdocs, cap=st.integers(min_value=2, max_value=4))
@settings(**{**SETTINGS, "max_examples": 8})
def test_posting_cap_only_removes_pairs_and_underestimates(
    spark, doclists, cap
):
    """max_posting_len only REMOVES pairs (capped ⊆ uncapped) and only
    LOWERS surviving scores: dropped hot shingles leave the overlap
    numerator but still count in each document's set-size denominator, so
    capped Jaccard/containment under-estimate — precision is kept, never
    inflated.  This is the invariant that makes DEFAULT_POSTING_CAP safe
    to enable by default."""
    docs = [(i, " ".join(toks)) for i, toks in enumerate(doclists)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    sh = df.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("text"), " "))
        ).alias("shingle"),
    )
    for fn, score_col in ((D.jaccard_pairs, "jaccard"),
                          (D.containment_pairs, "containment")):
        uncapped = {
            (r.doc_a, r.doc_b): r[score_col]
            for r in fn(sh, 0.01, max_posting_len=None).collect()
        }
        capped = {
            (r.doc_a, r.doc_b): r[score_col]
            for r in fn(sh, 0.01, max_posting_len=cap).collect()
        }
        assert set(capped) <= set(uncapped)
        for pair, score in capped.items():
            assert score <= uncapped[pair], (pair, score, uncapped[pair])


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=3),          # user_id
        st.sampled_from(["click", "view", "purchase"]),  # event_type
        st.integers(min_value=0, max_value=9),           # day offset
        st.integers(min_value=1, max_value=500),         # value cents
    ),
    min_size=1,
    max_size=20,
)


@given(rows=events_strategy)
@settings(**{**SETTINGS, "max_examples": 8})
def test_funnel_attribution_conserves_value(spark, rows):
    """Linear attribution must EXACTLY redistribute each attributed
    purchase's value: summing linear_value across touch types equals the
    total value of purchases that had >= 1 touchpoint in their 7-day
    window — credit is never created or destroyed.  First/last models
    must each also sum to that same total (one winner per purchase)."""
    import datetime

    from aws_insurancelake_etl_spark.queries import gate_scope
    from aws_insurancelake_etl_spark.queries.events import QUERIES

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, base + datetime.timedelta(days=day, seconds=i), uid, etype,
         cents / 100.0)
        for i, (uid, etype, day, cents) in enumerate(rows)
    ]
    df = spark.createDataFrame(
        data, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double"
    )
    import aws_insurancelake_etl_spark.queries.util as util

    # run the registered query body against this synthetic frame by
    # monkeypatching the reader it uses
    orig = util.read_events
    try:
        util.read_events = lambda spark_, sf_dir_: df
        import aws_insurancelake_etl_spark.queries.events as evmod

        orig2 = evmod.read_events
        evmod.read_events = lambda spark_, sf_dir_: df
        try:
            with gate_scope(spark):
                out = QUERIES["evt_funnel_attribution"](spark, "unused").collect()
        finally:
            evmod.read_events = orig2
    finally:
        util.read_events = orig

    # expected: purchases with >=1 touch in (p_ts - 7d, p_ts]
    purchases = [r for r in data if r[3] == "purchase"]
    touches = [r for r in data if r[3] in ("click", "view")]
    attributed = 0.0
    for p in purchases:
        window = [
            t for t in touches
            if t[2] == p[2]
            and t[1] <= p[1]
            and t[1] > p[1] - datetime.timedelta(days=7)
        ]
        if window:
            attributed += round(p[4] * 100) / 100
    attributed = round(attributed, 2)
    for col in ("linear_value", "first_touch_value", "last_touch_value"):
        total = round(sum(r[col] for r in out), 2)
        assert abs(total - attributed) < 0.02, (col, total, attributed)


avro_rows = st.lists(
    st.tuples(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.one_of(st.none(), st.text(min_size=0, max_size=30)),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.booleans(),
    ),
    min_size=0,
    max_size=25,
)


@given(rows=avro_rows, codec=st.sampled_from(["null", "deflate"]))
@settings(max_examples=30, deadline=None)
def test_avro_lite_roundtrip_property(tmp_path_factory, rows, codec):
    """write_avro ∘ read_avro is the identity for any flat rows of
    longs, nullable unicode strings, finite doubles, and booleans,
    under both codecs — pinned by generation, not examples."""
    from aws_insurancelake_etl_spark.sources import avro_lite

    path = str(tmp_path_factory.mktemp("avro") / "p.avro")
    types = ["long", ["null", "string"], "double", "boolean"]
    avro_lite.write_avro(path, ["a", "b", "c", "d"], types, rows, codec=codec)
    names, got = avro_lite.read_avro(path)
    assert names == ["a", "b", "c", "d"]
    assert [tuple(r) for r in got] == rows


xlsx_cells = st.one_of(
    st.none(),
    st.integers(min_value=-(2**52), max_value=2**52),
    st.booleans(),
    # adversarial text: XML metacharacters, quotes, unicode
    st.text(alphabet='ab&<>"\'é☃ ', min_size=0, max_size=12),
)


@given(
    matrix=st.lists(st.lists(xlsx_cells, min_size=1, max_size=4),
                    min_size=1, max_size=6),
)
@settings(max_examples=30, deadline=None)
def test_xlsx_lite_roundtrip_property(tmp_path_factory, matrix):
    """write_xlsx ∘ read_sheet preserves any cell matrix — including XML
    metacharacters and quotes in text — up to the documented trailing
    trim (the matrix is read back to the bounding box of populated
    cells, so fully-empty trailing rows/columns drop)."""
    from hypothesis import assume

    from aws_insurancelake_etl_spark.sources import xlsx_lite

    width = max(len(r) for r in matrix)
    dense = [list(r) + [None] * (width - len(r)) for r in matrix]
    # bounding box of non-None cells (the format has no empty-cell markers)
    populated = [(i, j) for i, row in enumerate(dense)
                 for j, v in enumerate(row) if v is not None]
    assume(populated)
    max_r = max(i for i, _ in populated)
    max_c = max(j for _, j in populated)
    expect = [row[: max_c + 1] for row in dense[: max_r + 1]]

    path = str(tmp_path_factory.mktemp("xlsx") / "p.xlsx")
    xlsx_lite.write_xlsx(path, {"S": dense})
    assert xlsx_lite.read_sheet(path, "S") == expect


image_strategy = st.tuples(
    st.integers(min_value=1, max_value=9),   # width (odd widths stress BMP row padding)
    st.integers(min_value=1, max_value=7),   # height
    st.randoms(use_true_random=False),
)


@given(img=image_strategy)
@settings(**SETTINGS)
def test_image_codec_roundtrip_property(img):
    """encode->decode is the identity for BOTH stdlib codecs on random
    pixels and dimensions — BMP's 4-byte row padding and bottom-up
    storage cancel exactly, and the two formats agree on the same RGB
    matrix (cross-codec consistency, not just per-codec round-trip)."""
    from aws_insurancelake_etl_spark.operators import multimodal as MM

    width, height, rnd = img
    rgb = bytes(rnd.randrange(256) for _ in range(width * height * 3))
    assert MM.decode_bmp(MM.encode_bmp(width, height, rgb)) == (width, height, rgb)
    assert MM.decode_ppm(MM.encode_ppm(width, height, rgb)) == (width, height, rgb)
    assert (MM.image_stat_features(MM.encode_bmp(width, height, rgb))
            == MM.image_stat_features(MM.encode_ppm(width, height, rgb)))


cfb_streams = st.dictionaries(
    st.text(st.characters(min_codepoint=65, max_codepoint=90),
            min_size=1, max_size=8),
    st.binary(min_size=0, max_size=9000),
    min_size=1,
    max_size=6,
)


@given(streams=cfb_streams)
@settings(**SETTINGS)
def test_cfb_roundtrip_property(streams):
    """cfb_write->cfb_read is the identity for arbitrary stream dicts
    spanning the ministream boundary (sizes 0..9000 straddle the 4096
    cutoff) — FAT chains, miniFAT chains, and directory sizes all agree.
    Empty streams come back empty (stored with no sectors)."""
    from aws_insurancelake_etl_spark.sources import offcrypto as OC

    assert OC.cfb_read(OC.cfb_write(streams)) == streams


@given(payload=st.binary(min_size=2, max_size=20000),
       password=st.text(min_size=1, max_size=12))
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_agile_crypto_roundtrip_property(payload, password):
    """decrypt(encrypt(p, pw), pw) == p for arbitrary payloads and
    passwords (unicode included); a flipped password char is rejected."""
    from aws_insurancelake_etl_spark.sources import offcrypto as OC

    enc = OC.encrypt_agile(payload, password, spin_count=30)
    assert OC.decrypt_agile(enc, password) == payload
    try:
        OC.decrypt_agile(enc, password + "x")
        raise AssertionError("wrong password accepted")
    except OC.WrongPassword:
        pass


_rule_fragments = st.lists(
    st.sampled_from([
        "ColumnValues", "Completeness", "IsComplete", "IsUnique",
        "IsPrimaryKey", "ColumnExists", "RowCount", "Uniqueness", "Mean",
        "StandardDeviation", "Sum", "DistinctValuesCount", "ColumnLength",
        "ColumnCorrelation", "DataFreshness", "CustomSql", "Bogus",
        "ColumnCount", "ColumnNamesMatchPattern", "RowCountMatch",
        "AggregateMatch", "DatasetMatch", "'('", "1.2.3", "'sum(v)'",
        "'k'", "k", "v", "matches", "in", "between", "and", "or",
        ">=", "<=", ">", "<", "=", "!=", "0.5", "10", "-3", "'re.*'",
        "(", ")", "hours", "days", "'SELECT 1'",
    ]),
    min_size=1,
    max_size=8,
)


@given(fragments=_rule_fragments)
@settings(**SETTINGS)
def test_dq_rule_parser_total(spark, fragments):
    """The DQDL compiler is TOTAL over garbage: any rule text either
    compiles or raises DQRuleError with the offending text — never a
    bare KeyError/IndexError/AttributeError from a partial parse.  A
    malformed production rule config should fail with a nameable error,
    not a stack trace from the parser's guts."""
    from aws_insurancelake_etl_spark.plans.dq import DQRuleError, RuleCompiler

    df = spark.createDataFrame([(1, "x")], "k long, v string")
    compiler = RuleCompiler(df)
    text = " ".join(fragments)
    try:
        compiler.compile(text)
    except DQRuleError:
        pass


# --------------------------------------------------- SQL front-end fuzz


@given(
    st.text(
        alphabet=st.characters(min_codepoint=32, max_codepoint=126),
        max_size=120,
    )
)
@settings(max_examples=300, deadline=None)
def test_sql_tokenizer_total_on_printable_ascii(s):
    """Strict tokenization either succeeds or raises the module's own
    error — never IndexError/AttributeError; lenient mode never raises
    at all (the SELECT-rewrite path must accept anything Catalyst
    might)."""
    from aws_insurancelake_etl_spark.sources.lakehouse_sql import (
        LakehouseSqlError,
        _tokenize,
    )

    try:
        _tokenize(s, strict=True)
    except LakehouseSqlError:
        pass
    _tokenize(s, strict=False)  # must be total


@given(
    st.lists(
        st.sampled_from(
            ["MERGE", "INTO", "USING", "ON", "WHEN", "MATCHED", "THEN",
             "UPDATE", "SET", "DELETE", "INSERT", "VALUES", "NOT", "AND",
             "SELECT", "FROM", "WHERE", "*", "(", ")", ",", "=", ".",
             "t", "s", "x", "'lit'", "1", "CASE", "END", "delta",
             "`"]
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=300, deadline=None)
def test_sql_parser_raises_only_named_errors(words):
    """Arbitrary keyword soup must produce LakehouseSqlError (or parse
    into a plan whose ANALYSIS may fail later) — never an internal
    IndexError/KeyError/UnboundLocalError from the parser itself.
    Statements that would touch Spark are cut off by using an
    unresolvable path, so no session is needed."""
    from aws_insurancelake_etl_spark.sources import lakehouse_sql as m

    sql = " ".join(words)

    class _NoSpark:
        def __getattr__(self, item):  # any spark use aborts the test path
            raise m.LakehouseSqlError("spark touched")

    try:
        m.lakehouse_sql(_NoSpark(), sql)
    except m.LakehouseSqlError:
        pass


# ---------------------------------------------------------------------------
# Round 11: iceberg v3 default-value machinery — pure-function properties
# ---------------------------------------------------------------------------

_ICE_PRIMS = st.sampled_from(
    ["int", "long", "double", "string", "boolean"]
)


def _value_for(ice):
    return {
        "int": st.integers(-(2**31), 2**31 - 1),
        "long": st.integers(-(2**62), 2**62 - 1),
        "double": st.floats(allow_nan=False, allow_infinity=False,
                            width=32),
        "string": st.text(max_size=20),
        "boolean": st.booleans(),
    }[ice]


@st.composite
def _struct_type_and_default(draw):
    n = draw(st.integers(1, 4))
    names = draw(
        st.lists(
            st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True),
            min_size=n, max_size=n, unique=True,
        )
    )
    fields = []
    name_default = {}
    for i, nm in enumerate(names):
        prim = draw(_ICE_PRIMS)
        fields.append(
            {"id": 100 + i, "name": nm, "required": False, "type": prim}
        )
        if draw(st.booleans()):
            name_default[nm] = draw(_value_for(prim))
    return {"type": "struct", "fields": fields}, name_default


@given(_struct_type_and_default())
@settings(max_examples=50, deadline=None)
def test_name_keyed_default_rekeys_and_validates(td):
    """_name_keyed_to_id_keyed: name-keyed struct defaults re-key by
    field id; the result always passes _valid_default_json; id-keyed
    input round-trips unchanged."""
    from aws_insurancelake_etl_spark.sources.iceberg_lite import (
        _name_keyed_to_id_keyed,
        _valid_default_json,
    )

    ice, by_name = td
    id_keyed = _name_keyed_to_id_keyed(ice, by_name)
    assert _valid_default_json(ice, id_keyed)
    by_id = {str(f["id"]): f["name"] for f in ice["fields"]}
    assert {by_id[k] for k in id_keyed} == set(by_name)
    # already-id-keyed input is a fixed point
    assert _name_keyed_to_id_keyed(ice, id_keyed) == id_keyed


@given(_struct_type_and_default())
@settings(max_examples=30, deadline=None)
def test_default_literal_matches_python_values(spark, td):
    """_default_literal (Spark literal) and pyds._ice_default_py
    (plain python) agree on every struct default — the batch/stream
    parity invariant."""
    from aws_insurancelake_etl_spark.sources.iceberg_lite import (
        _default_literal,
        _name_keyed_to_id_keyed,
    )
    from aws_insurancelake_etl_spark.sources.pyds import _ice_default_py

    ice, by_name = td
    id_keyed = _name_keyed_to_id_keyed(ice, by_name)
    lit = _default_literal(ice, id_keyed)
    assert lit is not None
    row = spark.range(1).select(lit.alias("v")).collect()[0]["v"]
    py = _ice_default_py(ice, id_keyed)
    for f in ice["fields"]:
        got = row[f["name"]]
        want = py.get(f["name"])
        if isinstance(want, float) and got is not None:
            assert abs(got - want) < 1e-6 * max(1.0, abs(want))
        else:
            assert got == want
