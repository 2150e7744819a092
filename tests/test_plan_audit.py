"""Physical-plan audits for scale-critical properties.

Correctness says the answer is right at sf0.01; these tests assert the plan
*shape* that keeps the same query viable at 100 TB: filters pushed into the
parquet scan, column pruning (ReadSchema carries only needed columns),
small-dimension joins broadcast instead of shuffled, map-side partial
aggregation before the exchange, and no accidental cartesian products.
"""

from __future__ import annotations

import re

import pytest

from aws_insurancelake_etl_spark.queries import all_queries, gate_scope

SF_DIR = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    with gate_scope(spark):
        df = all_queries()[name](spark, SF_DIR)
        return df._jdf.queryExecution().explainString(mode)


def read_schemas(plan: str) -> list[str]:
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def test_scan_pushdown_and_pruning(spark):
    plan = plan_of(spark, "scan_filter_project")
    # Range + comparison predicates reach the parquet reader.
    assert "PushedFilters:" in plan
    assert "GreaterThan(l_quantity" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan
    # lineitem has 16 columns; the scan must read only the 6 referenced.
    schemas = read_schemas(plan)
    assert schemas and max(s.count(":") for s in schemas) <= 6
    # Narrow pipeline: no shuffle at all.
    assert "Exchange" not in plan


def test_q1_partial_aggregation_single_shuffle(spark):
    plan = plan_of(spark, "q1_pricing_summary")
    # Map-side combine before the exchange (partial_sum / partial_count).
    assert "partial_sum" in plan
    # Group-by on two low-cardinality keys needs exactly one shuffle.
    assert plan.count("(Exchange") + plan.count("+- Exchange") == 1
    # Only the 7 referenced lineitem columns are read.
    schemas = read_schemas(plan)
    assert schemas and max(s.count(":") for s in schemas) <= 7


@pytest.mark.parametrize(
    "name, n_broadcast",
    [("join_broadcast_dims", 2), ("tr_lookup_join", 1), ("tr_multilookup_join", 1)],
)
def test_small_dims_are_broadcast(spark, name, n_broadcast):
    plan = plan_of(spark, name)
    assert plan.count("BroadcastHashJoin") >= n_broadcast, plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "q3_shipping_priority",
        "q5_region_supplier_revenue",
        "em_exact_match",
        "em_fuzzy_blocked",
        "dedup_minhash_pairs",
        "dedup_ngram_jaccard",
        "setops_union_intersect",
    ],
)
def test_no_cartesian_products(spark, name):
    """Every join in the registry must be key-based (hash or sort-merge) —
    a CartesianProduct would be quadratic at scale."""
    plan = plan_of(spark, name)
    assert "CartesianProduct" not in plan, plan


def test_q5_joins_are_key_based_with_broadcast_dims(spark):
    plan = plan_of(spark, "q5_region_supplier_revenue")
    # region/nation (tiny) must broadcast; lineitem-side joins may be
    # broadcast at this sf via AQE, but never nested-loop.
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_asof_join_is_join_free(spark):
    """The as-of query must compile to union + window (one exchange on
    user_id), never a range join whose candidate set is quadratic."""
    plan = plan_of(spark, "evt_asof_last_purchase")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                    "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "Window" in plan


def test_salted_agg_two_stage_shape(spark):
    """Salted hot-key aggregation: two aggregate stages (partial over
    keys+salt, final over keys) and the salt column never escapes."""
    plan = plan_of(spark, "evt_salted_hotkey_agg")
    assert plan.count("HashAggregate") >= 4
    with gate_scope(spark):
        df = all_queries()["evt_salted_hotkey_agg"](spark, SF_DIR)
        assert "__salt" not in df.columns


def test_q18_aggregates_before_join(spark):
    """Q18 must shrink lineitem with a pre-join aggregate (partial_sum
    before any join), then TakeOrdered instead of a global sort."""
    plan = plan_of(spark, "q18_top_large_orders")
    assert "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan


def test_window_queries_partition_by_key(spark):
    """Window specs must partition by a real key (per-group frames), not
    run a single global partition, which would serialize at scale."""
    for name in ("window_running_sum", "window_rank_orders"):
        plan = plan_of(spark, name)
        assert "Window" in plan
        # A lone `Exchange SinglePartition` feeding the window = global frame.
        window_idx = plan.index("Window")
        assert "SinglePartition" not in plan[:window_idx], name


def test_contamination_benchmark_is_broadcast(spark):
    """The benchmark shingle union must broadcast (tiny vs the corpus) and
    the corpus side must join it hash-keyed, never nested-loop."""
    plan = plan_of(spark, "text_contamination")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_gopher_repetition_narrow_token_stats(spark):
    """Token-level stats are narrow array expressions; the only joins are
    the doc_id-keyed merge with the bigram mode — no cartesian shapes."""
    plan = plan_of(spark, "text_gopher_repetition")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_assignment_is_join_free(spark):
    """Centroids are literal arrays, so the final assignment pass must
    compile with no join operator at all — one narrow projection."""
    from aws_insurancelake_etl_spark.operators.similarity import assign_clusters

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    df = assign_clusters(emb, [[0.0] * 64, [1.0] * 64])
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = df._jdf.queryExecution().explainString(mode)
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                    "CartesianProduct", "Exchange"):
        assert join_op not in plan, join_op


def test_pack_shards_windows_per_partition(spark):
    """Shard layout must window per partition column, never a single
    global ordering."""
    plan = plan_of(spark, "docs_pack_shards")
    assert "Window" in plan
    window_idx = plan.index("Window")
    assert "SinglePartition" not in plan[:window_idx]


def test_kmv_sketch_partial_aggregates(spark):
    """The sketch's distinct pass must partially aggregate map-side before
    its exchange (no raw-row shuffle of the full table)."""
    plan = plan_of(spark, "sketch_kmv_distinct")
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_unigram_entropy_no_window_no_join(spark):
    """Entropy uses the ``H = ln n − (Σ c·ln c)/n`` identity, so its plan
    must be pure hash aggregation — no window operator (which would force
    a per-doc sort) and no join, with map-side partial_sum before each
    exchange."""
    plan = plan_of(spark, "text_unigram_entropy")
    assert "Window" not in plan
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "partial_sum" in plan


def test_sliding_window_single_aggregation(spark):
    """Sliding windows expand each event into its overlapping buckets
    (Expand/Generate) then aggregate ONCE with map-side partials — never
    a self-join of shifted copies."""
    plan = plan_of(spark, "evt_sliding_window_counts")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "partial_count" in plan or "partial_sum" in plan


def test_rp_lsh_pairs_no_cartesian(spark):
    """RP-LSH pair generation must come from in-bucket posting-list
    expansion plus key-equi verify joins.  The ONLY permitted nested-loop
    is the deliberate planes×dims weight-table cross (8×64 rows,
    broadcast); candidate and verify joins must all be hash joins."""
    plan = plan_of(spark, "emb_rp_lsh_pairs")
    assert "CartesianProduct" not in plan
    # formatted mode prints each operator twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "BroadcastHashJoin" in plan


def test_containment_single_scan_no_selfjoin(spark):
    """Containment shares the posting-list pair expansion: the documents
    table is scanned ONCE (no self-join re-evaluating the shingle
    pipeline) and pairs come from in-list explosion, never a join of the
    corpus against itself."""
    plan = plan_of(spark, "dedup_containment_pairs")
    assert plan.count("Location: InMemoryFileIndex [file:/root/testdata") == 1
    for join_op in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert join_op not in plan, join_op


def test_dup_ngram_coverage_no_join_single_scan(spark):
    """Duplicate-shingle coverage attaches corpus document-frequency with
    a count WINDOW over the shingle hash, not a join: the plan must scan
    documents once and contain no join operator at all — that linearity
    is what keeps the signal cheap where pairwise scorers need caps."""
    plan = plan_of(spark, "text_dup_ngram_coverage")
    assert plan.count("Location: InMemoryFileIndex [file:/root/testdata") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "Window" in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_lang_rebalance_broadcast_rates_no_corpus_shuffle(spark):
    """Language rebalancing must attach per-language keep rates via a
    BROADCAST join (the rate table is |langs| rows); the corpus itself
    must never be exchanged — the only exchanges feed the tiny count
    aggregation on the build side."""
    plan = plan_of(spark, "docs_lang_rebalance")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # The probe (corpus) side reaches the join without an Exchange:
    # every Exchange in the plan sits under the broadcast build subtree.
    assert "BroadcastExchange" in plan


def test_token_chunks_pure_map_stage(spark):
    """Sequence chunking is a per-document generator over the token
    array: zero joins, zero windows, and no key-hashed exchange — a pure
    map stage that scales with input partitioning.  The only permitted
    Exchange is ``spread()``'s round-robin repartition (parallelism
    seeding for the single-file local fixture; a no-op at scale)."""
    plan = plan_of(spark, "docs_token_chunks")
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct", "Window"):
        assert op not in plan, op
    assert "Generate" in plan


def test_semdedup_pairwise_stays_in_cluster(spark):
    """SemDeDup's pairwise stage must be keyed on the cluster id (hash
    join on cluster equality), never a cartesian of the corpus against
    itself; the keep-list join back must be broadcast."""
    plan = plan_of(spark, "emb_semdedup_keep")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_source_cap_uses_window_group_limit(spark):
    """The per-domain cap's bounded rank window must plan as the
    two-phase WindowGroupLimit (partial top-k per map task BEFORE the
    exchange, final after) — the property that keeps shuffle volume at
    |sources|*k per task instead of the whole corpus."""
    plan = plan_of(spark, "docs_source_cap")
    assert plan.count("WindowGroupLimit") >= 2
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_op not in plan, join_op


def test_asof_tolerance_is_join_free_too(spark):
    """The tolerance-bounded as-of must keep the join-free tagged-union +
    window plan — bounding the lookback is a post-window predicate, not a
    range join (whose candidate set would be quadratic in-window)."""
    plan = plan_of(spark, "evt_asof_tolerance")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "BroadcastNestedLoopJoin",
                    "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "Window" in plan


def test_dynamic_partition_pruning_fires_on_partitioned_tables(spark, tmp_path):
    """At 100 TB the cleanse/consume tables are partition-laid-out
    (year/month/day in the pipeline; status here), and a join against a
    filtered dimension must prune file-source partitions at RUNTIME via
    dynamic partition pruning — the session config has to keep DPP live.
    Pinned so a config or upgrade regression that silently reverts to
    full scans fails here, not in production."""
    from pyspark.sql import functions as F

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    path = str(tmp_path / "orders_part")
    orders.withColumn("status", F.col("o_orderstatus")).write.partitionBy(
        "status"
    ).mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "keep"), ("O", "drop"), ("P", "drop")], "status string, label string"
    )
    joined = (
        fact.join(dim, "status").where(F.col("label") == "keep")
        .groupBy("status").count()
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = joined._jdf.queryExecution().explainString(mode)
    assert "dynamicpruningexpression" in plan.lower()


def test_inverted_index_join_free(spark):
    """Posting construction must attach document frequency with a count
    window over the bigram key, never a join — one scan of documents."""
    plan = plan_of(spark, "text_inverted_index")
    assert plan.count("Location: InMemoryFileIndex [file:/root/testdata") == 1
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "Window" in plan


def test_bm25_takeordered_no_global_sort(spark):
    """BM25 top-k must plan as TakeOrderedAndProject (per-partition top-k
    + merge); corpus scalars ride a broadcast, never a shuffled join."""
    plan = plan_of(spark, "text_bm25_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_substring_runs_expand_in_posting_lists(spark):
    """Exact-substring run detection must expand match points INSIDE the
    per-gram posting lists — never a grams-vs-grams self-join, which
    would re-evaluate the gram pipeline and shuffle it twice.  The only
    joins allowed in the plan are none at all; runs group on the
    (pair, diagonal) key via window + aggregate."""
    plan = plan_of(spark, "dedup_substring_runs")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "Generate" in plan          # in-list pair expansion
    assert "Window" in plan            # gaps-and-islands row_number


def test_corpus_xent_broadcasts_vocab(spark):
    """The vocabulary (Zipf-bounded) must join back to the (doc, token)
    counts BROADCAST, and corpus N must ride a broadcast 1-row cross
    join — the corpus-sized side is never shuffled for either."""
    plan = plan_of(spark, "text_corpus_xent")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # partial aggregation before each exchange (map-side combine)
    assert "partial_sum" in plan or "partial_count" in plan


def test_weighted_sample_uses_window_group_limit(spark):
    """A-ES weighted sampling's per-stratum top-k must ride the two-phase
    WindowGroupLimit rewrite (per-map-task pre-limit before the
    exchange) so shuffled rows are tasks x strata x k, not the corpus."""
    plan = plan_of(spark, "docs_weighted_sample")
    assert plan.count("WindowGroupLimit") >= 2
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_op not in plan, join_op


def test_token_budget_fill_single_exchange(spark):
    """Budget fill is one window keyed on the stratum: exactly one
    shuffle exchange, no joins (the running-total predicate must not
    compile to a self-join)."""
    plan = plan_of(spark, "docs_token_budget_fill")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    # tree section + detail section each mention the exchange once
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_forward_asof_is_join_free(spark):
    """The forward as-of must keep the tagged-union + window plan — no
    join operator anywhere, one user-keyed exchange."""
    plan = plan_of(spark, "evt_asof_next_purchase")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "Window" in plan


def test_gram_matrix_is_join_free_with_partial_agg(spark):
    """X^T X must fan out narrowly (double posexplode of the row's own
    array — never a self-join) and partially aggregate map-side so the
    exchange carries at most tasks x dims² rows."""
    plan = plan_of(spark, "emb_gram_matrix")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin",
                    "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "partial_sum" in plan
    assert plan.count("Generate") >= 2  # the two explode stages


def test_pc1_projection_is_narrow(spark):
    """After the gram aggregation (driver-side eigensolve), the per-vector
    PC1 projection must be a literal-weight map pass: the returned plan
    (projection over the scan) has no exchange at all beyond the spread
    repartition, and no window."""
    plan = plan_of(spark, "emb_pc1_scores")
    assert "Window" not in plan
    assert "HashAggregate" not in plan  # scoring is per-row, not an agg


def test_rate_limit_uses_window_group_limit(spark):
    """The per-key throttle must pre-limit per map task (two-phase
    WindowGroupLimit) — the plan property that bounds a hot key's shuffle
    contribution to k rows per task."""
    plan = plan_of(spark, "evt_rate_limit_first_n")
    assert plan.count("WindowGroupLimit") >= 2


def test_ewma_single_key_exchange(spark):
    """Grouped-map EWMA is one shuffle keyed on the user — no joins, no
    windows, exactly one exchange feeding the Python grouped-map."""
    plan = plan_of(spark, "evt_ewma_applyinpandas")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "FlatMapGroupsInPandas" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1


def test_change_feed_single_window_partitioning(spark):
    """CDC derivation must reuse ONE key-keyed sort/exchange for lag and
    lead (same window spec), and contain no join."""
    plan = plan_of(spark, "scd2_change_feed")
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert join_op not in plan, join_op
    assert "Window" in plan


def test_pq_adc_scores_codes_not_vectors(spark):
    """ADC scoring joins the CODES table against broadcast LUTs; the
    full-precision embedding column may only be read on the query side
    and the re-rank candidate join — never shuffled corpus-wide.  Every
    join in the plan must be broadcast (LUTs, query side) or AQE-sized;
    no corpus-x-corpus sort-merge."""
    plan = plan_of(spark, "ann_pq_adc_rerank")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_classifier_filter_is_shuffle_free(spark):
    """The hashed-linear-model scorer must be a pure map pass: broadcast
    literal weights, no computational shuffle, no join, no Python.  (The
    one allowed exchange is the deliberate round-robin ``spread``
    repartition that parallelizes a single-file scan — never a hash
    partitioning.)"""
    plan = plan_of(spark, "text_classifier_filter")
    assert "hashpartitioning" not in plan.lower()
    for op in ("SortMergeJoin", "BroadcastHashJoin", "FlatMapGroupsInPandas",
               "BatchEvalPython", "ArrowEvalPython"):
        assert op not in plan, op


def test_blocklist_filter_is_shuffle_free(spark):
    """Blocklist flagging is arrays_overlap against a literal — zero
    exchanges, zero joins."""
    plan = plan_of(spark, "text_blocklist_filter")
    assert "Exchange" not in plan
    for op in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert op not in plan, op


def test_quality_ensemble_zero_shuffle_narrow(spark):
    """The five-rule filter cascade must run at scan speed: pure narrow
    array expressions — the only exchange allowed is the deliberate
    round-robin spread of the input (parallelism, not data movement by
    key); no hash shuffle, no join, no window."""
    plan = plan_of(spark, "docs_quality_ensemble")
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "Window" not in plan


def test_doremi_weights_tiny_window_broadcast_vocab(spark):
    """Corpus-sized work stays in the xent pass (broadcast vocab join);
    the unpartitioned normalizing window runs AFTER the per-source
    aggregate — its SinglePartition exchange must sit directly over a
    HashAggregate (one row per domain), never over the corpus scan."""
    plan = plan_of(spark, "docs_doremi_weights")
    assert "BroadcastHashJoin" in plan
    m = re.search(r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: SinglePartition", plan)
    assert m, "no SinglePartition exchange found"
    tree_line = re.search(rf"Exchange \({m.group(1)}\)\n([^\n]*)", plan)
    assert tree_line and "HashAggregate" in tree_line.group(1), tree_line.group(1)


def test_ccnet_buckets_window_partitioned_by_lang(spark):
    """NTILE must partition by language — a global (unpartitioned) sort
    over the corpus would be the non-scale formulation.  (A
    SinglePartition exchange DOES legitimately appear once: the 1-row
    corpus-token-count scalar inside the xent pass.)"""
    plan = plan_of(spark, "docs_ccnet_buckets")
    assert re.search(r"ntile\(3\) windowspecdefinition\(lang", plan), (
        "ntile window is not partitioned by lang"
    )


def test_scd2_pit_join_is_key_based(spark):
    """The temporal join must be driven by the custkey equi-condition
    (hash/sort-merge on the key, interval bounds as residual join
    predicates) — never a cartesian/BNLJ over facts x versions."""
    plan = plan_of(spark, "scd2_point_in_time_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mips_norm_augment_broadcasts_queries_and_scalar(spark):
    """The max-norm scalar and the query set must both arrive broadcast
    (BNLJ fanout over the corpus — the corpus side is scanned once and
    never shuffled on a join key)."""
    plan = plan_of(spark, "ann_mips_norm_augment")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_runtime_bloom_filter_fires_on_shuffle_join(spark):
    """At 100 TB the big fact-fact joins exceed the broadcast threshold;
    Spark's runtime bloom-filter injection (on in our session confs)
    then pre-filters the probe side scan with a bloom built from the
    selective build side.  Broadcast is disabled here to force the
    shuffle-join shape those joins take at scale, and the plan must
    carry the injected might_contain/bloom aggregate pair."""
    from pyspark.sql import functions as F

    scan_thresh = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_scan = spark.conf.get(scan_thresh)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # the probe side must look scan-heavy for the rewrite to pay off; the
    # default gate is 10GB, which test fixtures never reach — zeroing it
    # proves the injection path itself (the size gate is AT-SCALE logic)
    spark.conf.set(scan_thresh, "0")
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
            "l_orderkey", "l_quantity", "o_orderpriority"
        )
        mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
        plan = joined._jdf.queryExecution().explainString(mode).lower()
        assert "might_contain" in plan or "bloomfilter" in plan, (
            "runtime bloom filter was not injected"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.set(scan_thresh, prev_scan)


def test_no_accidental_single_partition_exchanges(spark):
    """Registry-wide invariant: every ``Exchange SinglePartition`` in
    every registered plan must be the final hop of a SCALAR aggregation
    (child = HashAggregate/ObjectHashAggregate partial, i.e. the
    exchange moves one row per upstream partition) — never raw
    corpus-sized rows.  The one allowed exception is the documented
    small-data demo ``window_analytics_deciles`` (global Sort), whose
    scale-safe twin ``window_deciles_scalable`` is the canonical path.
    Also bans CartesianProduct in every registered plan (quadratic at
    scale) in the same planning pass.  Catches the classic silent scale
    killers: an unpartitioned window, global sort, or accidental cross
    join sneaking into a new gate."""
    from aws_insurancelake_etl_spark.queries import all_queries

    ALLOW = {"window_analytics_deciles"}
    # construction-side effects (pipeline writes, streaming starts) are
    # exercised by their own gates; planning them here would execute them
    SKIP_PREFIXES = ("pipeline_", "stream_", "mm_frame", "src_", "sink_",
                     "dq_quarantine", "em_full_flow")
    offenders = {}
    construct_failed = {}
    for name in all_queries():
        if name in ALLOW or name.startswith(SKIP_PREFIXES):
            continue
        try:
            plan = plan_of(spark, name)
        except Exception as exc:  # noqa: BLE001 - recorded, asserted below
            construct_failed[name] = f"{type(exc).__name__}: {exc}"[:120]
            continue
        if "CartesianProduct" in plan:
            offenders.setdefault(name, []).append("CartesianProduct")
        # plan_of uses static formatted explain, so SinglePartition hops
        # always appear as plain Exchange nodes (never ShuffleQueryStage)
        for m in re.finditer(
            r"\((\d+)\) Exchange\nInput[^\n]*\nArguments: SinglePartition",
            plan,
        ):
            op_id = m.group(1)
            tree = re.search(rf"Exchange \({op_id}\)\n([^\n]*)", plan)
            child = tree.group(1) if tree else ""
            if "HashAggregate" not in child and "Aggregate" not in child:
                offenders.setdefault(name, []).append(child.strip())
    # a query whose builder raises is NOT silently exempt: the sweep must
    # cover exactly what it claims to cover
    assert not construct_failed, construct_failed
    assert not offenders, offenders


def test_dv_read_is_anti_join_not_cartesian(spark, tmp_path):
    """Deletion-vector application (round 8): one LEFT ANTI join keyed
    on (file, row_index) — never a cartesian, never a collect of
    positions to the driver; the scan keeps reading only the referenced
    columns plus the constant-folded metadata struct."""
    from pyspark.sql import Row

    from aws_insurancelake_etl_spark.queries.pipeline_ops import (
        add_deletion_vector,
    )
    from aws_insurancelake_etl_spark.sources import delta_lite as dl

    path = str(tmp_path / "dv_plan")
    df = (
        spark.createDataFrame([Row(id=i, v=float(i)) for i in range(20)])
        .select("id", "v").orderBy("id").coalesce(1)
    )
    dl.write_delta(df, path)
    rel = dl.snapshot(path).files[0].path
    add_deletion_vector(spark, path, rel, [0, 5])
    out = dl.read_delta(spark, path)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_capped_fuzzy_windows_primary_only(spark):
    """em_fuzzy_skew_stress: the block cap's row_number window
    partitions the PRIMARY (small) side by block; the incoming side is
    never globally sorted, and the block join is key-based."""
    plan = plan_of(spark, "em_fuzzy_skew_stress")
    assert "row_number" in plan
    assert "CartesianProduct" not in plan
    # no global sort: every Sort node is within-partition (global=false)
    for line in plan.splitlines():
        if "Sort [" in line and "global=true" in line:
            raise AssertionError(f"global sort in capped fuzzy plan: {line}")


def test_scoped_equality_deletes_one_antijoin_per_field_set(spark, tmp_path):
    """Round 9 (PERFORMANCE finding 48): a partitioned CDC delete
    stream applies as ONE anti-join grouped by scope FIELD SET — the
    read plan of a bucket[8]-scoped upsert table must contain exactly
    one LeftAnti for the equality deletes (plus zero cartesians), not
    one per bucket."""
    from pyspark.sql import functions as F

    from aws_insurancelake_etl_spark.sources import iceberg_lite

    df = spark.range(400).select(
        F.col("id").cast("int").alias("id"),
        (F.col("id") % 97).cast("double").alias("v"),
    )
    path = str(tmp_path / "bucketed")
    iceberg_lite.write_iceberg(spark, df, path, partition_by=["bucket(8, id)"])
    src = df.where("id % 3 = 0").withColumn("v", F.lit(-1.0))
    iceberg_lite.upsert_iceberg_equality(spark, src, path, ["id"])
    _, deletes = iceberg_lite.plan_scan(path)
    assert len([d for d in deletes if d.content == 2]) > 1  # several buckets
    out = iceberg_lite.read_iceberg(spark, path)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = out._jdf.queryExecution().explainString(mode)
    # formatted mode prints the join in the tree and again as a
    # numbered "Join type:" detail — count the detail lines
    anti_nodes = re.findall(r"^Join type: LeftAnti", plan, re.M)
    assert len(anti_nodes) == 1, plan[:2000]
    assert "Cartesian" not in plan


def test_iceberg_v3_dv_read_plan_shape(spark):
    """v3 DV application must be the distributed shape: the DV rows
    arrive via mapInPandas (executor-side puffin decode) feeding a
    LEFT ANTI join on (file, pos) — no driver-side position lists, no
    cartesian product, and the v2-era position-delete parquet still
    plans as its own anti-join branch (mixed-form upgrade table)."""
    plan = plan_of(spark, "src_iceberg_v3_dv_read")
    assert plan.count("LeftAnti") >= 2  # DV branch + pos-parquet branch
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan
    assert "CartesianProduct" not in plan
    assert "BatchScan" not in plan or "PushedFilters" in plan


def test_delta_nested_mapping_read_is_jvm_side(spark):
    """The nested logical rebuild must stay in Catalyst expressions
    (struct()/transform()/map_from_arrays over the physical scan) —
    zero Python row processing and one scan, no shuffle."""
    plan = plan_of(spark, "src_delta_nested_mapping")
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "Exchange" not in plan  # pure per-file projection


def test_lakehouse_sql_select_pushdown(spark, tmp_path):
    """The SQL front-end's SELECT rewrite must not cost pushdown: a
    filter + narrow projection over a delta.`path` reference reaches
    the parquet scan (PushedFilters + pruned ReadSchema) exactly as a
    direct read would — the temp view is a plain logical alias."""
    from aws_insurancelake_etl_spark.sources import delta_lite
    from aws_insurancelake_etl_spark.sources.lakehouse_sql import (
        lakehouse_sql,
    )

    path = str(tmp_path / "audit")
    delta_lite.write_delta(
        spark.range(1000).selectExpr(
            "id", "id * 2 AS a", "id * 3 AS b", "CAST(id AS STRING) AS c",
            "id * 5 AS d",
        ),
        path,
    )
    df = lakehouse_sql(
        spark, f"SELECT id, a FROM delta.`{path}` WHERE b > 100"
    )
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    plan = df._jdf.queryExecution().explainString(mode)
    assert "PushedFilters:" in plan and "GreaterThan(b,100)" in plan
    schemas = read_schemas(plan)
    # 5 columns in the table; the scan reads only id, a, b
    assert schemas and max(s.count(":") for s in schemas) <= 3
    assert "Exchange" not in plan
