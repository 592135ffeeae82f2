"""Physical-plan audits: the plans we ship are the plans we want at scale.

Correctness tests prove the small-SF answer; these tests pin the PHYSICAL
properties that decide whether the same query survives a 100x scale-up:

- filters reach the parquet scan (PushedFilters), so a selective query
  reads row groups, not the table;
- column pruning reaches the scan (ReadSchema carries only used columns);
- dimension joins broadcast (no sort-merge exchange of the fact table
  against a kilobyte-sized dimension);
- no accidental CartesianProduct anywhere;
- the hot aggregation path stays inside WholeStageCodegen.

A plan regression (someone drops a broadcast hint, a filter stops being
pushdown-able) fails here long before anyone notices a slow cluster job.
"""

from __future__ import annotations

import pytest

from imposm3_spark import benchqueries as bq

SF_DIR = "/root/testdata/sf0.001"


def _executed_plan(df) -> str:
    # execute THIS DataFrame's queryExecution first (collect, not count —
    # count builds a separate plan): AQE finalizes the physical plan and
    # the WholeStageCodegen annotations only during execution
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized_count(plan: str, marker: str) -> int:
    return plan.count(marker)


@pytest.fixture(scope="module")
def plans(spark):
    """Executed (post-AQE-planning) plans for the audited queries."""
    names = [
        "tpch_q1",
        "tpch_q3",
        "tpch_q5",
        "tpch_q6",
        "tpch_q7_volume",
        "tpch_q10_returns",
        "osm_way_resolve",
        "osm_diff_frontier",
        "doc_text_stats",
        "emb_lsh_topk",
    ]
    return {n: _executed_plan(bq.QUERIES[n](spark, SF_DIR)) for n in names}


def test_q1_filter_pushed_to_scan(plans):
    plan = plans["tpch_q1"]
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan


def test_q1_column_pruning(plans):
    # q1 touches 7 of lineitem's 16 columns; the scan schema must not
    # carry the rest (l_comment, l_partkey, ...)
    plan = plans["tpch_q1"]
    scan = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "l_comment" not in scan
    assert "l_partkey" not in scan
    assert "l_quantity" in scan


def test_q1_wholestage_codegen(plans):
    # codegen'd operators carry the `*(n)` stage prefix in the final plan
    plan = plans["tpch_q1"]
    assert "*(" in plan, f"no WholeStageCodegen stage in:\n{plan}"
    agg = next(ln for ln in plan.splitlines() if "HashAggregate" in ln)
    assert "*(" in agg, f"aggregation not codegen'd: {agg}"


def test_q6_selective_scan(plans):
    plan = plans["tpch_q6"]
    assert "PushedFilters" in plan
    # pure filter+agg: no join operator of any kind
    assert "Join" not in plan


@pytest.mark.parametrize(
    "name", ["tpch_q3", "tpch_q5", "tpch_q7_volume", "tpch_q10_returns"]
)
def test_dim_joins_broadcast(plans, name):
    """Every dimension join must be a broadcast hash join: a sort-merge
    exchange of the fact table against nation/region/customer-sized dims
    is the canonical does-not-survive-scale-up plan."""
    plan = plans[name]
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q1",
        "tpch_q3",
        "tpch_q5",
        "tpch_q6",
        "tpch_q7_volume",
        "tpch_q10_returns",
        "osm_way_resolve",
        "osm_diff_frontier",
        "doc_text_stats",
        "emb_lsh_topk",
    ],
)
def test_no_cartesian_product(plans, name):
    assert "CartesianProduct" not in plans[name]


def test_way_resolve_single_wide_shuffle(plans):
    """J1's exploded-refs aggregation is THE planet-scale shuffle; the
    one-row-per-id fast path must keep the exchange count minimal (explode →
    agg → completeness filter, plus the fixture's own groupBy). A
    regression that reintroduces dropDuplicates or a join-back shows up
    as extra exchanges."""
    n = _optimized_count(plans["osm_way_resolve"], "Exchange hashpartitioning")
    assert n <= 3, f"expected <=3 hash exchanges, got {n}"


def test_diff_frontier_semi_joins_broadcast(plans):
    """The changed-id sets are small by nature (one replication batch);
    they must broadcast into the reverse-ref semi joins."""
    plan = plans["osm_diff_frontier"]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_text_stats_no_shuffle(plans):
    """Per-document text analysis is embarrassingly parallel: any exchange
    in the plan would be a bug (it must run at scan speed at 100 TB)."""
    assert "Exchange" not in plans["doc_text_stats"]


def test_neardup_pairs_distributed_no_driver_collect(spark):
    """The graded emb_neardup path must be fully distributed: the exact
    all-pairs cosine runs as a block-pair grouped matmul (applyInPandas
    after a broadcast grid join), with NO driver-side collect/broadcast of
    the corpus. A `toPandas()` of the embeddings table caps the operator
    at driver memory (~60 GB for 10M x 768 f64) — fatal at 100 TB."""
    import inspect

    from imposm3_spark.datapipe import similarity as sim

    src = inspect.getsource(sim.cosine_neardup_pairs)
    assert "toPandas" not in src and ".collect(" not in src
    plan = _executed_plan(bq.QUERIES["emb_neardup"](spark, SF_DIR))
    # the block-pair kernel is a grouped pandas op; the grid join broadcasts
    assert "FlatMapGroupsInPandas" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_doc_curate_structure(spark):
    """The flagship curation pipeline's physical shape: the curated set is
    checkpointed ONCE (Scan ExistingRDD — without it the quality gate and
    shingling re-evaluate 4x), the representative filter is a broadcast
    ANTI join on the drop list (round 9: dedup_representatives anti-joins
    the non-representative endpoints, which are small by construction —
    the round-2 semi join needed a corpus-wide distinct+union first), no
    cartesian products, and the post-checkpoint stage count stays
    bounded."""
    plan = _executed_plan(bq.QUERIES["doc_curate"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan  # checkpointed curated base, not re-derived
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n <= 6, f"expected <=6 hash exchanges after the checkpoint, got {n}"


def test_q8_dimension_joins_broadcast(spark):
    """The 8-table q8 join tree: every dimension side (part, supplier,
    customer, nation x2, region) must broadcast; the only shuffle join
    allowed is lineitem-orders (fact-fact)."""
    plan = _executed_plan(bq.QUERIES["tpch_q8_share"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 6
    assert plan.count("SortMergeJoin") <= 1


def test_simhash_pairs_band_join_shape(spark):
    """The pigeonhole band join must be an equi-join on (band_idx,
    band_key) — never a cartesian — and the verify stays an expression
    (bit_count), not a UDF re-pass."""
    plan = _executed_plan(bq.QUERIES["doc_simhash_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "bit_count" in plan


def test_lsh_neardup_no_broadcast_of_corpus(spark):
    """The LSH near-dup scale path exists precisely to avoid corpus-sized
    broadcasts: bucket joins shuffle on bucket keys. Small-table broadcast
    of the hot-bucket counts is fine; a cartesian or a driver collect is
    not (code-audited like emb_neardup)."""
    import inspect

    from imposm3_spark.datapipe import similarity as sim

    src = inspect.getsource(sim.lsh_neardup_pairs)
    assert "toPandas" not in src and ".collect(" not in src
    plan = _executed_plan(bq.QUERIES["emb_lsh_neardup"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_decontaminate_broadcasts_benchmark(spark):
    """Decontamination's benchmark shingle set is eval-set-sized; the
    corpus-side check must be a broadcast semi-join, never a shuffle of
    the exploded corpus shingles on the shingle key (corpus-wide text
    shuffle — the thing the design exists to avoid)."""
    plan = _executed_plan(bq.QUERIES["doc_decontaminate"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan
    # allowed exchanges: the (tiny) benchmark-side distinct and the final
    # per-doc count agg — NOT a corpus-side shuffle on the shingle key
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n <= 2, f"corpus shingles must not shuffle; got {n} hash exchanges"


def test_scrub_and_quantize_zero_shuffle(spark):
    """PII scrubbing and int8 quantization are pure projections — any
    exchange would mean they stopped running at scan speed."""
    for q in ("doc_scrub", "emb_quantize"):
        plan = _executed_plan(bq.QUERIES[q](spark, SF_DIR))
        assert "Exchange" not in plan, q


def test_vocab_topk_partial_agg(spark):
    """Vocabulary counting must partial-aggregate map-side (HashAggregate
    before the exchange) so the token shuffle carries distinct tokens per
    partition, not every token occurrence."""
    plan = _executed_plan(bq.QUERIES["doc_vocab_topk"](spark, SF_DIR))
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort


def test_stratified_sample_single_exchange(spark):
    """Deterministic stratified sampling: one exchange on the stratum key
    for the window, nothing else."""
    plan = _executed_plan(bq.QUERIES["doc_sample_stratified"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n == 1, f"expected exactly 1 exchange (stratum window), got {n}"
    assert "CartesianProduct" not in plan


def test_clean_sample_composition_adds_no_shuffles(spark):
    """Composing quality gate -> decontamination -> scrub -> stratified
    sample must keep the component shapes: the only hash exchanges are the
    (tiny) benchmark-shingle distinct, the contaminated-id distinct, and
    the sampling window — the corpus text itself never shuffles."""
    plan = _executed_plan(bq.QUERIES["doc_clean_sample"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n <= 3, f"composition grew extra shuffles: {n}"


def test_chunk_overlap_zero_shuffle(spark):
    """Chunking is a pure expression + posexplode — any exchange means it
    stopped running at scan speed."""
    plan = _executed_plan(bq.QUERIES["doc_chunk_overlap"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_span_dedup_no_span_window(spark):
    """Span dedup must find first occurrences with a map-side-combinable
    aggregation on the span hash — NOT a row_number window partitioned by
    span (which funnels every copy of a hot span through one task's sort).
    Two hash exchanges total: the first-occurrence agg + the final per-doc
    regroup (the occ<->first join reuses the agg-side partitioning)."""
    plan = _executed_plan(bq.QUERIES["doc_span_dedup"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    assert "RunningWindowFunction" not in plan and "Window" not in plan
    assert "partial_min" in plan or plan.count("HashAggregate") >= 2


def test_tfidf_partial_agg_and_doc_window(spark):
    """TF-IDF: the (doc,term) count aggregation partial-aggregates
    map-side (token occurrences collapse before the exchange); the final
    rank is a per-document window, never a cartesian or global sort."""
    plan = _executed_plan(bq.QUERIES["doc_tfidf_topk"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    assert "partial_count" in plan or plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan
    assert "Sort [" in plan  # window sort is per-doc-partition


def test_inverted_index_pairs_only_shuffle(spark):
    """Inverted index: text never crosses the exchange — only the
    (term, doc_id) pairs do, already distinct per document."""
    plan = _executed_plan(bq.QUERIES["doc_inverted_index"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n == 1, f"expected 1 exchange (term group), got {n}"
    # the partial collect_list below the exchange proves the shuffle rows
    # are pre-grouped (term, ids) buffers, not raw text
    assert "partial_collect_list" in plan
    assert "Exchange hashpartitioning(term" in plan


def test_grid_join_queries_no_cartesian_no_span_blowup(spark):
    """The spatial grid join must stay an equi-join on the cell key for
    both the box and polygon variants: a CartesianProduct or a
    BroadcastNestedLoopJoin here means the cell-cover rewrite regressed
    to a cross product."""
    for q in ("osm_spatial_grid_join", "osm_spatial_grid_join_poly"):
        plan = _executed_plan(bq.QUERIES[q](spark, SF_DIR))
        assert "CartesianProduct" not in plan, q
        assert "BroadcastNestedLoopJoin" not in plan, q


def test_session_window_single_exchange(spark):
    """Batch session windows: one hash exchange on the session key; the
    merge runs inside the aggregation, not as an extra shuffle round."""
    plan = _executed_plan(
        bq.QUERIES["events_session_window"](spark, SF_DIR)
    ).split("== Initial Plan ==")[0]
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n <= 2, f"session window grew extra shuffles: {n}"
    assert "CartesianProduct" not in plan


def test_json_props_scan_speed_parse(spark):
    """from_json must stay a projection expression: no UDF eval node, one
    aggregate exchange only."""
    plan = _executed_plan(
        bq.QUERIES["events_json_props"](spark, SF_DIR)
    ).split("== Initial Plan ==")[0]
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n == 1, f"expected 1 exchange (group agg), got {n}"


def test_aqe_skew_join_engages(spark):
    """AQE skew-join splitting must actually fire under skew — the runtime
    defense for mega-way / hot-key joins. Thresholds are lowered so the
    test's skew qualifies; the executed plan must mark the skewed side."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # one hot key carrying ~90% of the rows on the left side
        left = spark.range(0, 30000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("payload-"), F.col("id").cast("string")).alias("p"),
        )
        right = spark.range(0, 2000).select(
            (F.col("id") % 500).alias("k"), F.col("id").alias("v")
        )
        # NOTE: no aggregation on the join key downstream — AQE skips the
        # skew split when the join's output partitioning is reused (the
        # split breaks hash distribution; see forceOptimizeSkewedJoin)
        df = left.join(right, "k")
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert "isFinalPlan=true" in plan
    assert "skew=true" in plan, f"AQE did not mark the skewed join:\n{plan[:2000]}"


def test_temperature_mix_broadcasts_rates(spark):
    """The corpus side of temperature_mix is scan + filter + a BROADCAST
    join of the stratum-sized rate table — no corpus exchange."""
    plan = _executed_plan(bq.QUERIES["doc_mix_temperature"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bloom_decontaminate_is_joinless_filter(spark):
    """The Bloom filter is a BROADCAST BIT ARRAY, not a join: the corpus
    plan must contain no join at all — scan, spread (round-robin input
    repartition ahead of the shingle+md5 kernel, round 11), shingle
    projection, one vectorized membership filter, one per-doc aggregate
    exchange. No KEYED exchange beyond the aggregate may appear."""
    plan = _executed_plan(bq.QUERIES["doc_bloom_decontaminate"](spark, SF_DIR))
    for join in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                 "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join not in plan
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 1  # final groupBy(doc)
    assert final.count("Exchange roundrobinpartitioning") <= 1  # the spread


def test_dsir_broadcasts_bucket_ratios(spark):
    """The 4096-bucket log-ratio table broadcasts back onto the corpus
    feature stream (the full outer join between the two tiny bucket-count
    frames may shuffle — they are n_buckets-sized)."""
    plan = _executed_plan(bq.QUERIES["doc_dsir_weights"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_pq_topk_candidates_carry_codes_only(spark):
    """PQ ADC scans codes, not vectors: the candidate side of the top-k
    join projects (id, codes) — the raw embedding column must not appear
    on the candidate side (only the broadcast query side carries a
    vector)."""
    plan = _executed_plan(bq.QUERIES["emb_pq_topk"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_perplexity_bins_broadcasts_logprobs(spark):
    """The vocab log-prob table broadcasts back onto the token stream (the
    registered query's final plan hides this inside the two-phase-rank
    checkpoint, so audit the nll stage directly); the tercile itself comes
    from the rank machinery — no partitionBy-less Window anywhere."""
    from imposm3_spark.datapipe.text import unigram_nll

    docs = bq._t(spark, SF_DIR, "documents")
    plan = _executed_plan(unigram_nll(docs))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    final = _executed_plan(bq.QUERIES["doc_perplexity_bins"](spark, SF_DIR))
    assert "Window" not in final and "CartesianProduct" not in final


def test_ivfpq_no_cartesian(spark):
    plan = _executed_plan(bq.QUERIES["emb_ivfpq_topk"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_zscore_single_keyed_exchange(spark):
    """Rolling z-score: ONE hash exchange on user_id (the window key) and
    never a global (partitionBy-less) sort — the whole computation rides
    one per-key partitioning."""
    plan = _executed_plan(bq.QUERIES["events_zscore_anomaly"](spark, SF_DIR))
    # AQE prints Final + Initial sections; audit the final one
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in final
    assert "SinglePartition" not in final


def test_cms_scans_source_once(spark):
    """Count-min sketch: the checkpointed per-key count table feeds the
    depth cell aggregates and the final join — the events parquet must be
    scanned exactly once (inside the checkpoint job), not depth+1 times."""
    df = bq.QUERIES["events_cms_heavy"](spark, SF_DIR)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan  # everything reads the checkpoint
    assert "CartesianProduct" not in plan


def test_semdedup_no_corpus_broadcast_no_cartesian(spark):
    """SemDeDup at scale is a cell equi-join; with broadcast disabled the
    plan must stay a shuffle join (no corpus-sized broadcast, no cross
    join) — the non-broadcast regime is the 100 TB shape."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _executed_plan(bq.QUERIES["emb_semdedup"](spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_contamination_score_broadcasts_eval_side(spark):
    """Graded contamination: eval shingles broadcast; the corpus stream
    joins without a corpus-wide shuffle (only the per-doc agg exchanges)."""
    plan = _executed_plan(bq.QUERIES["doc_contamination_score"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_bpe_iterations_read_checkpoint_not_corpus(spark):
    """BPE learning scans the corpus once: the vocab table is collected
    to the driver, so the merge table's own job must contain no parquet
    scan at all."""
    from imposm3_spark.datapipe.bpe import bpe_learn, word_freqs

    docs = bq._t(spark, SF_DIR, "documents")
    vocab_plan = _executed_plan(word_freqs(docs)).split("== Initial Plan ==")[0]
    assert vocab_plan.count("Scan parquet") == 1  # the one corpus scan
    merges = bpe_learn(docs, num_merges=3)
    assert merges.count() == 3  # iterations ran entirely on checkpoints


def test_basket_pairs_broadcast_counts_no_cartesian(spark):
    """Basket pair mining: the per-item count dimension joins broadcast
    onto the pair table; nothing degenerates to a cartesian product."""
    plan = _executed_plan(bq.QUERIES["lineitem_basket_pairs"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert final.count("BroadcastHashJoin") >= 2


def test_kmeans_assignment_is_pure_projection(spark):
    """k-means final assignment: centroids are literal-inlined (driver
    state bounded by k), so the returned plan is a zero-exchange
    projection over the checkpointed quantized cache — no join, no
    shuffle, no cartesian."""
    plan = _executed_plan(bq.QUERIES["emb_kmeans"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Join" not in final
    assert "Exchange" not in final
    assert "Scan parquet" not in final  # reads the quantized checkpoint


def test_gapfill_pushdown_and_keyed_windows(spark):
    """Gap-fill: the user sampling predicate reaches the parquet scan,
    and both running windows ride key partitionings — no global
    (partitionBy-less) sort anywhere."""
    plan = _executed_plan(bq.QUERIES["events_gapfill"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "PushedFilters" in plan and "user_id" in plan.split("PushedFilters")[1][:200]
    assert "Exchange rangepartitioning" not in final
    assert "SinglePartition" not in final
    assert "CartesianProduct" not in plan


def test_pagerank_no_cartesian_keyed_window(spark):
    """PageRank: edge extraction rides one keyed window (no global sort);
    the rank iteration never degenerates to a cartesian product."""
    plan = _executed_plan(bq.QUERIES["events_pagerank"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_ewma_single_keyed_exchange(spark):
    """EWMA: one hash exchange on the key into the Arrow-batched scan —
    no global sort, no extra shuffle after the per-key recursion."""
    plan = _executed_plan(bq.QUERIES["events_ewma"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in final
    assert "SinglePartition" not in final


def test_auc_no_global_sort_single_partition_only_for_final_row(spark):
    """ROC AUC: the corpus collapses to the distinct-score table before
    any ordering; the only SinglePartition exchange is the one-row final
    aggregate, and there is no global (partitionBy-less) window sort."""
    plan = _executed_plan(bq.QUERIES["doc_score_auc"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert final.count("Exchange SinglePartition") <= 1


def test_pca_one_corpus_pass_broadcast_iterations(spark):
    """PCA: the parquet source is scanned once (the Gram pass, collected
    to the driver for the power steps); the returned plan has no
    sort-merge join and no cartesian."""
    plan = _executed_plan(bq.QUERIES["emb_pca_top"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert plan.count("Scan parquet") <= 1
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in plan


def test_fuzzy_pairs_no_cartesian_hash_join_on_variants(spark):
    """Fuzzy join: the deletion-variant equi-join replaces the naive
    cross join — no CartesianProduct / BroadcastNestedLoop anywhere."""
    plan = _executed_plan(bq.QUERIES["cust_fuzzy_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_broadcast_query_takeordered(spark):
    """BM25: the query-term side broadcasts; the top-k is TakeOrdered
    (per-partition heaps), not a global sort exchange."""
    plan = _executed_plan(bq.QUERIES["doc_bm25_topk"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "TakeOrderedAndProject" in final
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_ppjoin_no_cartesian_equi_join_on_tokens(spark):
    """PPJoin: the prefix filter turns the quadratic similarity join
    into token/doc-keyed equi-joins — no CartesianProduct and no
    BroadcastNestedLoopJoin may appear anywhere in the plan."""
    plan = _executed_plan(bq.QUERIES["doc_ppjoin"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_substring_dedup_no_cartesian_keyed_windows_only(spark):
    """ExactSubstr spans: gram multiplicity is a keyed aggregation and
    the island merge a doc-keyed window — no global sort, no cartesian,
    no single-partition exchange."""
    plan = _executed_plan(bq.QUERIES["doc_substring_dedup"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "SinglePartition" not in final
    assert "Exchange rangepartitioning" not in final


def test_scd2_join_binned_equi_join(spark):
    """Temporal dimension join: the month-binned range join must plan as
    an equi-join (hash or sort-merge on key+month), never a
    BroadcastNestedLoopJoin over the raw interval predicate; the one-row
    month cap is the only nested-loop-free broadcast."""
    plan = _executed_plan(bq.QUERIES["events_scd2_join"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    final = plan.split("== Initial Plan ==")[0]
    # the fact-to-interval join itself is an equi-join
    assert ("BroadcastHashJoin" in final) or ("SortMergeJoin" in final)


def test_skyline_no_quadratic_stage(spark):
    """Skyline: the two-phase exclusive cummax replaces the O(n^2)
    NOT EXISTS — no cartesian/nested-loop join, and the only range
    exchange is the price-level repartition (level table, not the
    fact table)."""
    plan = _executed_plan(bq.QUERIES["lineitem_skyline"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_cusum_single_keyed_exchange(spark):
    """CUSUM: cumulative sum, row number, and per-key totals share ONE
    hash exchange on event_type; no global sort anywhere."""
    plan = _executed_plan(bq.QUERIES["events_cusum"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_cosine_pairs_inverted_index_join(spark):
    """BoW cosine join: candidates come from the token equi-join — no
    cartesian/nested-loop; the pair aggregation is a hash aggregate."""
    plan = _executed_plan(bq.QUERIES["doc_cosine_pairs"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_pairs_keyed_window_equi_join(spark):
    """Winnowing: fingerprint selection is a doc-keyed window (no global
    sort) and the pair stage an equi-join on the fingerprint."""
    plan = _executed_plan(bq.QUERIES["doc_winnow_pairs"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final
    assert "SinglePartition" not in final


def test_entropy_single_exchange_pivoted(spark):
    """Entropy: the category dimension is pivoted into conditional
    counts inside ONE keyed aggregation — a single hash exchange, no
    second shuffle for the categories."""
    plan = _executed_plan(bq.QUERIES["events_entropy"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_autocorr_hour_sized_join(spark):
    """Autocorrelation: the lag join runs on the hour-aggregated table
    (not raw events) — no cartesian, no global sort."""
    plan = _executed_plan(bq.QUERIES["events_autocorr"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_ols2_single_exchange_scan_speed(spark):
    """Two-feature OLS: nine sufficient statistics in ONE map-side-
    combinable aggregation — a single hash exchange on the key, the
    Cramer expressions folded as projections (no second pass)."""
    plan = _executed_plan(bq.QUERIES["events_ols2"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_user_paths_keyed_window_takeordered(spark):
    """Path mining: the rank window shuffles on user once; the top-n is
    TakeOrdered (per-partition heaps), never a global sort."""
    plan = _executed_plan(bq.QUERIES["events_user_paths"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in final
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_attribution_single_keyed_window(spark):
    """Attribution: one user-keyed exchange feeds the last-touch window;
    the channel rollup is map-side combinable on a 6-value key space."""
    plan = _executed_plan(bq.QUERIES["events_attribution"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_cadence_shared_key_exchange(spark):
    """Cadence: the lag window and the gap aggregation ride the same
    user-keyed partitioning — Spark reuses the exchange."""
    plan = _executed_plan(bq.QUERIES["events_bot_cadence"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_cdc_chunks_zero_shuffle(spark):
    """CDC chunking: boundary detection, span assembly and the chunk
    explode are pure JVM expressions — no KEYED exchange in the per-chunk
    table. The one allowed round-robin exchange is the round-11 spread
    (the boundary filter is an interpreted per-character md5 lambda; at
    scan parallelism a sub-split corpus ran it on ONE task — A/B 3.19 s
    -> 0.46 s at sf0.1)."""
    plan = _executed_plan(bq.QUERIES["doc_cdc_chunks"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange hashpartitioning" not in final
    assert "Exchange rangepartitioning" not in final
    assert final.count("Exchange roundrobinpartitioning") <= 1  # the spread
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cdc_dedup_one_hash_aggregate(spark):
    """Shared-chunk report: one hash exchange on chunk_hash (countDistinct
    expands to a two-phase aggregate on the same key)."""
    plan = _executed_plan(bq.QUERIES["doc_cdc_dedup"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") <= 2
    assert "Exchange rangepartitioning" not in final


def test_hard_negatives_broadcast_query_side(spark):
    """Hard negatives: the query side broadcasts; the label filter runs
    inside the scan stage before the rank window."""
    plan = _executed_plan(bq.QUERIES["emb_hard_negatives"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan.split("== Initial Plan ==")[0]


def test_ngram_diversity_no_global_sort(spark):
    """Diversity: two explode+aggregate streams joined on the tiny group
    key — no range partitioning, no cartesian."""
    plan = _executed_plan(bq.QUERIES["doc_ngram_diversity"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_interval_overlap_binned_equi_join(spark):
    """Interval overlap: the join is a (key, month) hash equi-join with
    the bound filters as post-conditions — not a nested loop."""
    plan = _executed_plan(bq.QUERIES["events_interval_overlap"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mg_sketch_not_stream_crosses_wire(spark):
    """Misra-Gries: the mapInPandas summary runs before any exchange —
    only O(k)-sized summaries shuffle, never the keyed stream."""
    plan = _executed_plan(bq.QUERIES["events_mg_heavy"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    # the mapInPandas summary is localCheckpointed (computed ONCE) and
    # enters this plan as an RDD scan of the O(k)-sized summary rows
    assert "Scan ExistingRDD[digit" in plan
    assert "CartesianProduct" not in plan
    # the summary aggregation and exact-count aggregation both hash; the
    # two 1-row side inputs broadcast
    assert final.count("BroadcastExchange") >= 2


def test_holt_single_keyed_exchange_arrow_scan(spark):
    """Holt: one exchange on the key into the Arrow-batched per-key
    scan (FlatMapGroupsInPandas) — the ewma execution shape."""
    plan = _executed_plan(bq.QUERIES["events_holt"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "FlatMapGroupsInPandas" in plan
    assert final.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in final


def test_containment_prefix_equi_join_no_quadratic(spark):
    """Containment join: candidates come from the prefix-token equi-join
    — no cartesian/nested-loop stage anywhere."""
    plan = _executed_plan(bq.QUERIES["doc_containment"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_funnel_window_one_key_partitioning(spark):
    """Time-bound funnel: the three conditional-min aggregations and the
    chaining joins all ride the user-id hash partitioning; no global
    sort, no cartesian."""
    plan = _executed_plan(bq.QUERIES["events_funnel_window"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_wau_activity_table_explode(spark):
    """WAU: the 7x explode fans out the DEDUPLICATED activity table, not
    raw events, and the per-day aggregation is map-side combinable."""
    plan = _executed_plan(bq.QUERIES["events_wau"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final
    # the 1-row max-day cap broadcasts
    assert "BroadcastExchange" in final


def test_drift_dim_sized_rows_never_vectors(spark):
    """Centroid drift: after the posexplode the shuffle carries
    (label, pos) partial sums — dim-sized rows, never vectors; two scans
    (one per slice), one dim-keyed join, one label-sized aggregate."""
    plan = _executed_plan(bq.QUERIES["emb_drift"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_pareto_no_single_task_window(spark):
    """Pareto curve: global ranking is the two-phase primitive (RDD scan
    of the checkpointed range partitioning); NO single-partition window
    and no rangepartitioning exchange beyond the primitive's own."""
    plan = _executed_plan(bq.QUERIES["orders_pareto"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "CartesianProduct" not in plan


def test_dedup_report_rides_cluster_backbone(spark):
    """Dedup report: two tiny aggregations on top of the connected-
    components output — no new quadratic stage, no global sort."""
    plan = _executed_plan(bq.QUERIES["doc_dedup_report"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_seq_pairs_interval_reduction(spark):
    """Sequence support: the self-join runs on the per-(key, type)
    interval table — never on raw event pairs; no cartesian."""
    plan = _executed_plan(bq.QUERIES["events_seq_pairs"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_distinctive_terms_broadcast_totals(spark):
    """Distinctive terms: group totals and corpus totals broadcast onto
    the vocabulary stream; the top-n is a grp-keyed window."""
    plan = _executed_plan(bq.QUERIES["doc_distinctive_terms"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastExchange" in final
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_profile_single_unpivoted_scan(spark):
    """Profiling card: ONE parquet scan feeds the unpivoted stream — a
    per-column replay (6 scans) would multiply I/O at 100 TB."""
    plan = _executed_plan(bq.QUERIES["orders_profile"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_ood_broadcast_centroid_sums(spark):
    """OOD scores: the dim-sized (label, pos) sum table broadcasts back
    onto the exploded corpus; top-n is TakeOrdered."""
    plan = _executed_plan(bq.QUERIES["emb_ood"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "TakeOrderedAndProject" in final
    assert "CartesianProduct" not in plan


def test_pmi_linear_pair_construction(spark):
    """PMI: pairs come from the (doc, pos+d) equi-join — the linear
    construction; a join on doc alone (per-doc quadratic) or a cartesian
    would show here."""
    plan = _executed_plan(bq.QUERIES["doc_pmi_pairs"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    # the pair construction itself is a hash equi-join on (doc, pos+d);
    # the only nested-loop joins are the two 1-row totals broadcasts
    assert final.count("BroadcastNestedLoopJoin") <= 2
    assert "BroadcastHashJoin" in final or "SortMergeJoin" in final


def test_join_size_no_join_executed(spark):
    """Join-size profile: the quadratic join never runs — the plan is
    count-aggregate + broadcast total + TakeOrdered, zero join of the
    base table against itself."""
    plan = _executed_plan(bq.QUERIES["lineitem_join_size"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "SortMergeJoin" not in final
    assert "TakeOrderedAndProject" in final


def test_kfold_keyed_window_only(spark):
    """k-fold: one stratum-keyed rank window — no global sort."""
    plan = _executed_plan(bq.QUERIES["doc_kfold"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange rangepartitioning" not in final
    assert final.count("Exchange hashpartitioning") == 1


def test_backlog_interval_explode_shape(spark):
    """Backlog: the day explode fans out the order-interval table (one
    row per order), not lineitem; per-day aggregation map-side combines."""
    plan = _executed_plan(bq.QUERIES["orders_backlog"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_ab_test_single_aggregation(spark):
    """A/B readout: one map-side-combinable aggregation — a single hash
    exchange on the group key, everything else expressions."""
    plan = _executed_plan(bq.QUERIES["events_ab_test"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "CartesianProduct" not in plan


def test_make_batches_composition_shape(spark):
    """Composed batch construction: the quality gate stays expressions,
    dedup is one hash-keyed aggregation, packing one bucket-keyed window
    — composition adds no global sort and no cartesian."""
    plan = _executed_plan(bq.QUERIES["doc_make_batches"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final
    assert "SinglePartition" not in final


def test_mips_broadcast_query(spark):
    """MIPS: broadcast query side, no sort-merge of the corpus."""
    plan = _executed_plan(bq.QUERIES["emb_mips_topk"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in final or "BroadcastExchange" in final
    assert "SortMergeJoin" not in final


def test_cohort_ltv_cell_sized_cumulative(spark):
    """LTV triangle: the cumulative runs on the checkpointed CELL table
    (Scan ExistingRDD), not the orders stream; no global sort."""
    plan = _executed_plan(bq.QUERIES["orders_cohort_ltv"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" in final
    assert "Exchange rangepartitioning" not in final
    assert "Window" not in final


def test_pq_recall_no_new_shuffles(spark):
    """PQ recall eval: composition of the PQ scan and the exact L2
    baseline — no cartesian beyond the broadcast query cross join."""
    plan = _executed_plan(bq.QUERIES["emb_pq_recall"](spark, SF_DIR))
    assert "CartesianProduct" not in plan


def test_hamming_packed_bigint_distance(spark):
    """Binary quantization: the candidate distance is bit_count(xor) on
    packed BIGINTs — the plan must carry the xor/bit_count expression,
    not a 64-element array comparison, on the ranking path."""
    plan = _executed_plan(bq.QUERIES["emb_hamming_recall"](spark, SF_DIR))
    assert "bit_count" in plan
    assert "CartesianProduct" not in plan


def test_peaks_single_keyed_window(spark):
    """Peak detection: lag/lead share one type-keyed window over the
    hour-aggregated series — no global sort."""
    plan = _executed_plan(bq.QUERIES["events_peaks"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange rangepartitioning" not in final
    assert final.count("Exchange hashpartitioning") <= 2


def test_percent_rank_two_phase_no_window(spark):
    """Global percent_rank rides the two-phase primitive: the executed
    plan carries the checkpointed range partitioning as an RDD scan and
    NO window operator."""
    plan = _executed_plan(bq.QUERIES["orders_percent_rank"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "ExistingRDD" in final


def test_source_similarity_token_equi_join(spark):
    """Source similarity: candidates from the token equi-join — no
    source x source cross join; size tables broadcast."""
    plan = _executed_plan(bq.QUERIES["doc_source_similarity"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in final


def test_heatmap_single_agg_broadcast_totals(spark):
    """Heatmap: one aggregation on the (type, dow, hour) key; type
    totals broadcast back."""
    plan = _executed_plan(bq.QUERIES["events_heatmap"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final
    assert "Exchange rangepartitioning" not in final


def test_weighted_median_level_table_window(spark):
    """Weighted median: the cumulative window runs on the price-LEVEL
    table (post-aggregation), never raw lineitem rows."""
    plan = _executed_plan(bq.QUERIES["lineitem_weighted_median"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_priority_drift_single_agg(spark):
    """Categorical drift: one aggregation + a 1-row totals broadcast."""
    plan = _executed_plan(bq.QUERIES["orders_priority_drift"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "CartesianProduct" not in plan


def test_growth_accounting_activity_table_joins(spark):
    """Growth accounting: all self-joins run on the checkpointed
    deduplicated activity table (RDD scan), not raw events."""
    plan = _executed_plan(bq.QUERIES["events_growth_accounting"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" in final
    assert "CartesianProduct" not in plan


def test_lsh_pr_single_plan_full_outer(spark):
    """LSH precision/recall (round-10 shape): ONE plan — the cand and
    truth pair sets meet in a full-outer join and all three counters
    come from a single aggregation, so each side's pipeline appears
    exactly once (no lazy pins, which under AQE executed the two
    pipelines serially at build). The only checkpointed frame left is
    ppjoin's internal multi-branch shingle-set pin."""
    plan = _executed_plan(bq.QUERIES["doc_lsh_pr"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "FullOuter" in final
    # each pipeline once: one banding Generate (minhash) feeding the join
    assert "CartesianProduct" not in plan


def test_cuped_per_key_table_rollups(spark):
    """CUPED: one keyed aggregation to the per-key table (checkpointed),
    then tiny pooled/variant rollups with a broadcast combine."""
    plan = _executed_plan(bq.QUERIES["events_cuped"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" in final
    assert "Exchange rangepartitioning" not in final


def test_hazard_histogram_sized_risk(spark):
    """Hazard curve: the at-risk suffix count runs on the day HISTOGRAM
    (broadcast), never the user-sized offset table; the offset table
    itself is checkpointed once."""
    plan = _executed_plan(bq.QUERIES["events_hazard"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" in final
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final


def test_ball_query_scan_filter_no_heap(spark):
    """Ball query: a broadcast scan filter — no window/rank operator at
    all (the result is data-dependent, not top-k)."""
    plan = _executed_plan(bq.QUERIES["emb_ball_query"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Window" not in final
    assert "BroadcastNestedLoopJoin" in final or "BroadcastExchange" in final


def test_hhi_single_pass_decimal(spark):
    """HHI: one scan, two aggregations (supplier rollup + decimal
    moments), zero joins."""
    plan = _executed_plan(bq.QUERIES["supplier_hhi"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FileScan parquet") == 1
    assert "Join" not in final


def test_mmr_no_driver_collect_bounded_stages(spark):
    """MMR: the greedy chain is DataFrame stages over checkpointed
    candidate sets (RDD scans) — no cartesian, no global sort."""
    plan = _executed_plan(bq.QUERIES["emb_mmr_select"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" in final
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in final


def test_churn_labels_single_pass_no_join(spark):
    """Leakage-safe label construction is ONE aggregation over ONE scan —
    the feature/label window split is a predicate, never a self-join."""
    plan = _executed_plan(bq.QUERIES["orders_churn_labels"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "Join" not in final
    assert final.count("Scan parquet") == 1
    assert "partial" in final.lower()  # map-side combine on the key agg


def test_ks_test_pushdown_and_no_single_task_window(spark):
    """KS: the two-group filter reaches the parquet scan, and the global
    cumulative sums come from the two-phase primitive — the executed plan
    contains NO window operator at all."""
    plan = _executed_plan(bq.QUERIES["events_ks_test"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "PushedFilters" in plan
    assert "event_type" in plan.split("PushedFilters")[1][:300]
    assert "Window" not in final
    assert "CartesianProduct" not in plan


def test_kcore_no_cartesian_and_partial_degrees(spark):
    """k-core peeling: every round is degree-count + semi-joins — no
    cartesian anywhere, degree counts combine map-side."""
    plan = _executed_plan(bq.QUERIES["events_kcore"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "partial_count" in final or "partial" in final.lower()


def test_collocation_broadcasts_total_not_fact(spark):
    """LLR collocations: the 1-row grand total broadcasts onto the pair
    table; the pair table itself never broadcasts or cartesians."""
    plan = _executed_plan(bq.QUERIES["doc_collocation_llr"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final
    # top-n is a TakeOrdered, not a global sort
    assert "TakeOrderedAndProject" in final


def test_mutual_info_two_aggregations_one_scan(spark):
    """MI: pivoted category counts -> one keyed agg over one scan, the
    global rollup broadcast back — no shuffle of the fact table twice."""
    plan = _executed_plan(bq.QUERIES["events_mutual_info"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1
    assert "CartesianProduct" not in plan


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """100 TB lever: with a selective dimension filter on a shuffle join,
    Spark's runtime bloom filter (injected from the filtered creation
    side) must appear on the fact-side scan path — at cluster scale this
    drops most fact rows BEFORE the exchange. Local data sits under the
    default 10GB application-side threshold, so the test lowers it to
    exercise the very rewrite production would apply."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = _executed_plan(j)
        assert "might_contain" in plan.lower()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q2_struct_min_partial_agg(spark):
    """tpch_q2_mincost (round-6 exactified): the lexicographic struct-min
    that carries the exact (cost_cents, cost_qty) pair must still be a
    partial-aggregable hash aggregate over lineitem (map-side combine
    before the (partkey, suppkey) shuffle), with no cartesian product."""
    plan = _executed_plan(bq.QUERIES["tpch_q2_mincost"](spark, SF_DIR))
    assert "partial_min" in plan
    assert "CartesianProduct" not in plan


def test_step_major_scan_single_keyed_exchange(spark):
    """events_ewma (round-6 vectorized): the bucketed step-major scan
    must stay ONE keyed exchange into one Python groups stage — the
    bucketing must not add a second shuffle, and no global sort may
    appear (ordering happens inside the numpy kernel)."""
    plan = _executed_plan(bq.QUERIES["events_ewma"](spark, SF_DIR))
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("FlatMapGroupsInPandas") == 1
    assert "Exchange rangepartitioning" not in final
    assert "CartesianProduct" not in plan


def test_sampled_eval_filter_before_pair_stages(spark):
    """doc_lsh_pr_sampled: the deterministic md5-bucket sample must
    filter documents BEFORE the shingle explode / pair joins (the whole
    point is shrinking the quadratic stages), and the eval keeps the
    no-cartesian property of the unsampled form."""
    df = bq.QUERIES["doc_lsh_pr_sampled"](spark, SF_DIR)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    plan = _executed_plan(df)
    # the sample predicate (conv(substring(md5(...))) % 2 = 0) survives
    # into the optimized plan as a Filter (Catalyst even pushes it
    # through the pair joins onto both join sides)
    assert "md5" in optimized and "% 2) = 0)" in optimized
    assert "CartesianProduct" not in plan


def test_sampled_knn_filter_below_matmul(spark):
    """emb_knn_graph_sampled / emb_neardup_clusters_sampled (round 7):
    the md5-bucket sample predicate must filter embeddings BEFORE the
    block-pair matmul fans out pairs (the point is 4x fewer pairs), and
    the sampled forms keep the no-cartesian property. The filter sits
    below the pair stage iff it survives into the optimized plan (the
    matmul is an applyInPandas over blocked rows, so any Filter in the
    plan necessarily precedes it)."""
    for name in ("emb_knn_graph_sampled", "emb_neardup_clusters_sampled"):
        df = bq.QUERIES[name](spark, SF_DIR)
        optimized = df._jdf.queryExecution().optimizedPlan().toString()
        plan = _executed_plan(df)
        assert "md5" in optimized and "% 2) = 0)" in optimized, name
        assert "CartesianProduct" not in plan, name


def test_engine_way_paths_use_xy_udfs(spark):
    """The import sink's densest UDF inputs (way linestring/polygon build)
    must ride the xs/ys Arrow fast lane: the struct-input reference UDFs
    (linestring_wkb_udf, polygon_valid_wkb_area_udf, _polygon_clip_udf's
    `clip`) are kept as reference implementations but NO engine-emitted
    plan may call them — a regression here reintroduces a Python dict per
    coordinate at the Arrow boundary (round-7 measured ~9x on the encode
    stage)."""
    import json

    from imposm3_spark.geom.clip import Limiter
    from imposm3_spark.mapping.config import load_mapping_str
    from imposm3_spark.pipeline.engine import ImportPipeline
    from imposm3_spark.sources.geojson import load_geojson
    from imposm3_spark.sources.osm_xml import NODE_SCHEMA, WAY_SCHEMA

    mapping = load_mapping_str(
        json.dumps(
            {
                "tables": {
                    "roads": {
                        "type": "linestring",
                        "mapping": {"highway": ["path"]},
                        "columns": [
                            {"name": "osm_id", "type": "id"},
                            {"name": "geometry", "type": "geometry"},
                        ],
                    },
                    "landuse": {
                        "type": "polygon",
                        "mapping": {"landuse": ["park"]},
                        "columns": [
                            {"name": "osm_id", "type": "id"},
                            {"name": "geometry", "type": "geometry"},
                        ],
                    },
                }
            }
        ),
        fmt="json",
    )
    nodes = spark.createDataFrame(
        [
            (30, 0.1, 0.1, {}, None),
            (31, 0.2, 0.1, {}, None),
            (32, 0.2, 0.2, {}, None),
            (33, 0.1, 0.2, {}, None),
        ],
        NODE_SCHEMA,
    )
    ways = spark.createDataFrame(
        [
            (100, [30, 31, 32], {"highway": "path"}, None),
            (200, [30, 31, 32, 33, 30], {"landuse": "park"}, None),
        ],
        WAY_SCHEMA,
    )

    banned = ("linestring_wkb_udf(", "polygon_valid_wkb_area_udf(", "clip(")
    required_by_table = {
        "roads": "_linestring_wkb_xy_udf(",
        "landuse": "_polygon_valid_wkb_area_xy_udf(",
    }

    # default (unlimited) branch
    pipe = ImportPipeline(mapping, srid=3857)
    coords = pipe.prepare_coords(nodes)
    for name, df in pipe.way_tables(ways, coords).items():
        plan = _executed_plan(df)
        for b in banned:
            assert b not in plan, f"{name}: struct-input UDF {b} in plan"
        assert required_by_table[name] in plan, name

    # limiter branch: polygon cut uses clip_xy, line clip uses
    # clip_line_xy (both sides of the Python boundary are float64 arrays)
    import tempfile

    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {},
                "geometry": {
                    "type": "Polygon",
                    "coordinates": [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                },
            }
        ],
    }
    with tempfile.NamedTemporaryFile("w", suffix=".geojson", delete=False) as f:
        json.dump(gj, f)
        path = f.name
    limiter = Limiter(load_geojson(path, transform=3857))
    lpipe = ImportPipeline(mapping, srid=3857, limiter=limiter)
    lplans = {
        name: _executed_plan(df)
        for name, df in lpipe.way_tables(ways, lpipe.prepare_coords(nodes)).items()
    }
    for name, plan in lplans.items():
        for b in banned:
            assert b not in plan, f"{name}: struct-input UDF {b} in limiter plan"
    assert "clip_xy(" in lplans["landuse"]
    # clipped-line parts travel as xs/ys arrays end-to-end: xy clip UDF
    # feeding the xy linestring encoder, no struct re-split between them
    assert "clip_line_xy(" in lplans["roads"]
    assert "_linestring_wkb_xy_udf(" in lplans["roads"]


def test_minhash_pairs_single_fold_under_generate(spark):
    """Round-9 regression pin for the MinHash rewrite: the banding Generate
    (posexplode) input must hold exactly ONE aggregate fold. Runtime
    subexpression elimination covers repeated aggregate references in a
    plain Project but NOT in a Generate input — with per-band key columns
    the fold (shingle + md5 + struct mins) re-ran once per band, measured
    24 s vs 4.4 s warm at sf0.1x64. The finish-lambda shape keeps one
    occurrence structurally, independent of CSE."""
    plan = _executed_plan(bq.QUERIES["doc_minhash_pairs"](spark, SF_DIR)).split(
        "== Initial Plan =="
    )[0]
    assert _optimized_count(plan, "aggregate(") == 1, plan[:2000]
    # exactly two shuffles: the banding groupBy and the final distinct —
    # the round-2 signature-materializing exchange is gone
    n = _optimized_count(plan, "Exchange hashpartitioning")
    assert n == 2, f"expected 2 hash exchanges (banding + distinct), got {n}"
    assert "CartesianProduct" not in plan


def test_dedup_representatives_broadcast_anti_join(spark):
    """dedup_representatives must be ONE broadcast anti join against the
    (small by construction) non-representative drop list — no corpus-wide
    distinct, no union of singleton labels, no semi-join round trip (the
    round-2 shape paid three extra exchanges of corpus-sized id sets)."""
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe.cluster import dedup_representatives

    df = spark.range(1000).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    out = dedup_representatives(df, pairs, "doc_id", pair_a="id_a", pair_b="id_b")
    assert sorted(r[0] for r in out.collect())[:4] == [0, 1, 4, 5]
    plan = out._jdf.queryExecution().executedPlan().toString().split(
        "== Initial Plan =="
    )[0]
    assert "LeftAnti" in plan
    # the drop list must actually broadcast — a SortMergeJoin here would
    # shuffle the corpus on id (the vacuous-or form this replaced passed
    # even when broadcast degraded)
    assert "BroadcastHashJoin" in plan, plan[:1500]
    assert "BroadcastNestedLoop" not in plan, plan[:1500]
    # the corpus side must not be shuffled or distinct'd
    assert _optimized_count(plan, "Exchange hashpartitioning") == 0, plan[:1500]


def test_eval_once_guard_keeps_other_pushdown(spark, tmp_path):
    """eval_once (datapipe/text.py; diff/update.py's expiry match guard)
    bars only its own expression from moving: a raw-column filter written
    before the guarded projection still reaches the parquet scan, while a
    filter on the guarded alias stays in a Filter above the Project.
    Plan-only: no job runs."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from imposm3_spark.datapipe.text import eval_once

    path = str(tmp_path / "docs.parquet")
    pq.write_table(pa.table({"doc_id": list(range(10)), "text": [f"doc {i} " * i for i in range(10)]}), path)
    df = (
        spark.read.schema("doc_id long, text string").parquet(path)
        .filter(F.col("doc_id") > 1)
        .withColumn("quality", eval_once(F.length("text")))
        .filter(F.col("quality") > 3)
    )
    qe = df._jdf.queryExecution()
    top = qe.optimizedPlan()
    assert top.nodeName() == "Filter" and "quality#" in top.condition().toString()
    assert top.child().nodeName() == "Project"
    scan = [line for line in qe.executedPlan().toString().splitlines() if "FileScan" in line]
    assert len(scan) == 1
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,1)]" in scan[0]
