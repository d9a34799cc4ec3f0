"""Physical-plan assertions: the 100 TB posture, checked per commit.

Correctness tests prove the WHAT; these prove the HOW — filters reach
the scan, dims broadcast, top-k never funnels through one partition,
aggregation is partial. A regression here is invisible at sf0.01 and
fatal at 100 TB, which is exactly why it gets its own suite.
"""

from __future__ import annotations

from sparksync.queries import QUERIES
from sparksync.source import load_table

from .conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_filter_pushed_and_columns_pruned(spark):
    plan = plan_of(QUERIES["q01_pricing_summary"](spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # 6 needed columns, not all 11 (ReadSchema renders truncated, so
    # assert the leading needed column and the absence of unneeded ones)
    rs = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert rs.startswith("struct<l_quantity")
    for col in ("l_orderkey", "l_partkey", "l_suppkey"):
        assert col not in rs, rs
    assert "HashAggregate" in plan  # partial+final, not sort-based


def test_dim_joins_broadcast(spark):
    for q in ("q16_shipping_priority", "q17_local_supplier"):
        plan = plan_of(QUERIES[q](spark, SF_SMOKE))
        assert "BroadcastHashJoin" in plan, q
        assert "SortMergeJoin" not in plan, q


def test_topk_is_take_ordered(spark):
    for q in (
        "q22_knn_cosine",
        "q31_embedding_neardup",
        "q55_boilerplate_ngrams",
        "q79_centroid_outliers",
    ):
        plan = plan_of(QUERIES[q](spark, SF_SMOKE))
        assert "TakeOrderedAndProject" in plan, q


def test_no_single_partition_exchange_in_scale_paths(spark):
    """The scale-path operators must never plan Exchange SinglePartition
    (q03's pagination window is the documented exception)."""
    for q in (
        "q18_dedup_exact",
        "q20_dedup_minhash",
        "q36_simhash_pairs",
        "q24_lang_id",
        "q29_sessionize",
        "q37_range_join",
        "q45_running_total",
        "q77_rarity_score",
        "q78_budget_mix",
    ):
        plan = plan_of(QUERIES[q](spark, SF_SMOKE))
        assert "SinglePartition" not in plan, q


def test_simhash_has_no_shuffle(spark):
    from sparksync.ext import dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = plan_of(dedup.simhash(docs))
    assert "Exchange" not in plan, plan


def test_sampling_is_narrow(spark):
    from sparksync.ext import sampling

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = plan_of(sampling.split_assign(docs, "doc_id"))
    assert "Exchange" not in plan
    plan2 = plan_of(
        sampling.stratified_sample(docs, "lang", {"en": 0.5}, "doc_id")
    )
    assert "Exchange" not in plan2


def test_contamination_broadcasts_only_the_eval_set(spark):
    """contamination_flags must hint broadcast ONLY for the benchmark
    shingle set (genuinely small); the per-doc overlap aggregate is
    data-dependent (one row per contaminated doc) and must NOT carry a
    broadcast hint — at 100 TB it can approach corpus size."""
    from sparksync.ext import textops

    docs = load_table(spark, SF_SMOKE, "documents")
    bench = docs.limit(5)
    df = textops.contamination_flags(docs, bench)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("UnresolvedHint broadcast") + analyzed.count(
        "ResolvedHint (strategy=broadcast)"
    ) == 1, analyzed


def test_events_scan_prunes_columns(spark):
    e = load_table(spark, SF_SMOKE, "events").select("event_id")
    rs = plan_of(e).split("ReadSchema: ")[1].split("\n")[0]
    assert "props" not in rs and "event_type" not in rs, rs


def test_temperature_sample_broadcasts_rates(spark):
    """temperature_sample's rates side (a per-stratum aggregate, at most
    |strata| rows) must broadcast; the corpus spine must not shuffle for
    the join. Static plan — AQE small-size promotions don't count."""
    from sparksync.ext import sampling

    docs = load_table(spark, SF_SMOKE, "documents")
    df = sampling.temperature_sample(docs, "lang", "doc_id")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_vocab_topk_two_phase_windows(spark):
    """vocab_topk must plan BOTH window phases (salted pre-rank + final
    per-lang rank): a single per-lang window would sort a whole
    language's vocabulary in one task."""
    from sparksync.ext import textops

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = docs.transform(lambda d: textops.vocab_topk(d, k=3))._jdf \
        .queryExecution().sparkPlan().toString()
    assert plan.count("RunningWindowFunction") + plan.count("Window") >= 2
    assert "SinglePartition" not in plan


def test_hamming_pairs_no_cartesian(spark):
    """hamming_pairs candidates come from the banded equi-join — never a
    cartesian/broadcast-nested-loop over the corpus."""
    from sparksync.ext import dedup

    sup = load_table(spark, SF_SMOKE, "supplier")
    df = dedup.hamming_pairs(sup, col="s_name", max_dist=2, id_col="s_suppkey")
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_per_key_cap_two_phase_windows(spark):
    """per_key_cap must plan BOTH window phases (salted pre-rank + final
    per-key rank) and never a single-partition sort."""
    from sparksync.ext import sampling

    docs = load_table(spark, SF_SMOKE, "documents")
    df = sampling.per_key_cap(docs, "source", "n_chars", "doc_id", cap=5)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("Window") >= 2
    assert "SinglePartition" not in plan


def test_tfidf_windows_partition_by_doc(spark):
    """tfidf_topk's ranking window partitions by doc_id (bounded by doc
    length) — no single-partition exchange anywhere in the plan apart
    from the one-row N aggregate, which is explicitly tiny."""
    from sparksync.ext import textops

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = textops.tfidf_topk(docs)._jdf.queryExecution().sparkPlan().toString()
    # the only SinglePartition allowed is the corpus-count scalar agg
    assert plan.count("SinglePartition") <= 1, plan


def test_incremental_dedup_no_cartesian(spark):
    from sparksync.ext import dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    new = docs.where("doc_id % 2 = 1")
    corpus = docs.where("doc_id % 2 = 0")
    df = dedup.minhash_dedup_pairs_cross(new, corpus)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_char_ngram_profile_two_phase_windows(spark):
    """char_ngram_profile must keep the vocab_topk discipline: BOTH
    window phases (salted pre-rank + per-lang final) and no
    single-partition sort."""
    from sparksync.ext import textops
    from sparksync.source import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = textops.char_ngram_profile(docs)._jdf.queryExecution() \
        .sparkPlan().toString()
    assert plan.count("Window") >= 2
    assert "SinglePartition" not in plan


def test_merge_cdc_no_collect_shape(spark):
    """merge_cdc plans a left_anti + union — no cartesian, no
    single-partition exchange over the snapshot side."""
    from sparksync.compare import merge_cdc
    from sparksync.source import load_table

    sup = load_table(spark, SF_SMOKE, "supplier").select("s_suppkey", "s_name")
    ch = sup.limit(3).selectExpr(
        "s_suppkey", "s_name", "'U' as op", "cast(1 as long) as seq"
    )
    plan = merge_cdc(sup, ch, ["s_suppkey"], seq_col="seq")._jdf \
        .queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_minhash_hot_bucket_resplit_and_no_cartesian(spark):
    """Round-4 scale hardening (VERDICT r3 #1): minhash's banded join
    must (a) re-split oversized (band, key) buckets by the next band —
    checked directly on _cap_buckets with a synthetic hot bucket — and
    (b) never plan a cartesian or unconditional broadcast of the
    data-dependent candidate set on a pathological all-identical-doc
    corpus, while still emitting every jacc-1.0 pair (identical
    signatures agree on every band, so re-splitting cannot lose them)."""
    import pyspark.sql.functions as F

    from sparksync.ext import dedup

    # (a) unit: a 6-row bucket with cap 3 re-splits by nxt; a small
    # bucket keeps its raw key
    rows = [(i, 0, 7, i % 2, 100 + i) for i in range(6)] + [(9, 1, 42, 5, 999)]
    raw = spark.createDataFrame(
        rows, "doc_id long, band int, key long, nxt long, sigall long"
    )
    capped = dedup._cap_buckets(raw, "doc_id", 3).collect()
    hot_keys = {r.key for r in capped if r.band == 0}
    assert 7 not in hot_keys and len(hot_keys) == 2, hot_keys  # split in two
    assert [r.key for r in capped if r.band == 1] == [42]  # untouched

    # (b) end-to-end on a hot corpus: 40 identical docs, cap far below
    # the bucket size
    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.lit("the same boilerplate template text repeated verbatim in every document").alias("text"),
    )
    df = dedup.minhash_dedup_pairs(docs, threshold=0.9, bucket_cap=8)
    plan = df._jdf.queryExecution().sparkPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert df.count() == 40 * 39 // 2


def test_minhash_no_static_broadcast_of_candidates(spark):
    """The candidate-id join into the shingle arrays carries no
    broadcast hint: the ANALYZED plan (where hints are explicit nodes)
    must contain zero broadcast hints for minhash_dedup_pairs and the
    cross variant."""
    from sparksync.ext import dedup
    from sparksync.source import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    for df in (
        dedup.minhash_dedup_pairs(docs),
        dedup.minhash_dedup_pairs_cross(
            docs.where("doc_id % 2 = 1"), docs.where("doc_id % 2 = 0")
        ),
    ):
        analyzed = df._jdf.queryExecution().analyzed().toString()
        assert "UnresolvedHint broadcast" not in analyzed
        assert "ResolvedHint (strategy=broadcast)" not in analyzed


def test_new_round3_plan_shapes(spark):
    """Round-3 operators keep their scale posture: gap_fill windows are
    per-key (no single-partition exchange over data), group-normalize
    joins its stats by broadcast, span_dedup never goes cartesian, and
    pack_sequences fans out via one shard exchange into ArrowEvalPython-
    free applyInPandas (FlatMapGroupsInPandas)."""
    plan = plan_of(QUERIES["q70_gap_fill"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q76_group_normalize"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = plan_of(QUERIES["q71_span_dedup"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = plan_of(QUERIES["q68_pack_sequences"](spark, SF_SMOKE))
    assert "FlatMapGroupsInPandas" in plan
    assert plan.count("Exchange") <= 2  # one hash exchange on shard

    plan = plan_of(QUERIES["q72_key_skew"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_round4b_plan_shapes(spark):
    """q90-q94 scale posture: pps_sample touches the corpus with ONE
    narrow filter (the total-weight row arrives by broadcast — no
    corpus shuffle at all); pagerank and source_overlap never go
    cartesian; CMS tops out via TakeOrderedAndProject with partial
    aggregation on the sketch build; negative_pairs' only windows are
    bucket-partitioned plus the bounded query-side rank."""
    plan = plan_of(QUERIES["q90_pps_sample"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan  # the one-row total, nothing else
    assert plan.count("Exchange") <= 2  # agg of the total; no corpus exchange
    assert "SortMergeJoin" not in plan

    plan = plan_of(QUERIES["q91_pagerank"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan  # partial contribution sums

    plan = plan_of(QUERIES["q92_heavy_hitters"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q93_negative_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan  # query side joins by broadcast

    plan = plan_of(QUERIES["q94_source_overlap"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round4c_plan_shapes(spark):
    """q95-q98 scale posture: the rollup is one exchange (partial agg
    collapses before it); transitions windows are user-partitioned and
    stats joins broadcast; MAD joins its two stat tables by broadcast;
    the sampled-quantile filter is narrow (no pre-shuffle)."""
    plan = plan_of(QUERIES["q95_time_rollup"](spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 1, plan.count("Exchange")

    plan = plan_of(QUERIES["q96_event_transitions"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan

    plan = plan_of(QUERIES["q97_mad_outliers"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q98_sampled_quantiles"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert plan.count("Exchange") <= 1


def test_round4d_plan_shapes(spark):
    """q99/q100 scale posture: the index's per-doc tf agg combines
    map-side before any shuffle (two exchanges total: (tok,doc) then
    tok); the histogram broadcasts its min/max row and plans no
    single-partition exchange."""
    plan = plan_of(QUERIES["q99_inverted_index"](spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "SinglePartition" not in plan
    assert "ObjectHashAggregate" in plan or "SortAggregate" in plan  # collect_list

    plan = plan_of(QUERIES["q100_histogram"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan


def test_round4e_plan_shapes(spark):
    """q101-q104 posture: SCD2 and ntile windows are key/group-
    partitioned (never single-partition); exact_corr is one partial
    agg + a scalar projection; group_split is a pure narrow map (no
    exchange at all past the scan)."""
    plan = plan_of(QUERIES["q101_scd2_history"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan

    plan = plan_of(QUERIES["q102_equidepth_buckets"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "HashAggregate" in plan

    plan = plan_of(QUERIES["q103_exact_corr"](spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert "Exchange" in plan and plan.count("Exchange") <= 1

    plan = plan_of(QUERIES["q104_group_split"](spark, SF_SMOKE))
    assert "Exchange" not in plan  # narrow map only


def test_round4f_plan_shapes(spark):
    """q105-q107: the star rollup broadcasts every dimension hop and
    shuffles the fact table once (Expand feeds one agg exchange); the
    window ops stay group-partitioned."""
    plan = plan_of(QUERIES["q105_star_rollup"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan
    assert "Expand" in plan  # rollup grouping sets

    plan = plan_of(QUERIES["q106_rank_normalize"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan

    plan = plan_of(QUERIES["q107_rolling_deviation"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_round4g_plan_shapes(spark):
    """q109/q110: seasonality is ONE partial-agg exchange over narrow
    derived keys; cohort LTV joins the per-user min by shuffle-on-user
    only (no single-partition, no cartesian)."""
    plan = plan_of(QUERIES["q109_seasonality"](spark, SF_SMOKE))
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 1

    plan = plan_of(QUERIES["q110_cohort_ltv"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_round4h_plan_shapes(spark):
    """q111-q116: the two-phase global ranks keep every window
    partitioned (RangePartitioning feeds them; the only unkeyed
    exchanges carry counter/candidate rows, asserted by the absence of
    a single-partition SORT of the data); session top-k stays
    TakeOrderedAndProject; the basket self-join is hash, not cartesian;
    attribution's window is key-partitioned."""
    plan = plan_of(QUERIES["q111_rfm_segments"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()  # two-phase rank shuffles
    assert "CartesianProduct" not in plan
    # the per-partition rank windows sort WITHIN range partitions only:
    # no global Sort node outside a partial window subtree
    assert "Sort [recency_days" not in plan.replace("ASC NULLS FIRST", "")

    plan = plan_of(QUERIES["q112_last_touch"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan

    plan = plan_of(QUERIES["q113_market_basket"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # part dim broadcast

    plan = plan_of(QUERIES["q114_session_paths"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q115_vocab_coverage"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q116_pareto_front"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    # local phase windows partition by bucket
    assert "hashpartitioning(_b" in plan


def test_round4i_plan_shapes(spark):
    """q117-q120: k-means assignment broadcasts centroids and the
    update is one aggregate (no cartesian); BM25 is a narrow map + one
    single-row stat broadcast + TakeOrderedAndProject — the token
    arrays never explode or shuffle; the edit-distance join bands on
    deletion variants (hash join, no cartesian)."""
    plan = plan_of(QUERIES["q117_kmeans_step"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    plan = plan_of(QUERIES["q118_bm25"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "Generate" not in plan  # no token explode: array-filter tf
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q120_editdist_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # an EQUI-join on the variant key (AQE picks the strategy by size)
    assert any(
        j in plan
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    )


def test_round4j_plan_shapes(spark):
    """q121/q122: BPE pairs shuffle the vocabulary (word counts), not
    raw pairs — the pair explode sits above the word-count aggregate —
    and finish with a distributed top-k; next-event is one
    key-partitioned window, no cartesian."""
    plan = plan_of(QUERIES["q121_bpe_pairs"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # Generate (pair explode) must consume the aggregated vocab, i.e.
    # appear ABOVE at least one HashAggregate in the tree
    assert "Generate" in plan and "HashAggregate" in plan

    plan = plan_of(QUERIES["q122_next_event"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_round4k_plan_shapes(spark):
    """q125-q129: ranked-ties and weighted-median windows stay
    group-partitioned; revenue share has no global window (broadcast
    single-row total) and broadcasts the nation dim; crossover windows
    key-partition."""
    plan = plan_of(QUERIES["q125_topk_with_ties"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan

    plan = plan_of(QUERIES["q126_revenue_share"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan  # total via broadcast, not a window

    plan = plan_of(QUERIES["q127_ma_crossover"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan

    plan = plan_of(QUERIES["q129_weighted_median"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_round4l_plan_shapes(spark):
    """q130/q131: the RANGE frame stays key-partitioned (no global
    sort); grouping sets plan ONE Expand-fed aggregate over one scan."""
    plan = plan_of(QUERIES["q130_range_frame"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan

    plan = plan_of(QUERIES["q131_grouping_sets"](spark, SF_SMOKE))
    assert "Expand" in plan
    assert plan.count("Scan parquet") <= 1


def test_round4m_plan_shapes(spark):
    """q132-q135: eval-ops broadcast only aggregate summaries (truth/
    pred totals, min-max, variant counts); the hash-embedding bridge
    joins the vector table without a cartesian and aggregates once."""
    plan = plan_of(QUERIES["q132_lang_confusion"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q133_calibration_bins"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan.split("BroadcastExchange")[0]

    plan = plan_of(QUERIES["q134_ab_ztest"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q135_hash_embed_centroids"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_round4n_plan_shapes(spark):
    """q136/q137: the hazard window runs over the tiny lifetime
    histogram only; the concurrency sweep's cumsum is range-partitioned
    (two-phase), never a single-partition window over the deltas."""
    plan = plan_of(QUERIES["q137_max_concurrency"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_round4o_plan_shapes(spark):
    """q139-q141: containment keeps jaccard's inverted-index equi-join
    (no cartesian); extraction is a pure narrow map (no exchange);
    serving state is one per-key window."""
    plan = plan_of(QUERIES["q139_containment_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    plan = plan_of(QUERIES["q140_extract_matches"](spark, SF_SMOKE))
    assert "Exchange" not in plan

    plan = plan_of(QUERIES["q141_latest_state"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(user_id" in plan


def test_round4p_plan_shapes(spark):
    """q142-q144: window-explode uniques aggregate once per (window)
    key; monthly growth's lag runs over the tiny month table; the
    convert-quartile scan never windows raw events."""
    plan = plan_of(QUERIES["q142_window_uniques"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q144_time_to_convert"](spark, SF_SMOKE))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_round4q_plan_shapes(spark):
    """q145-q147: the keeper argmax has no cartesian; bounce and
    savings windows stay key-partitioned (user / text)."""
    plan = plan_of(QUERIES["q145_keeper_policy"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q146_bounce_rate"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan

    plan = plan_of(QUERIES["q147_dedup_savings"](spark, SF_SMOKE))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(text" in plan


def test_round4r_plan_shapes(spark):
    """q149/q150: drift's join is vocab-keyed (no cartesian except the
    broadcast single-row totals); the KS cumsum is range-partitioned."""
    plan = plan_of(QUERIES["q149_source_drift"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan

    plan = plan_of(QUERIES["q150_ks_statistic"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_minhash_single_signature_pass(spark):
    """Round-5 (VERDICT r4 #3): the raw band rows are pinned before
    fanning out to census + both self-join sides, so the
    scan->shingle->64-min signature pipeline executes ONCE — the
    shingle lambdas defeat exchange-reuse canonicalization, and
    without the pin the subtree ran four times (4 corpus scans at
    100 TB; the driver-load q20 wall-time gap). The executed plan must
    read the band rows from cache (InMemoryTableScan) and keep exactly
    two live signature-side parquet scans: one under the cached
    relation, one for the verify-side shingle arrays."""
    from sparksync.ext import _materialize, dedup
    from sparksync.source import load_table

    _materialize.release_pinned()
    docs = load_table(spark, SF_SMOKE, "documents")
    df = dedup.minhash_dedup_pairs(docs)
    df.write.format("noop").mode("overwrite").save()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("InMemoryTableScan") >= 3  # census + l + r
    # the 64-min signature aggregate appears only inside the one
    # cached relation definition, not as live duplicated subtrees
    live = plan.split("InMemoryRelation", 1)[0]
    # "partial_min((" is the signature min-agg; the verify stage's
    # partial_min_by is fine and must not trip this
    assert "partial_min((" not in live
    _materialize.release_pinned()


def test_round5_plus_queries_no_cartesian(spark):
    """Every query from q153 up: no unbounded CartesianProduct anywhere
    (the only nested-loop joins allowed are broadcast one-row/
    tiny-relation crossJoins), and the bloom audit's bitmap lookup is a
    broadcast hash join, never a shuffle of the probe side against the
    bitmap. The list is DERIVED from the registry (VERDICT r7 #5: the
    hand-maintained list stopped at q187 and the round-7 additions
    shipped unguarded), so registering a new qNNN automatically
    enrolls it here."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    new_qs = sorted(
        q for q in QUERIES if int(q[1:].split("_", 1)[0]) >= 153
    )
    assert len(new_qs) >= 41  # q153-q193 as of round 8; grows only
    for q in new_qs:
        plan = plan_of(QUERIES[q](spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, q
    bloom = plan_of(QUERIES["q163_bloom_semi_audit"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in bloom
    _materialize.release_pinned()


def test_components_input_checkpoint_backed(spark):
    """Round-7 (VERDICT r6 #3a): connected_components must materialize
    its pair graph ONCE (the eager localCheckpoint at ext/graph.py:77)
    — every propagation round re-reads it, and without the checkpoint
    each round re-executes the whole upstream discovery pipeline (the
    round-6 q159 bench bug: ~6 of 7.9 s re-deriving LSH pairs per
    round). An accumulator-bearing UDF in the edge pipeline counts
    executions: the undirected union reads the edges twice, so a
    checkpointed graph ticks exactly 2*n_edges; an un-checkpointed one
    ticks 2*n_edges per round (this chain graph needs >=4 rounds)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from sparksync.ext.graph import connected_components

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, LongType())
    n = 12  # chain 0-1-2-...-12: diameter 12, >=4 label-prop rounds
    edges = (
        spark.range(n)
        .select(
            tick(F.col("id")).alias("d1"),
            (F.col("id") + 1).alias("d2"),
        )
    )
    comp = connected_components(edges, "d1", "d2")
    rows = comp.collect()
    # correctness: one component labeled by the minimum node (0)
    assert len(rows) == n + 1
    assert {r.component for r in rows} == {0}
    # the guard: edge pipeline executed ONCE despite the multi-round
    # iteration. Round 15: the (src, dst) projection is pinned before
    # the undirected union, so the nominal count is n (one read per
    # edge, the union's second branch reads the cache); concurrent
    # union tasks can race the cache materialization and recompute a
    # partition ("Block already exists" warnings), so up to 2n ticks
    # are legitimate. The failure mode this guard exists for — a
    # propagation round re-running the edge pipeline — reads 2n PER
    # ROUND (>= 8n on this >=4-round chain), far above the ceiling.
    assert n <= acc.value <= 2 * n, (
        f"edge pipeline executed {acc.value / n:.1f} reads/edge "
        "(expected 1-2) - pair graph re-derived per round "
        "(und materialization removed?)"
    )


def test_cluster_keeper_single_discovery_pass(spark):
    """Round-7 (VERDICT r6 #3b): one near_dup_cluster_keeper /
    cluster_keeper_from_pairs call must run the pair-DISCOVERY pipeline
    (minhash LSH banding + verify, the corpus-scan-heavy part) exactly
    once end to end, even though connected components iterates over its
    output. Composition-level twin of test_minhash_single_signature_pass
    — this is where the round-6 re-derivation bug actually lived.
    Instrumented at the pairs boundary, exactly how q159/q178 compose:
    discovery -> tick -> cluster_keeper_from_pairs."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from sparksync.ext import _materialize, dedup
    from sparksync.source import load_table

    _materialize.release_pinned()
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = dedup.minhash_dedup_pairs(docs)
    n_pairs = pairs.count()
    assert n_pairs > 0  # fixture must exercise the multi-round path

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, LongType())
    counted = pairs.withColumn("d1", tick(F.col("d1")))
    quality = docs.select(
        F.col("doc_id"), F.length("text").cast("long").alias("quality")
    )
    out = dedup.cluster_keeper_from_pairs(counted, quality, "doc_id")
    out.write.format("noop").mode("overwrite").save()
    # Round 15: connected_components pins the (src, dst) projection
    # before the undirected union, so discovery nominally executes
    # ONCE (n_pairs ticks); concurrent union tasks racing the cache
    # materialization may recompute partitions, so up to 2*n_pairs is
    # legitimate. Per-round re-derivation (the round-6 bug) reads
    # 2*n_pairs per round — >= 3 rounds on this fixture, far above
    # the ceiling.
    assert n_pairs <= acc.value <= 2 * n_pairs, (
        f"discovery pipeline executed {acc.value / max(1, n_pairs):.1f} "
        "reads/pair (expected 1-2) - pair graph re-derived downstream"
    )
    _materialize.release_pinned()


def test_zorder_query_plans(spark):
    """q197's min/max bounds ride ONE broadcast row (never a shuffle of
    the fact side against stats), and q198's file assignment is
    range-partitioned two-phase rank — no single giant sort task."""
    plan = plan_of(QUERIES["q197_zorder_key"](spark, SF_SMOKE))
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan

    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q198_zorder_pruning"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan.lower()
    assert "CartesianProduct" not in plan
    _materialize.release_pinned()


def test_dedup_report_single_discovery_pass(spark, monkeypatch):
    """Round-9 (VERDICT r8 #1): dedup_report must (a) materialize the
    supplied pair graph exactly ONCE even though three rollups + the
    components loop all consume it, and (b) run connected components
    exactly ONCE for the whole report — the composed form exists so a
    pipeline stops paying one discovery + one components pass PER
    rollup (q159 + q195 + q196 + q180 each re-derived both until
    round 9). Accumulator at the pairs boundary (precedent:
    test_cluster_keeper_single_discovery_pass); call counter on
    graph.connected_components for the components pass."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from sparksync.ext import _materialize, dedup, graph
    from sparksync.source import load_table

    _materialize.release_pinned()
    docs = load_table(spark, SF_SMOKE, "documents")
    pairs = dedup.minhash_dedup_pairs(docs)
    n_pairs = pairs.count()
    assert n_pairs > 0

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, LongType())
    counted = pairs.withColumn("d1", tick(F.col("d1")))

    calls = {"n": 0}
    real_cc = graph.connected_components

    def counting_cc(*a, **k):
        calls["n"] += 1
        return real_cc(*a, **k)

    monkeypatch.setattr(graph, "connected_components", counting_cc)
    out = dedup.dedup_report(docs, pairs=counted)
    out.write.format("noop").mode("overwrite").save()
    assert calls["n"] == 1, (
        f"connected_components ran {calls['n']}x - the report must "
        "resolve clusters once and share the labels across rollups"
    )
    # the report's eager localCheckpoint reads the supplied pair
    # pipeline exactly once (one tick per pair row); every consumer
    # (components' undirected union, histogram, cross-source) reads
    # the materialized blocks afterwards
    assert acc.value == n_pairs, (
        f"pair pipeline executed {acc.value / max(1, n_pairs):.1f} "
        "reads/pair (expected 1) - pair graph re-derived by a rollup"
    )
    _materialize.release_pinned()


def test_keeper_and_report_share_one_components_pass(spark, monkeypatch):
    """The full composed pipeline of VERDICT r8 #2: doc-level keeper
    (cluster_keeper_from_pairs) AND the aggregate dedup_report off the
    SAME pair graph and the SAME components labels — one discovery
    materialization (accumulator: 1 read/pair at the caller's
    checkpoint, +2 inside connected_components' undirected union) and
    exactly one connected_components invocation for BOTH outputs."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from sparksync.ext import _materialize, dedup, graph
    from sparksync.source import load_table

    _materialize.release_pinned()
    docs = load_table(spark, SF_SMOKE, "documents")
    raw = dedup.minhash_dedup_pairs(docs)
    n_pairs = raw.count()
    assert n_pairs > 0

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, LongType())

    calls = {"n": 0}
    real_cc = graph.connected_components

    def counting_cc(*a, **k):
        calls["n"] += 1
        return real_cc(*a, **k)

    monkeypatch.setattr(graph, "connected_components", counting_cc)

    # the composed pattern a pipeline runs: checkpoint the discovered
    # graph once, resolve components once, feed both consumers
    pairs = (
        raw.withColumn("d1", tick(F.col("d1")))
        .select("d1", "d2")
        .localCheckpoint(eager=True)
    )
    comp = graph.connected_components(pairs, "d1", "d2")
    quality = docs.select(
        F.col("doc_id"), F.length("text").cast("long").alias("quality")
    )
    # pairs may be None when components is supplied (never read)
    keeper = dedup.cluster_keeper_from_pairs(
        None, quality, "doc_id", components=comp
    )
    report = dedup.dedup_report(docs, pairs=pairs, components=comp)
    keeper.write.format("noop").mode("overwrite").save()
    report.write.format("noop").mode("overwrite").save()

    assert calls["n"] == 1, (
        f"connected_components ran {calls['n']}x for keeper+report "
        "(expected 1 shared pass)"
    )
    assert acc.value == n_pairs, (
        f"discovery executed {acc.value / max(1, n_pairs):.1f} reads/pair "
        "(expected 1: the caller's checkpoint) - a consumer re-derived it"
    )
    # the two outputs agree on the cluster structure they share
    k = {r.doc_id: r.cluster_id for r in keeper.collect() if r.n_members > 1}
    top = [r for r in report.collect() if r.section == "topline"][0]
    assert top.n2 == len(k)  # docs in clusters
    _materialize.release_pinned()


def test_run_engine_query_plans(spark):
    """The exact-substring family's scale contracts, pinned in the
    executed plans: the run engine prunes the corpus to docs-in-pairs
    BEFORE gram explosion (LeftSemi present in q205/q206/q207), and
    q207's benchmark side rides broadcast joins (the benchmark is the
    small side by construction — test sets are thousands of docs, the
    corpus billions; a shuffle of the corpus against bench
    fingerprints would be the wrong plan at any scale)."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    p205 = plan_of(QUERIES["q205_shared_runs"](spark, SF_SMOKE))
    assert "LeftSemi" in p205 and "CartesianProduct" not in p205
    p206 = plan_of(QUERIES["q206_trim_shared_runs"](spark, SF_SMOKE))
    assert "LeftSemi" in p206 and "CartesianProduct" not in p206
    p207 = plan_of(QUERIES["q207_decontaminate"](spark, SF_SMOKE))
    assert "LeftSemi" in p207 and "CartesianProduct" not in p207
    assert "BroadcastHashJoin" in p207
    # q208 (the removal half) shares q207's discovery engine and adds
    # the trim: same contracts — semi-join prune, broadcast bench side
    p208 = plan_of(QUERIES["q208_decontaminate_trim"](spark, SF_SMOKE))
    assert "LeftSemi" in p208 and "CartesianProduct" not in p208
    assert "BroadcastHashJoin" in p208
    _materialize.release_pinned()


def test_decision_report_single_fingerprint_pass(spark, monkeypatch):
    """q204's composed contract (VERDICT r9 #1): dedup_decision_report
    must materialize the supplied winnowing pair pipeline exactly ONCE
    (its own eager localCheckpoint) even though the components loop,
    the keeper, all four report rollups and the cross-source matrix
    consume the graph — and run connected_components exactly once for
    keeper + report together. Without the checkpoint every consumer
    would re-run the fingerprint self-join (a full corpus tokenize +
    posexplode + window at 100 TB)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from sparksync.ext import _materialize, dedup, graph
    from sparksync.source import load_table

    _materialize.release_pinned()
    docs = load_table(spark, SF_SMOKE, "documents")
    raw = dedup.winnow_overlap_pairs(docs, k=5, w=8, min_shared=3)
    n_pairs = raw.count()
    assert n_pairs > 0

    acc = spark.sparkContext.accumulator(0)

    def _tick(x):
        acc.add(1)
        return x

    tick = F.udf(_tick, LongType())
    counted = raw.withColumn("d1", tick(F.col("d1")))

    calls = {"n": 0}
    real_cc = graph.connected_components

    def counting_cc(*a, **k):
        calls["n"] += 1
        return real_cc(*a, **k)

    monkeypatch.setattr(graph, "connected_components", counting_cc)
    out = dedup.dedup_decision_report(docs, counted, quality_col="n_chars")
    out.write.format("noop").mode("overwrite").save()
    assert calls["n"] == 1, (
        f"connected_components ran {calls['n']}x - decision report must "
        "resolve clusters once for keeper + report"
    )
    assert acc.value == n_pairs, (
        f"fingerprint pipeline executed {acc.value / max(1, n_pairs):.1f} "
        "reads/pair (expected 1: the report's checkpoint) - a consumer "
        "re-ran the winnow self-join"
    )
    # keeper rows agree with the aggregate topline they ship alongside
    rows = out.collect()
    top = [r for r in rows if r.section == "topline"][0]
    kept_drop = sum(
        1 for r in rows if r.section == "keeper" and r.n3 == 0 and r.n2 > 1
    )
    # each size-s cluster contributes s-1 drops under BOTH rules (the
    # topline's min-id canonical and the keeper's max-quality pick)
    assert top.n3 == kept_drop
    _materialize.release_pinned()


def test_round13_new_queries_plan_shapes(spark):
    """Round-13 additions, the shapes that matter at 100 TB: the three
    single-aggregate planners (attrition / epoch recipe / packing)
    read the corpus EXACTLY once with partial+final aggregation and at
    most the one inherent tiny-exchange (global agg or few-row
    window); the IVF recall audit pins its input so the exact and
    pruned sides share ONE materialization (unpinned, the plan read
    the source nine times — plan-audited r13) and joins its
    |queries|*k top-k sets broadcast, never sort-merge."""
    from sparksync.ext import _materialize

    for q in ("q217_filter_attrition", "q218_epoch_recipe",
              "q220_packing_efficiency"):
        plan = plan_of(QUERIES[q](spark, SF_SMOKE))
        assert plan.count("Scan parquet") == 1, q
        assert "HashAggregate" in plan, q
        assert "SortMergeJoin" not in plan, q
        assert plan.count("SinglePartition") <= 1, q

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q219_ivf_recall"](spark, SF_SMOKE))
    assert plan.count("InMemoryTableScan") >= 8, "emb input not pinned"
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    _materialize.release_pinned()


def test_signal_auc_one_scan_all_signals(spark):
    """VERDICT r13 #1: signal_auc must read the corpus ONCE for all
    signals (the r13 per-signal loop cost one full scan per signal —
    the only 100 TB-hostile shape that round). The stack-unpivot +
    partition_by global_cumsum form pins ONE grouped frame; both
    consumers (the local running sum and the offset table) render that
    same cached subtree, so every rangepartitioning line in the plan
    carries the SAME plan_id, and both parquet renders sit under
    InMemoryTableScan — one physical scan at cache build."""
    import re

    from sparksync.ext import _materialize

    # clearCache, not just release_pinned: an earlier suite test can
    # leave the base documents relation cached, and its
    # InMemoryTableScan then renders inside the pinned subtree too —
    # the exact == 2 count below needs a clean cache (full-suite order
    # dependence, caught in the round-14 final suite run)
    spark.catalog.clearCache()
    _materialize.release_pinned()
    plan = plan_of(QUERIES["q221_signal_auc"](spark, SF_SMOKE))
    ids = {
        m.group(1)
        for ln in plan.splitlines()
        if "rangepartitioning" in ln
        for m in [re.search(r"plan_id=(\d+)", ln)]
        if m
    }
    assert len(ids) == 1, f"pinned grouped frame not shared: {ids}"
    assert plan.count("InMemoryTableScan") == 2
    assert "SortMergeJoin" not in plan
    assert "SinglePartition" not in plan
    _materialize.release_pinned()


def test_q222_recipe_mix_plan_shape(spark):
    """X218: the returned plan is budget_mix's — ONE corpus scan, the
    per-group admission window, no joins, no single-partition exchange
    (epoch_recipe's few-row planning pass runs eagerly at construction
    and hands over an n_sources-sized literal budget map, so the
    executed mix plan carries none of the planner's machinery)."""
    plan = plan_of(QUERIES["q222_recipe_mix"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan


def test_round14_new_queries_plan_shapes(spark):
    """Round-14 additions: diversity (q223) is ONE corpus scan into a
    partial-agg groupBy whose shuffle carries groups x dim rows — no
    pair join, no single-partition exchange; reweight (q224) is ONE
    corpus scan plus domains-sized one-row broadcast crossJoins (the
    chisq pattern — BroadcastNestedLoopJoin, never CartesianProduct,
    and the only SinglePartition exchanges are the one-row stats
    aggregates)."""
    plan = plan_of(QUERIES["q223_diversity_score"](spark, SF_SMOKE))
    assert plan.count("Scan parquet") == 1
    assert "HashAggregate" in plan
    assert "Join" not in plan
    assert "SinglePartition" not in plan

    import re

    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q224_domain_reweight"](spark, SF_SMOKE))
    # the domains-sized aggregate is pinned; all its renders (the
    # group-by exchange above the parquet scan) must be the SAME
    # cached subtree -> one physical corpus scan (unpinned: 8 scans)
    ids = {
        m.group(1)
        for ln in plan.splitlines()
        if "hashpartitioning(source" in ln
        for m in [re.search(r"plan_id=(\d+)", ln)]
        if m
    }
    assert len(ids) == 1, f"per-domain aggregate not shared: {ids}"
    assert plan.count("InMemoryTableScan") >= 4
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only SinglePartition exchanges are the one-row stats
    # aggregates (prior count / min-max range / normalizer) over the
    # pinned domains-sized frame
    assert "BroadcastNestedLoopJoin" in plan
    _materialize.release_pinned()


def test_q225_q226_plan_shapes(spark):
    """X222/X223: the shuffle-order rank rides global_rank's two-phase
    machinery (range partition + n_parts-row offset window) — a global
    row_number with NO single-partition exchange over data; the
    length-bucket audit is one scan into a <=64-row aggregate plus a
    one-row broadcast max."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q225_shuffle_order"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    _materialize.release_pinned()

    plan = plan_of(QUERIES["q226_length_buckets"](spark, SF_SMOKE))
    # the <=64-row bucket aggregate is pinned: both consumers (corpus
    # max + final projection) render the same cached subtree -> one
    # physical corpus scan
    import re

    ids = {
        m.group(1)
        for ln in plan.splitlines()
        if "hashpartitioning(bucket_bits" in ln
        for m in [re.search(r"plan_id=(\d+)", ln)]
        if m
    }
    assert len(ids) == 1, f"bucket aggregate not shared: {ids}"
    assert plan.count("InMemoryTableScan") >= 2
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SinglePartition") <= 1  # the one-row corpus max
    _materialize.release_pinned()


def test_q227_plan_shape(spark):
    """X224: the stage assignment rides global_rank's two-phase
    machinery — range partition + offset window, one broadcast
    count; NEVER a single-partition sort over the corpus."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q227_curriculum_stages"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan
    # the ONE allowed tiny exchange is the one-row total-count
    # aggregate the stage arithmetic broadcasts
    assert plan.count("SinglePartition") <= 1
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    _materialize.release_pinned()


def test_q230_plan_shape(spark):
    """X228: applying a frozen merge list is ONE job — one word-count
    exchange and an all-narrow chained-replace projection after it;
    no join of any kind, no single-partition exchange (the train half
    that produced the merges ran before this plan was built, its cost
    measured separately by q228)."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q230_bpe_segment"](spark, SF_SMOKE))
    assert plan.count("Exchange") == 1  # the vocabulary groupBy, hash
    assert "SinglePartition" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    _materialize.release_pinned()


def test_q231_q232_plan_shapes(spark):
    """X229/X230: PQ encode is a broadcast codebook join + a
    (vec, subspace)-partitioned window argmin — no sort-merge join, no
    cartesian, ZERO single-partition exchanges; the ADC read path is
    broadcast table lookups ending in TakeOrderedAndProject top-k
    (never a global sort)."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q231_pq_encode"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    plan = plan_of(QUERIES["q232_pq_adc"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    _materialize.release_pinned()


def test_q233_q234_plan_shapes(spark):
    """X231/X232: the composed IVF-PQ search broadcasts the probe set
    and the distance table and ends in TakeOrderedAndProject; its ONE
    allowed SortMergeJoin is the members semi-join — corpus-sized
    assignment vs corpus-sized code table, deliberately UNhinted so
    the planner/AQE picks by size (a forced broadcast of a
    corpus-sized id list is the bug, not the join). The recall audit
    pins its input (InMemoryTableScan on both sides) and runs
    all-broadcast. Neither plans a cartesian or a single-partition
    exchange."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q233_ivf_pq"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("SortMergeJoin") <= 1
    assert "CartesianProduct" not in plan
    # round 16: _assign folds the centroid set into ONE broadcast row
    # via collect_list — a global aggregate over a <= n_centroids-row
    # relation, whose Exchange SinglePartition is model-state-sized by
    # construction (the corpus-sized single-partition exchange this
    # guard exists to catch would be a regression; exactly one bounded
    # fold is the expected shape)
    assert plan.count("SinglePartition") <= 1
    plan = plan_of(QUERIES["q234_pq_recall"](spark, SF_SMOKE))
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "SinglePartition" not in plan
    assert plan.count("InMemoryTableScan") >= 2  # the pinned projection
    _materialize.release_pinned()


def test_q229_plan_shape(spark):
    """X227: the composed loader order is TWO two-phase global_ranks
    (signal order for the stage, stage-major hash order for the
    position) with broadcast offset tables and pure-arithmetic
    stage_rank — ZERO single-partition exchanges (no global sort, no
    per-stage corpus/k window task), no sort-merge join, no cartesian
    (probed at build time: 0 SinglePartition on the executed plan)."""
    from sparksync.ext import _materialize

    _materialize.release_pinned()
    plan = plan_of(QUERIES["q229_curriculum_order"](spark, SF_SMOKE))
    assert "rangepartitioning" in plan
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan
    _materialize.release_pinned()
