"""Scale-property regression guards: the engine's 100 TB posture is a set of
PLAN properties (broadcast on dims only, predicate pushdown to the parquet
scan, bounded shuffle count, whole-stage codegen coverage). These assert them
so a refactor that silently de-optimizes a plan fails CI, not the cluster.
"""

from __future__ import annotations

from nbi_oedi_etl_spark import workload
from nbi_oedi_etl_spark.plans.explain import (
    has_broadcast_join,
    physical_plan,
    pushed_filters,
)

from .conftest import SF_ORACLE


def _plan(spark, name):
    df = workload.queries()[name](spark, SF_ORACLE)
    df.collect()  # executed plan (AQE-final)
    return df


def test_shipping_priority_plan(spark):
    df = _plan(spark, "shipping_priority")
    plan = physical_plan(df)
    assert has_broadcast_join(df)
    # top-10 must be TakeOrderedAndProject, not a global sort
    assert "TakeOrderedAndProject" in plan
    # date predicates reach the parquet reader on both fact scans
    pf = pushed_filters(df)
    assert "LessThan(o_orderdate" in pf
    assert "GreaterThan(l_shipdate" in pf


def test_regional_supplier_volume_plan(spark):
    df = _plan(spark, "regional_supplier_volume")
    pf = pushed_filters(df)
    assert "EqualTo(r_name,ASIA)" in pf
    assert "GreaterThanOrEqual(o_orderdate" in pf
    assert has_broadcast_join(df)


def test_flagship_resample_plan_single_shuffle(spark):
    """The hourly resample must be partial-agg → ONE shuffle → final agg."""
    df = _plan(spark, "flagship_hourly_resample")
    # AQE plan text repeats the plan under "== Initial Plan =="; count only
    # the final plan's exchanges.
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_min" in plan and "partial_avg" in plan


def test_minhash_self_join_reuses_signature_exchange(spark):
    """The LSH candidate self-join must not compute signatures twice."""
    df = _plan(spark, "minhash_lsh_near_dup")
    assert "ReusedExchange" in physical_plan(df)


def test_ref_q1_broadcasts_dimension(spark):
    df = _plan(spark, "ref_q1_count_distinct")
    assert has_broadcast_join(df)
    pf = pushed_filters(df)
    assert "EqualTo(c_mktsegment,BUILDING)" in pf


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with ZERO shuffles (the 100 TB fact⋈fact co-location strategy).
    Broadcast is disabled so the assertion exercises the bucketed
    SortMergeJoin path, not an AQE broadcast."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.sources import read_table, write_bucketed

    o = read_table(spark, "/root/testdata/sf0.001", "orders")
    li = read_table(spark, "/root/testdata/sf0.001", "lineitem")
    write_bucketed(o, "b_orders", ["o_orderkey"], 4,
                   path=str(tmp_path / "b_orders"), sort_by=["o_orderkey"])
    write_bucketed(li, "b_lineitem", ["l_orderkey"], 4,
                   path=str(tmp_path / "b_lineitem"), sort_by=["l_orderkey"])
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("b_lineitem")
            .join(spark.table("b_orders"),
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        )
        joined.collect()
        plan = physical_plan(joined)
        final = plan.split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in final
        # the join itself is shuffle-free; only the small post-join groupBy
        # may exchange — assert no exchange BELOW the join by checking the
        # join's children are scans/sorts, i.e. no hashpartitioning on the
        # join keys.
        assert "Exchange hashpartitioning(l_orderkey" not in final
        assert "Exchange hashpartitioning(o_orderkey" not in final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_promo_revenue_plan_broadcasts_part(spark):
    df = _plan(spark, "promo_revenue_by_month")
    assert has_broadcast_join(df)


def test_nation_pair_volume_plan(spark):
    """Q7 shape: both nation role-aliases broadcast; the join spine never
    broadcasts a fact table by hint."""
    df = _plan(spark, "nation_pair_volume")
    assert has_broadcast_join(df)


def test_window_rank_suite_single_shuffle(spark):
    """All five ranking/distribution functions share ONE partitioning:
    a single exchange on o_orderpriority feeds every window frame — a
    refactor that re-partitions per frame would double the shuffle."""
    df = _plan(spark, "window_rank_suite")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1


def test_rolling_revenue_pushes_partition_filter(spark):
    """The o_custkey filter precedes the window partition key, so it must
    reach the parquet scan (filters on window PARTITION columns are
    pushable; filters on window OUTPUTS are not)."""
    df = _plan(spark, "rolling_revenue_90d")
    assert "LessThan(o_custkey,200)" in pushed_filters(df)


def test_embedding_norm_stats_single_shuffle(spark):
    """explode → partial hash agg → one exchange on vec_id → final agg;
    the exploded element rows must never shuffle raw."""
    df = _plan(spark, "embedding_norm_stats")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "partial_count" in final or "partial_sum" in final


def test_minhash_portable_signature_pipeline_runs_once(spark):
    """The portable-hash LSH self-join must never re-derive the signature
    pipeline per side. Round 5 upgraded the sharing mechanism from
    ReusedExchange to a session-memoized localCheckpoint
    (portable_signatures_cached): the executed plan reads the
    materialized checkpoint on every side and contains ZERO md5
    signature computation — the stronger form of the same guarantee
    (and it now also spans QUERIES, not just join sides)."""
    df = _plan(spark, "minhash_lsh_portable")
    plan = physical_plan(df)
    assert "Scan ExistingRDD" in plan, "checkpointed signatures not used"
    assert "md5" not in plan, "signature pipeline re-derived inside the query"


def test_asof_join_single_shuffle(spark):
    """The union+window as-of formulation is ONE shuffle on the entity key
    — the property that keeps it linear at 100 TB (operators/asof.py). Both
    union legs feed the same window exchange; no per-row range probe, no
    broadcast of the right side."""
    df = _plan(spark, "asof_last_purchase")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" not in final


def test_join_strategy_hints_are_honored(spark):
    """Join-hint surface: SHUFFLE_HASH must yield a ShuffledHashJoin and
    MERGE a SortMergeJoin even under broadcast-eligible sizes — the manual
    override lever when AQE's choice is wrong for a known workload."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.sources import read_table

    o = read_table(spark, SF_ORACLE, "orders")
    li = read_table(spark, SF_ORACLE, "lineitem")
    for hint, node in [("shuffle_hash", "ShuffledHashJoin"), ("merge", "SortMergeJoin")]:
        j = li.join(o.hint(hint), li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        j.collect()
        assert node in physical_plan(j), hint


def test_q6_predicates_all_reach_scan(spark):
    """Q6 is the canonical pushdown benchmark: the ENTIRE predicate (date
    range + discount band + quantity cap) must reach the parquet reader so
    a 100 TB scan skips row groups on column stats; and a scan-only agg
    must have exactly one exchange (the one-row partial→final)."""
    df = _plan(spark, "q6_forecast_revenue")
    pf = pushed_filters(df)
    assert "GreaterThanOrEqual(l_shipdate" in pf
    assert "LessThan(l_shipdate" in pf
    assert "GreaterThanOrEqual(l_discount,0.05)" in pf
    assert "LessThan(l_quantity,24" in pf
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Join" not in final


def test_q8_market_share_broadcasts_dims_only(spark):
    """Q8's 8-table join: every dimension (part, both nation roles, region,
    supplier) broadcasts; the lineitem⋈orders⋈customer spine must never be
    broadcast (fact tables shuffle on keys at scale)."""
    df = _plan(spark, "q8_market_share")
    assert has_broadcast_join(df)
    pf = pushed_filters(df)
    assert "EqualTo(p_type,STANDARD)" in pf
    assert "GreaterThanOrEqual(o_orderdate" in pf


def test_q10_returned_items_topk_plan(spark):
    """Q10: returnflag equality and the quarter range push to the scans;
    the LIMIT 20 is a TakeOrderedAndProject, never a global sort."""
    df = _plan(spark, "q10_returned_items")
    pf = pushed_filters(df)
    assert "EqualTo(l_returnflag,R)" in pf
    assert "GreaterThanOrEqual(o_orderdate" in pf
    assert "TakeOrderedAndProject" in physical_plan(df)


def test_q21_subqueries_decorrelate_to_joins(spark):
    """Q21's EXISTS / NOT EXISTS double-correlation must decorrelate into
    left-semi and left-anti joins on orderkey — per-row subquery execution
    would be quadratic in order size at scale."""
    df = _plan(spark, "q21_waiting_suppliers")
    plan = physical_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_latest_by_key_window_group_limit(spark):
    """latest_by_key's rank<=1 must rewrite to WindowGroupLimit so each
    map task pre-prunes to its local winner before the exchange — shuffle
    volume ~|keys|, not |rows|. One exchange total."""
    df = _plan(spark, "latest_event_per_user")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in final
    assert final.count("Exchange hashpartitioning") == 1


def test_stratified_sample_no_shuffle(spark):
    """The stratified sampler is scan+filter only: any exchange would mean
    an accidental repartition in a pure row-local op."""
    df = _plan(spark, "stratified_sample_documents")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange" not in final


def test_dynamic_partition_pruning_on_partitioned_fact(spark, tmp_path):
    """Joining a hive-partitioned fact on its partition column with a
    filtered dim must inject a dynamicpruning expression into the scan's
    PartitionFilters — at 100 TB this skips every partition the dim filter
    rules out, before any file is opened (the runtime analog of the
    reference's prefix-level partition pruning, fetch.py:60-82)."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.plans.explain import partition_filters

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev.write.partitionBy("event_type").parquet(str(tmp_path / "ev"))
    fact = spark.read.parquet(str(tmp_path / "ev"))
    dim = spark.createDataFrame(
        [("click", "a"), ("view", "b"), ("error", "c")], ["event_type", "grp"]
    ).where(F.col("grp") == "a")
    j = fact.join(dim, "event_type").groupBy("event_type").agg(
        F.sum("value").alias("v")
    )
    assert "dynamicpruning" in partition_filters(j).lower()


def test_cascade_daily_rollup_two_aggregates(spark):
    """The cascade is two hash aggregates; the second consumes the first's
    (user_id, hour) partitioning, so there is exactly one width-changing
    exchange chain, not a re-scan of raw events."""
    df = _plan(spark, "cascade_daily_rollup")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 1


def test_scd2_single_sort_no_self_join(spark):
    """SCD2 history derives lead() and row_number() from ONE window sort —
    a self-join formulation would double the shuffle volume."""
    df = _plan(spark, "scd2_user_events")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert final.count("Exchange hashpartitioning") == 1
    assert "Join" not in final
    assert final.count("Window") == 1


def test_runtime_bloom_filter_for_shuffle_join(spark):
    """When the dim side is too big to broadcast, Spark can still inject a
    runtime Bloom filter built from the filtered dim keys into the fact
    scan — the row-level analog of dynamic partition pruning. At 100 TB a
    selective dim filter then prunes most fact rows before the shuffle.
    Thresholds are lowered here because the testdata is tiny; production
    defaults (10 MB creation side) apply unchanged at scale."""
    from pyspark.sql import functions as F

    saved = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        li = spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet")
        o = spark.read.parquet(f"{SF_ORACLE}/orders.parquet").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        assert "might_contain" in physical_plan(j)
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold",
            saved["spark.sql.autoBroadcastJoinThreshold"],
        )
        spark.conf.unset(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        )


def test_q11_scans_fact_once_with_reused_aggregate(spark):
    """Q11's scalar-subquery threshold re-aggregates the SAME per-part
    aggregate that produces the output rows: the plan must reuse that
    subtree (ReusedExchange under AQE), not scan lineitem twice, and the
    dim filter must broadcast."""
    df = _plan(spark, "q11_important_parts")
    assert has_broadcast_join(df)
    final = physical_plan(df).split("== Initial Plan ==")[0]
    n_fact_scans = final.count("Scan parquet") - final.count("ReusedExchange")
    assert "ReusedExchange" in final or final.count("Scan parquet") <= 3


def test_q13_filter_stays_in_join_condition(spark):
    """Q13's priority exclusion lives in the left join ON clause; pushing
    it into the customer side or to a post-join filter would change outer
    semantics. Guard: exactly one left outer join, and the histogram tier
    adds one small exchange over |customers| rows."""
    df = _plan(spark, "q13_order_count_distribution")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "LeftOuter" in final
    # orders-side pushable predicate reaches its scan (safe for outer join:
    # it filters the nullable side's input, same as the ON-clause filter)
    assert "1-URGENT" in final


def test_shingle_novelty_codegen_shingling(spark):
    """Shingles are built with posexplode + window lead (codegen'd JVM
    expressions), not interpreted higher-order functions — the corpus-scale
    requirement (see memory: HOFs are 10-100x slower, no codegen)."""
    df = _plan(spark, "shingle_novelty")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Generate posexplode" in final or "posexplode" in final
    assert "transform" not in final and "aggregate(" not in final


def test_doc_chunking_no_shuffle_no_udf(spark):
    """Chunking is a narrow map (sequence + explode + substring, all
    codegen): an Exchange would mean the output amplification got paid
    for with a shuffle; a python eval node would mean the slow path."""
    df = _plan(spark, "doc_chunking")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange" not in final
    assert "Generate" in final  # the explode
    assert "Python" not in final


def test_doc_tfidf_single_fact_shuffle_broadcast_df(spark):
    """TF-IDF: the (doc,term) aggregate is the ONE fact shuffle; the
    document-frequency side (|vocab| rows) must come back as a broadcast,
    not a second sort-merge shuffle of the big exploded side."""
    df = _plan(spark, "doc_tfidf_top_terms")
    assert has_broadcast_join(df)


def test_corpus_sharding_distributed_prefix_sum(spark):
    """The global token cumsum must be the two-pass decomposition: the
    corpus-sized window runs partitioned by the id bucket (hash exchange
    on bucket), with the per-bucket offsets coming back as a BROADCAST —
    a single-partition window over the corpus (the naive
    Window.orderBy-with-no-partition shape) would serialize 100 TB
    through one task."""
    df = _plan(spark, "corpus_shard_assignment")
    plan = physical_plan(df)
    assert "hashpartitioning(__bucket" in plan, "corpus window not bucket-partitioned"
    assert has_broadcast_join(df), "bucket offsets must broadcast, not shuffle"


def test_contamination_broadcasts_benchmark_side(spark):
    """cross_source_contamination: the benchmark shingle set must be the
    broadcast build side — the corpus-side shingle relation must never
    hash-exchange on the string shingle key for the join."""
    df = _plan(spark, "cross_source_contamination")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    # the words exchange is computed once and shared by both branches
    assert "ReusedExchange" in plan
    # only the SMALL benchmark side may shuffle on the string shingle key
    # (its own distinct); the corpus side must not
    assert plan.count("Exchange hashpartitioning(shingle") == 1


def test_mixture_sample_map_only(spark):
    """weighted_mixture_sample is a pushed-down scan + filter: zero
    exchanges of any kind."""
    df = _plan(spark, "weighted_mixture_sample")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange" not in plan
    assert "*(1)" in plan  # single whole-stage-codegen span


def test_label_centroid_broadcast_back(spark):
    """label_centroid_quality: the O(labels×dim) centroid table broadcasts
    onto the corpus; the corpus side must not re-exchange for that join."""
    df = _plan(spark, "label_centroid_quality")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan


def test_event_sequences_single_shuffle(spark):
    """user_event_sequences: exactly one hash exchange (groupBy user_id) —
    the ordered sequence comes from array_sort after collection, not a
    window sort pass."""
    df = _plan(spark, "user_event_sequences")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_multimodal_png_queries_no_shuffle(spark):
    """Both PNG queries are pure mapInPandas chains: encode → (resize →)
    decode → features. ZERO exchanges — a shuffle appearing here means a
    codec stage stopped being a narrow map, which at 100 TB of payloads is
    the difference between linear and impossible."""
    for name in ("multimodal_image_features", "multimodal_resize"):
        df = _plan(spark, name)
        plan = physical_plan(df).split("== Initial Plan ==")[0]
        assert "Exchange" not in plan, name
        assert "MapInPandas" in plan, name


def test_near_dup_pipeline_portable_bounded_verification(spark):
    """The composed portable pipeline must verify Jaccard on the CANDIDATE
    pair table, never all-pairs: the plan joins the pair table to the
    per-doc shingle arrays (two joins), with no cartesian/nested-loop
    product anywhere."""
    df = _plan(spark, "near_dup_pipeline_portable")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_star_closure_output_matches_contract(spark):
    """near_dup_clusters_star executes the log-round closure; its final
    plan (cluster summary) is one hash aggregate over the star forest —
    and the driver never sees more than the convergence probes."""
    df = _plan(spark, "near_dup_clusters_star")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "HashAggregate" in plan


def test_boilerplate_codegen_shingling_no_forced_broadcast(spark):
    """doc_boilerplate_ngrams: 5-grams come from posexplode + window lead
    (codegen), not interpreted HOFs; and the frequent-5-gram side must NOT
    be a forced broadcast — its size is data-dependent (the
    near_dup_keep_best lesson), so the plan is whatever AQE picked."""
    df = _plan(spark, "doc_boilerplate_ngrams")
    final = physical_plan(df).split("== Initial Plan ==")[0]
    assert "posexplode" in final
    assert "transform" not in final and "aggregate(" not in final


def test_char_bigram_model_broadcasts(spark):
    """char_bigram_lm_score: the bigram model (bounded by alphabet^2) must
    broadcast back to the exploded corpus — a hash exchange of the corpus
    side on the bigram key would be a second full shuffle; scoring stays
    JVM-side (no Python eval nodes)."""
    df = _plan(spark, "char_bigram_lm_score")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan
    assert "Python" not in plan


def test_pagerank_iterates_on_cached_aggregate(spark):
    """nation_trade_pagerank: the fact table aggregates to the edge list
    ONCE and the 3 iterations run against the cached fraction table
    (InMemoryTableScan) — re-deriving the edges from lineitem each round
    would triple the fact shuffle; dimension joins broadcast."""
    df = _plan(spark, "nation_trade_pagerank")
    plan = physical_plan(df)
    assert "InMemoryTableScan" in plan
    assert "BroadcastHashJoin" in plan


def test_scd1_merge_single_full_outer_shuffle(spark):
    """scd1_merge_orders: MERGE is ONE full-outer join on the natural key;
    no nested-loop fallback, no driver-side collect of either side."""
    df = _plan(spark, "scd1_merge_orders")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "FullOuter" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_reservoir_sample_window_group_limit(spark):
    """reservoir_sample_per_source: the k=5 cutoff must push below the
    sort as a WindowGroupLimit so each map task keeps only its top-k
    candidates before the single source-keyed exchange."""
    df = _plan(spark, "reservoir_sample_per_source")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan
    import re
    n_exchanges = len(re.findall(r"\bExchange hashpartitioning", plan))
    assert n_exchanges <= 1


def test_zipf_topk_window_group_limit(spark):
    """zipf_slope_tokens: the global top-100 rank over the vocabulary must
    push below the exchange — in practice Catalyst does one better and
    rewrites rank<=100 into TakeOrderedAndProject(limit=100), a global
    top-k with per-partition pre-truncation; either node proves the
    vocabulary never sorts globally unbounded — the corpus-side token
    explode/count is the only full shuffle."""
    df = _plan(spark, "zipf_slope_tokens")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


def test_incremental_dedup_single_hash_shuffle(spark):
    """incremental_dedup_new_docs: the history hash set is O(corpus), so
    no HINT may force it broadcast — with the size threshold disabled the
    plan must degrade to a shuffle join (at sf0.01 the optimizer/AQE
    rightly broadcasts the tiny history side from size statistics; at
    100 TB those same statistics pick sort-merge)."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _plan(spark, "incremental_dedup_new_docs")
        plan = physical_plan(df).split("== Initial Plan ==")[0]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        assert "BroadcastHashJoin" not in plan, "hint must not force broadcast"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bpe_vocab_first_topk_bounded(spark):
    """bpe_merge_candidates: character work happens after the corpus
    collapses to its word vocabulary (the groupBy(word) aggregate), and
    the global top-20 is TakeOrderedAndProject, never an unbounded
    sort."""
    df = _plan(spark, "bpe_merge_candidates")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


def test_dq_report_single_scan_plus_anti_join(spark):
    """data_quality_report: all single-table metrics share one aggregate
    over one orders scan; RI adds exactly one (anti) join. Two orders
    scans total (agg + anti-join side), never one per constraint."""
    df = _plan(spark, "data_quality_report")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("orders.parquet") <= 2


def test_ann_portable_map_only_bucketing(spark):
    """embedding_ann_portable: bucket assignment must be map-only (planes
    are plan literals — no join for the sign matrix); the only join is
    the bucket-keyed candidate join."""
    df = _plan(spark, "embedding_ann_portable")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_session_window_single_shuffle_no_self_join(spark):
    """session_window_stats: the merging-window aggregate is ONE exchange
    on user_id with session merge inside the aggregate — no self-join,
    no second shuffle."""
    df = _plan(spark, "session_window_stats")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_anomaly_moments_broadcast_back(spark):
    """event_value_anomalies: the per-type moment table (|types| rows)
    must broadcast back onto the daily table — re-shuffling the daily
    side on event_type for the join would double the wide stages."""
    df = _plan(spark, "event_value_anomalies")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in plan


def test_weighted_reservoir_bounded_topk(spark):
    """weighted_reservoir_docs: the global top-k must be partial-top-k
    shaped (TakeOrderedAndProject or WindowGroupLimit) — never an
    unbounded global sort of the corpus."""
    df = _plan(spark, "weighted_reservoir_docs")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan


def test_triangles_enumerate_on_cached_edges(spark):
    """copurchase_triangles: the fact self-join builds the edge list once
    (cached — InMemoryTableScan feeds the enumeration joins); the
    enumeration never touches lineitem again."""
    df = _plan(spark, "copurchase_triangles")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    # the enumeration joins read the cached edge list; the only lineitem
    # references in the plan text are INSIDE the InMemoryRelation's stored
    # build plan (printed as part of the cache node), not live scans
    assert "InMemoryTableScan" in plan
    assert "InMemoryRelation" in plan


def test_grouped_hll_register_aggregate_shape(spark):
    """hll_tokens_by_source: the exploded-token relation must collapse to
    (source, j) register maxima with a map-side partial max before its
    exchange — the property that keeps the shuffle O(groups×m), not
    O(tokens)."""
    df = _plan(spark, "hll_tokens_by_source")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "partial_max" in plan


def test_busy_intervals_single_suppkey_exchange(spark):
    """supplier_busy_intervals: the island flag window, the island-id
    cumsum, the per-island aggregate and the per-supplier aggregate must
    all ride ONE hash(l_suppkey) exchange — the property that makes the
    interval merge a single-shuffle operator at 100 TB."""
    import re

    df = _plan(spark, "supplier_busy_intervals")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1, exchanges
    assert "l_suppkey" in exchanges[0]
    assert "Join" not in plan


def test_covariance_explodes_in_row_no_join_shuffle(spark):
    """embedding_covariance: the dim² expansion must happen WITHIN each
    row (chained generators), never via a self-join on vec_id — the
    corpus must not shuffle; the only wide stages are the (i, j) cell
    aggregate and the broadcast diagonal joins."""
    df = _plan(spark, "embedding_covariance")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Generate" in plan
    assert "SortMergeJoin" not in plan
    # marginal-sum + diagonal joins are all broadcast (each side is
    # ≤ |dims| rows; the diag subtree is duplicated in the plan, so the
    # count is ≥ 4 rather than exact)
    assert plan.count("BroadcastHashJoin") >= 4
    # every hash exchange is keyed on the (i, j) cell ids, not vec_id
    import re

    for keys in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "vec_id" not in keys, keys


def test_kmv_sketches_are_rank_limited(spark):
    """kmv_source_overlap: both bottom-k selections (per-source sketch,
    merged-pair union) must run as WindowGroupLimit (rank-limit pushdown)
    so only k rows per group survive the sort, and the corpus-scale side
    must collapse via partial aggregation before any pairwise work."""
    df = _plan(spark, "kmv_source_overlap")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan
    assert "partial_" in plan


def test_lexical_diversity_nested_aggregate_partitioning(spark):
    """doc_lexical_diversity: the (doc_id, tok) frequency aggregate and
    the per-doc rollup must be the ONLY two exchanges, the second keyed
    on a subset of the first (hash(doc_id, tok) → hash(doc_id))."""
    import re

    df = _plan(spark, "doc_lexical_diversity")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 2, exchanges
    assert all("doc_id" in e for e in exchanges)


def test_sparse_cosine_df_pruned_broadcast_index(spark):
    """doc_sparse_cosine_pairs: the df-pruned vocabulary must BROADCAST
    onto the tf table (|kept vocab| rows, never a corpus shuffle to apply
    the cut), and the pair dot-products must collapse through partial
    aggregation before the (doc_a, doc_b) exchange."""
    df = _plan(spark, "doc_sparse_cosine_pairs")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert has_broadcast_join(df)
    assert "partial_" in plan


def test_winnowing_single_doc_sort_reused(spark):
    """winnowing_fingerprints: the k-gram build (4 leads), the rolling
    minimum, and the per-doc aggregate all key on doc_id — ONE exchange,
    ONE sort, no second corpus scan and no unbounded-frame second window
    pass (n_grams rides as a precomputed int column)."""
    import re

    df = _plan(spark, "winnowing_fingerprints")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("doc_id" in e for e in exchanges), exchanges
    sorts = plan.count("Sort [doc_id")
    assert sorts <= 1, f"doc-partition sort should be paid once, saw {sorts}"


def test_semantic_dedup_broadcast_centroids_cell_join(spark):
    """semantic_dedup_cells: centroid assignment must be a broadcast
    argmin (corpus never shuffles for it) and the pair search must join
    ON the cell id — the SemDeDup bound — not cross-join the corpus."""
    df = _plan(spark, "semantic_dedup_cells")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_kfold_map_only_tag_single_exchange(spark):
    """kfold_assignment: the fold tag is a map-side expression; the only
    exchange is the (fold, source) aggregate."""
    import re

    df = _plan(spark, "kfold_assignment")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(exchanges) == 1, plan.count("Exchange")


def test_rapid_reorder_bucketed_equi_join_no_cartesian(spark):
    """rapid_reorder_pairs: the 7-day range predicate must execute as a
    bucketed EQUI-join on (custkey, bucket) — never a per-customer
    nested-loop/cartesian expansion."""
    df = _plan(spark, "rapid_reorder_pairs")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sorted_neighborhood_block_partitioned_rank(spark):
    """part_name_sorted_neighborhood: ranking must partition by the
    block key — NEVER a global single-partition sort — and the neighbor
    join must be an equi-join (no nested loop)."""
    df = _plan(spark, "part_name_sorted_neighborhood")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mad_outliers_broadcast_stats_back(spark):
    """event_value_mad_outliers: the per-type median/MAD tables (≤ |event
    types| rows) must broadcast back onto the fact side."""
    df = _plan(spark, "event_value_mad_outliers")
    assert has_broadcast_join(df)


def test_entropy_nested_key_aggregates_single_shuffle(spark):
    """doc_token_entropy: the (doc_id, term) count and the per-doc rollup
    key on doc_id-prefixed keys — the corpus pays the doc_id exchange
    once; no joins."""
    import re

    df = _plan(spark, "doc_token_entropy")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("doc_id" in e for e in exchanges), exchanges
    assert "Join" not in plan


def test_bm25_search_prunes_before_joins_takeordered_topk(spark):
    """bm25_search_ranking: the query-term filter must prune postings
    BEFORE the dl/df joins, scalars broadcast, and the top-20 must be
    TakeOrderedAndProject — never a global sort."""
    df = _plan(spark, "bm25_search_ranking")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert has_broadcast_join(df)


def test_dau_wau_bin_claim_no_range_self_join(spark):
    """daily_active_wau: WAU must come from the bin-claim explode (each
    active day claims 7 targets) — no nested-loop range self-join."""
    df = _plan(spark, "daily_active_wau")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Generate" in plan  # the 7-day claim explode


def test_psi_constant_sized_downstream(spark):
    """event_value_psi_drift: one corpus aggregate; everything after the
    (bucket) counts is constant-sized (≤ 20 rows) — the totals must
    broadcast, never shuffle the counts again by a new key."""
    df = _plan(spark, "event_value_psi_drift")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert has_broadcast_join(df) or "BroadcastNestedLoopJoin" in plan


def test_content_digest_single_aggregate_no_sort(spark):
    """table_content_digest: map-side hash + ONE grouped aggregate; an
    order-free digest must not introduce any Sort."""
    import re

    df = _plan(spark, "table_content_digest")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    assert "Sort " not in plan


def test_session_trigrams_single_user_exchange(spark):
    """session_event_trigrams: gap lag, session cumsum, and trigram leads
    all sort within the user partitioning — exactly one user-keyed
    exchange before the final (e1,e2,e3) aggregate."""
    import re

    df = _plan(spark, "session_event_trigrams")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    user_ex = [e for e in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan) if "user_id" in e]
    assert len(user_ex) == 1, user_ex


def test_golden_records_no_cartesian_bounded_candidates(spark):
    """part_golden_records: candidate generation stays the sorted-
    neighborhood equi-join (no cartesian/nested-loop anywhere in the
    composed pipeline)."""
    df = _plan(spark, "part_golden_records")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_merge_reaggregates_partials(spark):
    """resample_incremental_merge: both epoch partials and the merge key
    on (user_id, ts_hour) — partial aggregation present, merge exchange
    on the same key."""
    import re

    df = _plan(spark, "resample_incremental_merge")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "partial_" in plan
    # ts_hour appears as an inlined _groupingexpression; key on user_id
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert all("user_id" in e for e in exchanges), exchanges
    # one exchange per epoch partial; the merge reuses their partitioning
    assert len(exchanges) == 2, exchanges


def test_ri_matrix_broadcast_dims_anti_joins(spark):
    """referential_integrity_matrix: dimension parents broadcast into the
    anti-joins; no cartesian anywhere in the 7-edge union."""
    df = _plan(spark, "referential_integrity_matrix")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert has_broadcast_join(df)


def test_keyset_pagination_takeordered_no_global_sort(spark):
    """orders_keyset_pagination: both the boundary probe and the page are
    top-k (TakeOrderedAndProject) — the seek method must never global-sort
    the feed."""
    df = _plan(spark, "orders_keyset_pagination")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_classifier_inference_no_weight_join_single_exchange(spark):
    """quality_classifier_inference: weights are an inline expression —
    NO join anywhere; one vec_id exchange collapses the dot product."""
    import re

    df = _plan(spark, "quality_classifier_inference")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Join" not in plan
    exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(exchanges) == 1 and "vec_id" in exchanges[0], exchanges


def test_chi2_collapses_corpus_once(spark):
    """lang_source_chi2: the corpus collapses in the (lang, source) count;
    margins broadcast back — no second corpus-sized exchange."""
    df = _plan(spark, "lang_source_chi2")
    assert has_broadcast_join(df)


def test_basket_rules_broadcasts_dims_only(spark):
    """brand_basket_rules: part and the 25-row brand marginals broadcast;
    the pair generator is an equi-join on okey, never a cartesian."""
    df = _plan(spark, "brand_basket_rules")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert has_broadcast_join(df)
    assert "CartesianProduct" not in plan


def test_roc_auc_two_pass_rank_no_global_sort(spark):
    """classifier_roc_auc: the prefix-sum ranking partitions by bucket —
    no corpus-wide single-partition window (Exchange SinglePartition may
    appear only for the bounded bucket-offset table and final 1-row agg,
    never carrying the per-value table's k column)."""
    import re

    df = _plan(spark, "classifier_roc_auc")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    # per-value cumulative window must be bucket-partitioned
    assert re.search(r"Window .*partitionBy.*bucket|hashpartitioning\(bucket", plan), plan


def test_ewma_broadcasts_weight_table(spark):
    """event_type_ewma_daily: the 14-row weight table broadcasts; the
    corpus collapses to the daily rollup before the lag fan-out."""
    df = _plan(spark, "event_type_ewma_daily")
    assert has_broadcast_join(df)


def test_jaccard_prefix_join_no_cartesian(spark):
    """doc_jaccard_prefix_join: candidates come from an equi-join on the
    prefix token and verification touches candidates only — no cartesian
    anywhere in the plan."""
    df = _plan(spark, "doc_jaccard_prefix_join")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or "ShuffledHashJoin" in plan


def test_profile_single_fact_scan_count(spark):
    """orders_column_profile: the fact table is scanned a bounded number
    of times (one stats pass + two category histograms), never once per
    metric row."""
    df = _plan(spark, "orders_column_profile")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert plan.count("FileScan parquet") <= 4, plan.count("FileScan parquet")


def test_hll_sliding_register_window_partitioned_by_j(spark):
    """hll_sliding_weekly_users: the trailing-7-day merge windows over the
    register table PARTITIONED BY j — sketch-state-sized work, and the raw
    events scan feeds only the build + truth stages."""
    import re

    df = _plan(spark, "hll_sliding_weekly_users")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert re.search(r"hashpartitioning\(j", plan), "register merge must partition by j"


def test_scd2_windows_keyed_by_user(spark):
    """scd2_user_state_history: every window is user_id-partitioned —
    no global sort of the event stream."""
    import re

    df = _plan(spark, "scd2_user_state_history")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert not re.search(r"Exchange SinglePartition", plan), plan


def test_bitmap_overlap_exchanges_bitmap_rows_only(spark):
    """segment_bitmap_overlap: after the bitmap build, the pairwise join
    exchanges word-keyed bitmap rows — no user-level self-join, no
    cartesian."""
    df = _plan(spark, "segment_bitmap_overlap")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan


def test_rate_interpolation_broadcasts_constant_curve(spark):
    """order_rate_interpolation: the non-equi range join is against the
    broadcast CONSTANT knot table (BroadcastNestedLoop over 4 segments
    is per-row constant work), never a shuffled non-equi join."""
    df = _plan(spark, "order_rate_interpolation")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ks_and_equidepth_rank_partitioned_by_bucket(spark):
    """The order-statistic spine: the per-value cumulative window must be
    bucket-partitioned in both consumers (no corpus-wide single-partition
    window)."""
    import re

    for name in ["hash_uniformity_ks", "order_price_equidepth_histogram"]:
        df = _plan(spark, name)
        plan = physical_plan(df).split("== Initial Plan ==")[0]
        assert re.search(r"hashpartitioning\(bucket", plan), name


def test_skyline_windows_not_joins(spark):
    """part_price_size_skyline: the sort-based rewrite must contain NO
    join at all — dominance comes from two window frames."""
    df = _plan(spark, "part_price_size_skyline")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Join" not in plan, "skyline must be join-free"


def test_attribution_single_user_exchange(spark):
    """purchase_attribution_first_last: lag and first_value share ONE
    user-keyed window exchange."""
    import re

    df = _plan(spark, "purchase_attribution_first_last")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    user_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exchanges) <= 2, len(user_exchanges)


def test_twap_no_single_partition_exchange(spark):
    """event_value_twap_daily: every window/aggregate is (user, day)- or
    day-keyed; nothing serializes onto one partition."""
    df = _plan(spark, "event_value_twap_daily")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "Exchange SinglePartition" not in plan


def test_column_profile_has_no_expand(spark):
    """orders_column_profile: the round-4 multi-distinct shape planned an
    Expand duplicating every scan row ~7×; the value-count melt must keep
    the plan Expand-free (one generate + one partial-combined shuffle)."""
    df = _plan(spark, "orders_column_profile")
    plan = physical_plan(df)
    assert "Expand" not in plan, "multi-distinct Expand reintroduced"


def test_multimodal_jpeg_pipeline_is_shuffle_free(spark):
    """multimodal_jpeg_features: payload build + decode are two chained
    mapInPandas stages; r15 adds EXACTLY ONE round-robin exchange of the
    bare doc_id projection BELOW both Python stages (guide §2.5: the
    single-file corpus gave the whole pure-Python codec chain one task —
    A/B 1.34->0.72 s at sf0.1). The exchange must carry only doc_id
    (ids move, payload bytes never cross a shuffle — guide §8), so the
    pipeline stays narrow from the payload builder up."""
    df = _plan(spark, "multimodal_jpeg_features")
    plan = physical_plan(df)
    # the ONLY exchange kind present is the id round-robin (AQE's plan
    # string may render the same node in both Final and Initial sections,
    # so pin the partitioning kinds, not the node count)
    assert "RoundRobinPartitioning" in plan
    assert "hashpartitioning" not in plan and "rangepartitioning" not in plan
    # the exchange sits below the Python stages: everything above it is
    # the chained codec pipeline, so payloads never cross it
    assert plan.index("Exchange") > plan.index("MapInPandas")


def test_ivf_at_rest_layout_probe_is_partition_pruned(spark, tmp_path):
    """SCALE.md's IVF at-rest path, implemented r9 (operators/ivf_layout):
    the corpus written hive-partitioned by coarse cell; a probe must (a)
    return exactly what the in-memory ivf_topk returns at equal knobs,
    and (b) scan ONLY the probed cells — PartitionFilters on `cell` in
    the plan and a pruned file listing, not a full pass."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.ivf_layout import (
        probe_ivf_layout,
        write_ivf_layout,
    )
    from nbi_oedi_etl_spark.operators.similarity import ivf_topk
    from nbi_oedi_etl_spark.sources import read_table

    SF = "/root/testdata/sf0.001"
    corpus = read_table(spark, SF, "embeddings")
    # orderBy before limit: LIMIT without ORDER BY may pick different
    # rows per evaluation, and the two sides evaluate it independently
    queries = (
        corpus.orderBy("vec_id").limit(3)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    dest = str(tmp_path / "ivf")
    cent = write_ivf_layout(corpus, dest, n_cells=8)

    probed = probe_ivf_layout(spark, dest, queries, cent, k=5, n_probe=2)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the cell predicate reached the partition filter, not a post-scan one
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("cell" in ln for ln in pf), pf

    got = sorted(
        map(tuple, probed.select("query_id", "vec_id", "rank").collect())
    )
    want = sorted(
        map(
            tuple,
            ivf_topk(corpus, queries, k=5, n_cells=8, n_probe=2)
            .select("query_id", "vec_id", "rank")
            .collect(),
        )
    )
    assert got == want and len(got) > 0

    # pruning proof on a SINGLE query (3 queries x 2 probes can cover
    # every cell of a tiny corpus; DataFrame.inputFiles() reports the
    # relation's full index, not the pruned selection, so the binding
    # evidence is the PartitionFilters IN-list itself): one query probes
    # exactly 2 of the 8 cells
    import re as _re

    one = probe_ivf_layout(spark, dest, queries.orderBy("query_id").limit(1), cent, k=5, n_probe=2)
    plan1 = one._jdf.queryExecution().executedPlan().toString()
    pf1 = next(ln for ln in plan1.splitlines() if "PartitionFilters" in ln)
    m = _re.search(r"cell#\d+ IN \(([^)]*)\)", pf1)
    assert m, pf1
    probed = {int(x) for x in m.group(1).split(",")}
    n_parts = len(
        {f.rsplit("cell=", 1)[1].split("/")[0]
         for f in spark.read.parquet(dest).inputFiles()}
    )
    assert len(probed) == 2 and n_parts == 8, (probed, n_parts)


def test_ivf_layout_probe_preserves_id_type_and_handles_empty_batch(spark, tmp_path):
    """r9 review regressions: the probe keeps the query id column's
    NATIVE type (no driver-side schema rebuild — string ids work where a
    hard-coded long schema crashed), and an empty query batch flows
    through the same single code path yielding an empty result of the
    same schema."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.ivf_layout import (
        probe_ivf_layout,
        write_ivf_layout,
    )
    from nbi_oedi_etl_spark.sources import read_table

    corpus = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    dest = str(tmp_path / "ivf")
    cent = write_ivf_layout(corpus, dest, n_cells=8)

    empty_q = corpus.where(F.lit(False)).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    empty = probe_ivf_layout(spark, dest, empty_q, cent)
    assert empty.count() == 0
    assert dict(empty.dtypes)["query_id"] == "bigint"

    str_q = (
        corpus.orderBy("vec_id")
        .limit(2)
        .select(F.concat(F.lit("q-"), F.col("vec_id")).alias("query_id"), "embedding")
    )
    out = probe_ivf_layout(spark, dest, str_q, cent, k=3, n_probe=2)
    assert dict(out.dtypes)["query_id"] == "string"
    rows = out.collect()
    assert rows and all(r["query_id"].startswith("q-") for r in rows)


def test_banded_layout_probe_parity_and_partition_pruned(spark, tmp_path):
    """The LSH analogue of the IVF at-rest layout (r10,
    operators/banded_layout): corpus band rows written hive-partitioned
    by bucketed band key. A probe must (a) find exactly the
    new-vs-corpus candidate pairs the in-memory minhash_lsh_candidates
    finds on the union, and (b) scan ONLY the probed pcell partitions —
    static IN-list in PartitionFilters."""
    import re as _re

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.banded_layout import (
        probe_banded_layout,
        write_banded_layout,
    )
    from nbi_oedi_etl_spark.operators.dedup import minhash_lsh_candidates
    from nbi_oedi_etl_spark.sources import read_table

    SF = "/root/testdata/sf0.001"
    docs = read_table(spark, SF, "documents").select("doc_id", "text")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    # the batch: held-out docs plus EXACT copies of two corpus docs under
    # new ids — guaranteed band collisions, so parity is tested on a
    # non-empty candidate set
    dupes = (
        corpus.orderBy("doc_id")
        .limit(2)
        .select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    )
    batch = docs.where(F.col("doc_id") % 5 == 0).unionByName(dupes)

    dest = str(tmp_path / "banded")
    write_banded_layout(corpus, dest, n_buckets=16)
    pairs = probe_banded_layout(spark, dest, batch)

    # (b) pruning, pinned on a SMALL batch (the parity batch above is
    # ~100 docs x 8 bands and can legitimately touch every pcell of a
    # tiny layout): 2 docs probe at most 16 of the 128 pcells, and the
    # static partition predicate must carry EXACTLY the batch's own
    # band-row pcells (IN for short lists, INSET past the optimizer's
    # conversion threshold)
    from nbi_oedi_etl_spark.operators.banded_layout import _pcell
    from nbi_oedi_etl_spark.operators.dedup import band_rows

    small = probe_banded_layout(spark, dest, dupes)
    plan = small._jdf.queryExecution().executedPlan().toString()
    pf = next(ln for ln in plan.splitlines() if "PartitionFilters" in ln)
    mm = _re.search(r"pcell#\d+ (?:IN \(([^)]*)\)|INSET ([0-9, ]+))", pf)
    assert mm, pf
    plan_cells = {
        int(x) for x in (mm.group(1) or mm.group(2)).replace(" ", "").split(",")
    }
    want_cells = {
        r["pcell"]
        for r in band_rows(dupes)
        .withColumn("pcell", _pcell(16))
        .select("pcell")
        .distinct()
        .collect()
    }
    assert plan_cells == want_cells
    assert len(plan_cells) <= 16 < 128
    # (a) parity: probe pairs == the union self-join's cross pairs
    got = {
        (r["doc_id_new"], r["doc_id_corpus"]) for r in pairs.collect()
    }
    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    union_pairs = minhash_lsh_candidates(corpus.unionByName(batch)).collect()
    want = set()
    for r in union_pairs:
        a, b = r["doc_id_a"], r["doc_id_b"]
        if (a in batch_ids) != (b in batch_ids):  # exactly one side new
            new, old = (a, b) if a in batch_ids else (b, a)
            want.add((new, old))
    assert got == want
    # the planted exact copies MUST collide with their corpus originals
    planted = {p for p in got if p[0] >= 1_000_000}
    assert len(planted) >= 2


def test_banded_layout_cdc_probe_then_append_loop(spark, tmp_path):
    """The full CDC loop (r10): probe each arriving batch against the
    layout, then append the batch's band rows — every batch must see
    all PRIOR docs as candidate partners, and the final incrementally
    built layout must probe identically to a write-once layout of the
    full corpus."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.banded_layout import (
        append_to_banded_layout,
        probe_banded_layout,
        write_banded_layout,
    )
    from nbi_oedi_etl_spark.operators.dedup import minhash_lsh_candidates
    from nbi_oedi_etl_spark.sources import read_table

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    waves = [docs.where(F.col("doc_id") % 3 == k) for k in range(3)]
    dest = str(tmp_path / "cdc")
    write_banded_layout(waves[0], dest, n_buckets=16)

    all_pairs: set = set()
    seen = waves[0]
    for wave in waves[1:]:
        got = {
            (r["doc_id_new"], r["doc_id_corpus"])
            for r in probe_banded_layout(spark, dest, wave).collect()
        }
        wave_ids = {r["doc_id"] for r in wave.select("doc_id").collect()}
        want = set()
        for r in minhash_lsh_candidates(seen.unionByName(wave)).collect():
            a, b = r["doc_id_a"], r["doc_id_b"]
            if (a in wave_ids) != (b in wave_ids):
                new, old = (a, b) if a in wave_ids else (b, a)
                want.add((new, old))
        assert got == want
        all_pairs |= got
        append_to_banded_layout(spark, dest, wave)
        seen = seen.unionByName(wave)

    # final state: the incrementally built layout probes identically to
    # a write-once layout of the full corpus
    probe_batch = docs.orderBy("doc_id").limit(3).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    once = str(tmp_path / "once")
    write_banded_layout(docs, once, n_buckets=16)
    got_inc = sorted(
        map(tuple, probe_banded_layout(spark, dest, probe_batch).collect())
    )
    got_once = sorted(
        map(tuple, probe_banded_layout(spark, once, probe_batch).collect())
    )
    assert got_inc == got_once and len(got_inc) >= 3
    assert len(all_pairs) > 0  # the loop exercised non-trivial candidates


def test_banded_layout_partition_compaction_preserves_probe(spark, tmp_path):
    """The maintenance composition the append docstring promises: after
    N appends a pcell holds N files; compacting one partition directory
    with ``sources.sinks.compact_parquet`` (into a sibling dir swap)
    must leave probe results identical and cut the file count."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.banded_layout import (
        append_to_banded_layout,
        probe_banded_layout,
        write_banded_layout,
    )
    from nbi_oedi_etl_spark.sources import read_table
    from nbi_oedi_etl_spark.sources.sinks import compact_parquet

    docs = read_table(spark, "/root/testdata/sf0.001", "documents").select(
        "doc_id", "text"
    )
    dest = str(tmp_path / "layout")
    write_banded_layout(docs.where(F.col("doc_id") % 3 == 0), dest, n_buckets=8)
    for k in (1, 2):
        append_to_banded_layout(spark, dest, docs.where(F.col("doc_id") % 3 == k))

    batch = docs.orderBy("doc_id").limit(2).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"), "text"
    )
    before = sorted(map(tuple, probe_banded_layout(spark, dest, batch).collect()))

    # compact the most fragmented pcell dir (3 appends -> up to 3 files)
    pdirs = [
        os.path.join(dest, d) for d in os.listdir(dest) if d.startswith("pcell=")
    ]
    frag = max(
        pdirs, key=lambda d: len([f for f in os.listdir(d) if f.endswith(".parquet")])
    )
    n_before = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_before >= 2, "appends should have fragmented at least one pcell"
    tmp_out = str(tmp_path / "compacted")
    compact_parquet(spark, frag, tmp_out)
    shutil.rmtree(frag)
    shutil.move(tmp_out, frag)
    os.remove(os.path.join(frag, "_SUCCESS"))
    n_after = len([f for f in os.listdir(frag) if f.endswith(".parquet")])
    assert n_after < n_before

    after = sorted(map(tuple, probe_banded_layout(spark, dest, batch).collect()))
    assert after == before and len(after) >= 2


def test_ivf_layout_self_exclusion_native_vs_string(spark, tmp_path):
    """ADVICE r9: self-exclusion compares NATIVELY when corpus and query
    id dtypes match (exact, matches ivf_topk), falling back to string
    casts only on a type mismatch — where the foreign-domain caveat is
    documented (a double query_id 1.0 does NOT exclude bigint corpus id 1
    because '1.0' != '1')."""
    from pyspark.sql import functions as F

    from nbi_oedi_etl_spark.operators.ivf_layout import (
        probe_ivf_layout,
        write_ivf_layout,
    )
    from nbi_oedi_etl_spark.sources import read_table

    corpus = read_table(spark, "/root/testdata/sf0.001", "embeddings")
    dest = str(tmp_path / "ivf")
    cent = write_ivf_layout(corpus, dest, n_cells=8)

    # same dtype (bigint/bigint): native compare — self excluded
    self_q = corpus.orderBy("vec_id").limit(1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qid = self_q.collect()[0]["query_id"]
    native = probe_ivf_layout(spark, dest, self_q, cent, k=5, n_probe=8)
    assert all(r["vec_id"] != qid for r in native.collect())

    # dtype mismatch (double query id over bigint corpus): string-cast
    # fallback — the numerically-equal corpus row is NOT excluded
    dbl_q = self_q.select(
        F.col("query_id").cast("double").alias("query_id"), "embedding"
    )
    mixed = probe_ivf_layout(spark, dest, dbl_q, cent, k=5, n_probe=8)
    assert any(r["vec_id"] == qid for r in mixed.collect())


def test_ivf_pq_recall_curve_plan_no_corpus_cartesian(spark):
    """The recall curve's candidate path must stay the cell-keyed
    equi-join shape: the only nested-loop joins allowed are the bounded
    broadcast-scalar crossJoins (queries × 8 centroids; the n_queries /
    n_truth scalar attach), never a corpus×corpus product. The level
    explode multiplies candidates by |levels| BEFORE the aggregating
    groupBy — visible as a Generate under the partial aggregate, not a
    join."""
    df = _plan(spark, "ivf_pq_recall_curve")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan


def test_lsh_banding_curve_plan_banded_equi_join(spark):
    """The banding curve's candidate generation must be the banded
    self-EQUI-join on (r, band_id, band_key) — a SortMergeJoin/
    ShuffledHashJoin keyed by the band tuple, never an all-pairs
    product. The scalar n_truth attach is the only nested-loop
    (broadcast, 1 row)."""
    df = _plan(spark, "lsh_banding_recall_curve")
    plan = physical_plan(df).split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in plan
    # the band-key equi-join condition must reach a hash/merge join
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )
