"""Physical-plan quality gates (the 100 TB design checks, SURVEY §4).

These tests pin the *plan shape*, not results: filters reach the parquet
scan, column pruning holds, small dims broadcast, top-k never global-sorts,
and the as-of/range joins never degrade to nested loops.  A regression here
is a scale bug even when results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    from queries import q6_selective_agg

    p = plan(q6_selective_agg(spark, SF))
    assert "PushedFilters: [" in p
    # the range + quantity predicates must be in the pushed list
    assert "l_shipdate" in p.split("PushedFilters")[1][:400]
    assert "l_quantity" in p.split("PushedFilters")[1][:400]


def test_column_pruning(spark):
    from queries import p3_trim_projection

    p = plan(p3_trim_projection(spark, SF))
    read_schema = p.split("ReadSchema:")[1].splitlines()[0]
    assert "c_custkey" in read_schema and "c_name" in read_schema
    assert "c_acctbal" not in read_schema  # unused column never read


def test_dim_joins_broadcast(spark):
    from queries import j2_dim_chain_join, q5_nation_revenue

    for fn in (j2_dim_chain_join, q5_nation_revenue):
        p = plan(fn(spark, SF))
        assert "BroadcastHashJoin" in p
        assert "SortMergeJoin" not in p


def test_keyset_page_no_global_sort(spark):
    from queries import o1_keyset_page

    p = plan(o1_keyset_page(spark, SF))
    assert "TakeOrderedAndProject" in p


def test_asof_and_range_join_never_nested_loop(spark):
    from queries import asof_join_events_orders, range_join_sessions

    for fn in (asof_join_events_orders, range_join_sessions):
        p = plan(fn(spark, SF))
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


def test_keep_first_single_exchange(spark):
    """J4 window dedup: exactly one hash exchange (on the dedup key)."""
    from queries import j4_keepfirst_dedup

    p = plan(j4_keepfirst_dedup(spark, SF))
    assert p.count("Exchange hashpartitioning") == 1
    assert "WindowGroupLimit" in p or "Window" in p


def test_q1_partial_aggregation(spark):
    """Scan-agg must partial-aggregate map-side before the exchange."""
    from queries import q1_pricing_summary

    p = plan(q1_pricing_summary(spark, SF))
    assert "HashAggregate" in p
    assert p.index("HashAggregate") < p.index("Exchange")  # final agg above exchange
    assert "partial_sum" in p or "partial" in p.lower()


def test_whole_stage_codegen_on_hot_path(spark):
    from queries import q1_pricing_summary

    df = q1_pricing_summary(spark, SF)
    df.collect()  # AQE finalizes codegen stages only at execution
    p = plan(df)
    assert "isFinalPlan=true" in p
    # '*(n)' node prefix = inside a WholeStageCodegen stage
    assert "*(" in p


def test_obfuscation_stays_jvm_side(spark):
    """sha2-mode hashing must not appear as a Python UDF eval node."""
    from queries import f1_f2_address_key_hash

    p = plan(f1_f2_address_key_hash(spark, SF))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_memo_probe_broadcasts_cache(spark):
    from queries import j5_memo_probe

    p = plan(j5_memo_probe(spark, SF))
    assert "BroadcastHashJoin" in p and "LeftOuter" in p


def test_aqe_splits_skewed_join(spark):
    """AQE must mark and split the skewed side of a sort-merge join: 95% of
    the left rows share one key, thresholds lowered so local data triggers
    the optimization."""
    import pyspark.sql.functions as F

    left = spark.range(20000).select(
        F.when(F.col("id") % 20 != 0, 1).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    right = spark.range(2000).select(F.col("id").alias("k"), F.lit("r").alias("rv"))
    old = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor"
        ),
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": spark.conf.get(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        ),
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"
        ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
        j = left.join(right, "k")
        # collect() executes j's own query execution so AQE finalizes ITS plan
        # (count() would build and execute a separate aggregate plan)
        rows = j.collect()
        # 19000 hot-key (k=1) matches + 100 sparse keys (0,20,…,1980)
        assert len(rows) == 19100
        p = plan(j)
        assert "isFinalPlan=true" in p
        assert "skew=true" in p
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_lookup_or_compute_join_strategy_follows_flag(spark):
    """broadcast_overlays=True pins BroadcastHashJoin; False must NOT
    broadcast the overlays (large cold-cache miss sets would OOM a forced
    driver broadcast) — the joins fall back to a shuffle strategy."""
    from engine.ops.memo import lookup_or_compute

    df = spark.range(2000).select(F.col("id").alias("k"), F.lit("x").alias("payload"))
    cache = spark.range(500).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))

    def compute(misses):
        return misses.select("k", (F.col("k") * 2).alias("v"))

    p_b = plan(lookup_or_compute(df, cache, "k", ["v"], compute, broadcast_overlays=True))
    assert "BroadcastHashJoin" in p_b

    p_s = plan(lookup_or_compute(df, cache, "k", ["v"], compute, broadcast_overlays=False))
    assert "BroadcastHashJoin" not in p_s
    assert "ShuffledHashJoin" in p_s or "SortMergeJoin" in p_s


def test_lookup_or_compute_negative_cache_is_a_hit(spark):
    """A cache row whose value columns are NULL is a NEGATIVE entry: it
    must read as a HIT (keep the NULL verbatim) and must NOT be handed to
    compute_fn (r10 verdict #3 — the old value_cols[0] IS NULL miss test
    recomputed such rows every batch)."""
    from engine.ops.memo import lookup_or_compute

    df = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "payload"]
    )
    # k=1 positive hit, k=2 NEGATIVE hit (NULL value), k=3 genuine miss.
    cache = spark.createDataFrame(
        [(1, "CACHED_1"), (2, None)], ["k", "v"]
    )

    def compute(misses):
        return misses.select(
            "k", F.concat(F.lit("COMPUTED_"), F.col("k")).alias("v")
        )

    out = lookup_or_compute(df, cache, "k", ["v"], compute)
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "CACHED_1", 2: None, 3: "COMPUTED_3"}
    assert out.columns == ["k", "payload", "v"]  # __hit marker dropped


def test_runtime_bloom_filter_reduces_shuffle_join(spark):
    """When the dim side is too big to broadcast but carries a selective
    filter, Spark must inject a runtime bloom filter on the fact side —
    the shuffle-join row reduction that matters at 100 TB (the fact scan
    drops non-matching rows BEFORE the exchange).  Thresholds lowered so
    local-size data qualifies; on a real cluster the defaults
    (creation ≤ 10 MB, application ≥ 10 GB scan) gate it to exactly the
    fact-dim shape this test pins."""
    old = {
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold":
            spark.conf.get(
                "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
            ),
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = spark.read.parquet(f"{SF}/lineitem.parquet")
        o = spark.read.parquet(f"{SF}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        p = plan(j)
        assert "bloom_filter_agg" in p or "BloomFilterMightContain" in p
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_round3_text_ops_zero_exchange(spark):
    # html_extract / quality_classifier / char_entropy are pure expression
    # chains: any Exchange in these plans is a scale regression.
    from queries import char_entropy, html_extract, quality_classifier

    for fn in (html_extract, quality_classifier, char_entropy):
        p = plan(fn(spark, SF))
        assert "Exchange" not in p, fn.__name__
        assert "Python" not in p, fn.__name__  # stays JVM-side


def test_exists_semi_join_broadcasts_and_filters_build_side(spark):
    from queries import exists_order_priority

    p = plan(exists_order_priority(spark, SF))
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p
    # the returnflag filter must sit below the join, pushed to the
    # lineitem scan (so only 'R' rows build the broadcast hash side)
    assert "EqualTo(l_returnflag,R)" in p


def test_constraint_audit_partial_aggregation(spark):
    from queries import constraint_audit

    p = plan(constraint_audit(spark, SF))
    # one scan, partial -> final agg, single 1-row exchange
    assert p.count("Scan parquet") == 1
    assert "partial" in p.lower()


def test_scalar_threshold_rides_broadcast(spark):
    from queries import rich_idle_customers, supplier_value_share

    for fn in (rich_idle_customers, supplier_value_share):
        p = plan(fn(spark, SF))
        assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
        # the 1-row threshold table must be the broadcast side, never the fact
        assert "SortMergeJoin" not in p.split("Broadcast")[0]


def test_quantile_buckets_single_boundary_pass(spark):
    from queries import perplexity_buckets

    p = plan(perplexity_buckets(spark, SF))
    # boundary assignment joins a broadcast 1-row table; no extra shuffle of
    # the scored corpus beyond the LM's own aggregations
    assert "BroadcastNestedLoopJoin" in p  # 1-row cross join


def _walk_nodes(jplan, acc):
    acc.append(jplan.nodeName())
    ch = jplan.children()
    for i in range(ch.size()):
        _walk_nodes(ch.apply(i), acc)
    return acc


def physical_nodes(df) -> list[str]:
    """Node names of the physical plan tree (AQE initial plan unwrapped).
    InMemoryTableScan is a LEAF here — its cached child subtree is built
    once at materialization, so it must NOT count as a live re-scan."""
    jp = df._jdf.queryExecution().executedPlan()
    if jp.nodeName() == "AdaptiveSparkPlan":
        jp = jp.initialPlan()
    return _walk_nodes(jp, [])


def test_corpus_pipeline_v3_single_corpus_pass(spark):
    """The composed pipeline consumes its post-filter corpus 4× (model +
    probe in the scorer, quota counts + ranked stream in the mixture).
    VERDICT r3 #1: those reads must hit the persisted cut points — ZERO
    live parquet re-scans of `documents` in the final plan, every repeat
    read an InMemoryTableScan."""
    from queries import corpus_pipeline_v3

    nodes = physical_nodes(corpus_pipeline_v3(spark, SF))
    scans = [n for n in nodes if "Scan parquet" in n or "FileSourceScan" in n]
    imts = [n for n in nodes if "InMemoryTableScan" in n]
    assert scans == [], f"live file scans in composed plan: {scans}"
    assert len(imts) >= 2, f"expected cached reads, got {nodes}"


def test_bigram_scorer_reads_cached_input_twice(spark):
    """Scorer-level version of the same gate: with a persisted input, the
    model-count and probe sides are both InMemoryTableScans of ONE
    materialization — the blocklist-filter subtree appears zero times
    live."""
    from pyspark.sql import functions as F

    from engine.extended.curation import bigram_lm_scores, domain_blocklist_filter
    from queries import _url_text2_expr, t

    d = t(spark, SF, "documents").select(
        "doc_id", _url_text2_expr().alias("text"), "source"
    )
    blocked = spark.createDataFrame([("blocked.example.net",)], "domain string")
    kept = domain_blocklist_filter(d, blocked).persist()
    try:
        nodes = physical_nodes(bigram_lm_scores(kept, carry_cols=["source"]))
        scans = [n for n in nodes if "Scan parquet" in n or "FileSourceScan" in n]
        imts = [n for n in nodes if "InMemoryTableScan" in n]
        assert scans == [], f"live file scans in scorer plan: {scans}"
        # probe + model-count sides (the c2 subtree prints twice pre-AQE;
        # runtime ReuseExchange collapses it) — all cache reads, no rescans
        assert 2 <= len(imts) <= 3, f"expected cached reads, got {nodes}"
    finally:
        kept.unpersist()


def test_funnel_pushes_step_predicates_to_the_scan(spark):
    """Each funnel step's event_type equality must reach the parquet scan
    (PushedFilters) — at 100 TB each step reads one type's fraction, not
    the whole event table."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["funnel_conversion"](spark, SF))
    assert "PushedFilters" in p
    for step in ("view", "click", "purchase"):
        assert f"EqualTo(event_type,{step})" in p, f"step {step} not pushed:\n{p[:2000]}"


def test_pmi_collocations_partial_aggregates_and_broadcast_totals(spark):
    """The unigram/bigram aggregates must map-side combine (partial_count
    before the exchange) and the two 1-row totals must broadcast — nothing
    corpus-sized crosses the wire after the first aggregates."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["pmi_collocations"](spark, SF))
    assert "partial_count" in p or "partial_sum" in p
    assert p.count("BroadcastNestedLoopJoin") == 2  # the two 1-row totals
    assert "SortMergeJoin" not in p  # token joins stay broadcast at this size


def test_cohort_retention_partial_aggregates(spark):
    """The (user, k) distinct and the (cohort, k) count both partial-
    aggregate; the firsts join keys on the user column both sides."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["cohort_retention"](spark, SF))
    assert "partial_min" in p  # firsts aggregate combines map-side
    assert "HashAggregate" in p
    assert "BroadcastNestedLoopJoin" not in p


def test_session_r4c2_ops_plan_shapes(spark):
    """Round-4 second-continuation operators: composition scans stay pure
    codegen (no Python eval), the anomaly window pushes its null filters
    to the scan, and the weighted sample keeps the WindowGroupLimit
    heap."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["script_profile"](spark, SF))
    assert "EvalPython" not in p          # length-diff counting is codegen
    assert "partial_count" in p or "partial_sum" in p

    p = plan(SPARK_QUERIES["code_detect_stats"](spark, SF))
    assert "EvalPython" not in p
    assert p.count("Exchange") <= 2       # one agg exchange (+AQE reuse)

    p = plan(SPARK_QUERIES["timeseries_anomaly"](spark, SF))
    assert "PushedFilters" in p
    pushed = p.split("PushedFilters")[1][:300]
    assert "IsNotNull(user_id)" in pushed and "IsNotNull(value)" in pushed

    p = plan(SPARK_QUERIES["weighted_sample_topk"](spark, SF))
    assert "WindowGroupLimit" in p        # top-k heap, not full group sort


def test_entity_match_and_triangles_never_nested_loop(spark):
    """Blocked linkage and degree-ordered triangles are equi-join plans —
    a CartesianProduct or non-broadcast nested loop is the all-pairs
    failure both operators exist to avoid."""
    from queries import SPARK_QUERIES

    for name in ("entity_match", "triangle_count_topk"):
        p = plan(SPARK_QUERIES[name](spark, SF))
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_negative_sample_joins_position_index_by_key(spark):
    """Probes equi-join the position index; the only nested-loop join is
    the broadcast 1-row corpus count."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["negative_sample_topk"](spark, SF))
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1  # the 1-row count table


def test_compression_quality_single_arrow_seam(spark):
    """Exactly one Arrow-vectorized Python eval — never row-at-a-time."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["compression_quality"](spark, SF))
    assert p.count("ArrowEvalPython") == 1
    assert "BatchEvalPython" not in p     # the row-at-a-time path


def test_golden_record_and_mi_plan_shapes(spark):
    """Survivorship's latest/longest rules are ONE aggregate (struct-max,
    no join); MI's marginals join at joint cardinality with the total as
    a broadcast 1-row table; calibration keeps the single key window."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["golden_user_profile"](spark, SF))
    assert "EvalPython" not in p
    assert "partial_max" in p          # struct-max combines map-side

    p = plan(SPARK_QUERIES["lang_source_mi"](spark, SF))
    assert "CartesianProduct" not in p
    assert "partial_count" in p

    p = plan(SPARK_QUERIES["quality_calibration"](spark, SF))
    assert "EvalPython" not in p
    assert p.count("Exchange") <= 2    # tokenize scan + one source window


def test_final_batch_plan_shapes(spark):
    """Late-session operators: equi-join-only spatial probe, partial
    aggregation in the rollup merge and readability/gini scans, and a
    codegen-only centroid pipeline (no Python eval anywhere)."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["spatial_radius_join"](spark, SF))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p   # cells meet in equi-joins

    p = plan(SPARK_QUERIES["rollup_hour_to_day"](spark, SF))
    assert "partial_sum" in p or "partial_count" in p
    assert "EvalPython" not in p

    for name in ("readability_by_source", "token_gini_by_source",
                 "centroid_drift_by_label", "clustering_coeff_topk",
                 "multivariate_outliers", "range_frame_hour_sum"):
        p = plan(SPARK_QUERIES[name](spark, SF))
        assert "EvalPython" not in p, name

    # top-k outliers ride a TakeOrderedAndProject heap, never a global sort
    p = plan(SPARK_QUERIES["multivariate_outliers"](spark, SF))
    assert "TakeOrderedAndProject" in p


def test_size_rank_family_never_single_partitions_the_corpus(spark):
    """balanced_shards / length_bucket_batches / budget_select claim a
    scale-safe global rank (bit-length buckets, no single-reducer window):
    the executed plan must carry NO SinglePartition exchange on the corpus
    path — the bounded offsets side rides a broadcast instead."""
    from queries import SPARK_QUERIES

    for name in ("balanced_shards", "length_bucket_batches",
                 "token_budget_select"):
        p = plan(SPARK_QUERIES[name](spark, SF))
        assert "Exchange SinglePartition" not in p, name
        assert "BroadcastExchange" in p, name  # the ≤64-row offsets table


def test_keep_best_single_exchange_shared_by_both_windows(spark):
    """dedup_keep_best's row_number and cluster-size count share one hash
    exchange on the content key — a second corpus shuffle would double the
    dedup's cost at scale."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["dedup_keep_best"](spark, SF))
    assert p.count("Exchange hashpartitioning(key") == 1


def test_incremental_agg_merge_no_second_history_pass(spark):
    """The matview refresh reads orders once per slice and merges with ONE
    full-outer join — no diff pass, no re-aggregation of the merged side."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["incremental_agg_merge"](spark, SF)).lower()
    assert p.count("fullouter") == 1


def test_moments_merge_is_map_side_partial(spark):
    """Shard moment partials collapse map-side: the plan carries partial +
    final HashAggregates, and the shuffle key is the 4-value shard id —
    never the raw values."""
    from queries import SPARK_QUERIES

    p = plan(SPARK_QUERIES["moments_shard_merge"](spark, SF))
    assert "partial_sum" in p or "partial_count" in p.lower() or "HashAggregate" in p
    assert "Exchange hashpartitioning(shard" in p


def test_tpch_subquery_shapes_avoid_nested_loops(spark):
    """VERDICT r6 #6: the Q2-style correlated min (window-decorrelated) and
    the Q20-style nested semi-join chain must plan as broadcast/hash joins
    only — a BroadcastNestedLoopJoin or CartesianProduct here is the
    decorrelation failing and is quadratic at scale."""
    from queries import q2_min_cost_supplier, q20_excess_share_suppliers

    for fn in (q2_min_cost_supplier, q20_excess_share_suppliers):
        p = plan(fn(spark, SF))
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__
        assert "CartesianProduct" not in p, fn.__name__
    # Q2: the correlated MIN decorrelates into ONE window over the offer
    # set (one shuffle), not a re-scan + self-join of lineitem
    p2 = plan(q2_min_cost_supplier(spark, SF))
    assert p2.count("Window") >= 1
    assert p2.count("FileScan parquet") <= 5  # each table scanned once
    # Q20: every membership level is a semi join
    p20 = plan(q20_excess_share_suppliers(spark, SF))
    assert "LeftSemi" in p20


def test_r7_temporal_and_eval_plan_shapes(spark):
    """Round-7 scale gates: the point-in-time join and attribution
    candidate join carry their KEY equality as the hash/sort-merge
    condition (never a nested loop over versions/clicks), and the AUC's
    cumulative sum runs with NO SinglePartition exchange."""
    from queries import (
        attribution_last_click,
        ranking_auc_value,
        scd2_point_in_time_q,
    )

    for fn in (scd2_point_in_time_q, attribution_last_click):
        p = plan(fn(spark, SF))
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__
        assert "CartesianProduct" not in p, fn.__name__
        assert ("BroadcastHashJoin" in p) or ("SortMergeJoin" in p), fn.__name__
    p = plan(ranking_auc_value(spark, SF))
    # the ONLY SinglePartition exchange is the final ≤1-row aggregate —
    # every Window over data runs partitioned by the bit-length bucket
    # (a corpus-wide rank window would add a second SinglePartition)
    assert p.count("Exchange SinglePartition") == 1
    for line in p.splitlines():
        if "windowspecdefinition" in line:
            assert "__bkt" in line or "_w0" in line, line[:120]


def test_r7_search_and_index_plan_shapes(spark):
    """Phrase search's positional AND is a chain of semi joins on
    term-FILTERED postings (the token predicate must reach the join
    inputs), and the incremental IVF add is expression-only: its plan
    holds no extra shuffle beyond the build's own aggregates."""
    from queries import phrase_search_topk

    p = plan(phrase_search_topk(spark, SF))
    assert "LeftSemi" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p


def test_r8_tpch_shapes_plan_gates(spark):
    """Round-8 TPC-H shapes: the double-correlation (Q21) and the
    decorrelated per-part threshold (Q17) must plan as hash joins on the
    shared shuffle key — a nested loop or cartesian here is the
    decorrelation failing; Q7's two dimension chains must broadcast (the
    only exchange is the final aggregate)."""
    from queries import (
        q7_volume_shipping,
        q17_small_quantity_revenue,
        q21_waiting_suppliers,
    )

    plans = {}
    for fn in (q7_volume_shipping, q17_small_quantity_revenue,
               q21_waiting_suppliers):
        p = plans[fn.__name__] = plan(fn(spark, SF))
        assert "BroadcastNestedLoopJoin" not in p, fn.__name__
        assert "CartesianProduct" not in p, fn.__name__
    # Q21 (r10 one-scan rewrite): the double correlation is two stacked
    # aggregates over ONE lineitem scan — the static plan prints the
    # shared per-(order, supplier) subtree twice, but both copies must be
    # scan+aggregate (no semi/anti decorrelation remnants), and the
    # runtime gate (test_q11_q15_runtime_exchange_reuse's sibling below)
    # pins the ReusedExchange
    p21 = plans["q21_waiting_suppliers"]
    assert p21.count("HashAggregate") >= 4  # partial+final × two levels
    # Q7: the nation dims broadcast onto BOTH fact sides; the fact-fact
    # orderkey join may shuffle (orders is a fact — broadcasting it was
    # the r8 review catch), but nothing else may
    p7 = plans["q7_volume_shipping"]
    assert p7.count("BroadcastHashJoin") >= 2
    assert p7.count("SortMergeJoin") + p7.count("ShuffledHashJoin") <= 1


def test_r9_tpch_shapes_plan_gates(spark):
    """Round-9 TPC-H shapes: Q4's cross-table EXISTS stays ONE semi join
    with the non-equi residual riding the orderkey key (a nested loop
    here is the correlation failing); Q19's quantity ENVELOPE reaches the
    lineitem parquet scan as a PushedFilter (the whole point of deriving
    it from the OR-of-ANDs); Q22's NOT EXISTS is an anti join and its
    scalar average rides a 1-row broadcast; Q16's NOT IN compiles to a
    broadcast anti join, never the null-aware single-partition plan."""
    from queries import (
        q4_order_priority,
        q12_shipmode_priority,
        q16_part_supplier_counts,
        q19_discounted_revenue,
        q22_global_sales_opportunity,
    )

    plans = {}
    for fn in (q4_order_priority, q12_shipmode_priority,
               q16_part_supplier_counts, q19_discounted_revenue,
               q22_global_sales_opportunity):
        p = plans[fn.__name__] = plan(fn(spark, SF))
        if fn is not q22_global_sales_opportunity:
            assert "BroadcastNestedLoopJoin" not in p, fn.__name__
        assert "CartesianProduct" not in p, fn.__name__
    # Q22's ONE allowed nested loop is the 1-row scalar-average broadcast
    # (|customer| × 1 — linear; the same plan Spark gives a scalar
    # subquery); the custkey NOT EXISTS must still be a HASH anti join
    assert plans["q22_global_sales_opportunity"].count(
        "BroadcastNestedLoopJoin") <= 1
    p4 = plans["q4_order_priority"]
    assert "LeftSemi" in p4
    assert p4.count("FileScan parquet") == 2  # each table scanned once
    p19 = plans["q19_discounted_revenue"]
    pushed = p19.split("PushedFilters")[1][:400]
    assert "l_quantity" in pushed  # the derived envelope reached the scan
    p16 = plans["q16_part_supplier_counts"]
    assert "LeftAnti" in p16
    p22 = plans["q22_global_sales_opportunity"]
    assert "BroadcastHashJoin" in p22 and "LeftAnti" in p22
    # Q12: one orderkey join + one two-branch aggregate — no second
    # scan of either fact for the second CASE branch
    p12 = plans["q12_shipmode_priority"]
    assert p12.count("FileScan parquet") == 2


def test_r9b_tpch_shapes_plan_gates(spark):
    """The round-9 completion set (Q8/Q9/Q10/Q11/Q15 — the catalog now
    covers all 22 TPC-H families): no cartesian anywhere; the only
    nested loops allowed are the 1-row scalar broadcasts (Q11 threshold,
    Q15 max); Q10's top-20 must be a TakeOrderedAndProject, never a full
    sort exchange, and both its fact filters must reach the parquet
    scans; Q8's share must come from ONE aggregate (no second scan of
    the join tree for the denominator)."""
    from queries import (
        q8_national_market_share,
        q9_product_type_profit,
        q10_returned_item_revenue,
        q11_important_parts,
        q15_top_supplier,
    )

    plans = {}
    for fn in (q8_national_market_share, q9_product_type_profit,
               q10_returned_item_revenue, q11_important_parts,
               q15_top_supplier):
        p = plans[fn.__name__] = plan(fn(spark, SF))
        assert "CartesianProduct" not in p, fn.__name__
        allowed_bnlj = 1 if fn in (q11_important_parts, q15_top_supplier) else 0
        assert p.count("BroadcastNestedLoopJoin") <= allowed_bnlj, fn.__name__
    p10 = plans["q10_returned_item_revenue"]
    assert "TakeOrderedAndProject" in p10
    # assert the pushed-filter SYNTAX, not mere column presence — the
    # column name appears in ReadSchema even when nothing is pushed
    # (review catch r9)
    assert "EqualTo(l_returnflag,R)" in p10
    assert any("o_orderdate" in s and "GreaterThanOrEqual" in s
               for s in p10.split("FileScan"))
    # Q8: 8 scans = each of the 7 tables once (nation twice by role) —
    # a 9th would be the share denominator re-scanning the tree
    p8 = plans["q8_national_market_share"]
    assert p8.count("FileScan parquet") == 8
    assert p8.count("HashAggregate") <= 2  # partial + final of ONE aggregate
    # Q9: dims broadcast, fact joins un-hinted; nothing may nested-loop
    p9 = plans["q9_product_type_profit"]
    assert p9.count("BroadcastHashJoin") >= 2


def test_q11_q15_runtime_exchange_reuse(spark):
    """VERDICT r9 #6: the scalar-threshold side of Q11/Q15 must NOT cost a
    second fact scan at runtime.  The static plan prints the pruned
    aggregate subtree twice, but the FINAL adaptive plan must carry a
    ReusedExchange — AQE's stage reuse feeding both the per-key rows and
    the 1-row scalar from ONE shuffle.  For Q15 this depends on the
    explicit l_suppkey IS NOT NULL in the shared view (the supplier join
    infers it into only the left subtree otherwise, breaking
    canonicalization — the r10 fix); regressing that filter regresses
    this gate."""
    from queries import (
        q11_important_parts,
        q15_top_supplier,
        q21_waiting_suppliers,
    )

    for fn in (q11_important_parts, q15_top_supplier, q21_waiting_suppliers):
        # sf0.01, not the usual sf0.001: at the smaller SF Q11's threshold
        # filter yields zero rows and AQE's empty-propagation replaces the
        # whole subtree with EmptyRelation — no exchange left to reuse
        df = fn(spark, "/root/testdata/sf0.01")
        df.collect()  # drive AQE to the final plan
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in p.splitlines()[0], fn.__name__
        final = p.split("== Initial Plan ==")[0]
        assert final.count("ReusedExchange") >= 1, fn.__name__


#: Queries whose repeat scans of one table are LEGITIMATE (reviewed r11):
#: the scans read different column sets / play different roles, so there is
#: no shared subtree for AQE to reuse.  A NEW name appearing in the audit
#: below means a fresh duplicate-evaluation bug (the q15/dsir class) —
#: fix the query (usually an explicit isnotnull restoring exchange
#: canonicalization) or review-and-allowlist it HERE with a reason.
REUSE_AUDIT_ALLOWLIST = {
    # changelog derivation scans (o_orderkey..o_orderpriority, unfiltered)
    # vs base-snapshot scan (o_orderkey,o_custkey,o_orderdate + isnotnull):
    # different columns, different roles — nothing reusable.
    "cdc_apply_changelog",
}


def test_reuse_audit_headline_pack_no_new_candidates(spark):
    """VERDICT r10 #5: the AQE exchange-reuse audit (tools/reuse_audit.py),
    promoted from a run-it-if-you-remember tool to a standing gate.  It
    found 5 real duplicate-evaluation classes in r10 and the dsir_select
    one in r11 (a one-sided inferred isnotnull(token) splitting the counts
    exchange — the corpus was tokenized and shuffled twice).  Every bench
    headline query must either reuse its exchanges or be on the reviewed
    allowlist above."""
    from bench import HEADLINE
    from tools.reuse_audit import table_scans

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    flagged = {}
    for name in HEADLINE:
        df = qs[name](spark, "/root/testdata/sf0.01")
        df.collect()  # drive AQE to the final plan
        p = df._jdf.queryExecution().executedPlan().toString()
        final = p.split("== Initial Plan ==")[0]
        dupes = {t: c for t, c in table_scans(p).items() if c > 1}
        if dupes and not final.count("ReusedExchange"):
            flagged[name] = dupes
    new = {n: d for n, d in flagged.items() if n not in REUSE_AUDIT_ALLOWLIST}
    assert not new, f"NEW no-reuse candidates (see allowlist docstring): {new}"
    gone = REUSE_AUDIT_ALLOWLIST - set(flagged)
    assert not gone, f"allowlist entries now clean — remove them: {gone}"


def test_r11_late_queries_runtime_plan_shape(spark):
    """Plan gates pinning the two r11 reuse fixes: the trigram LM's shared
    explode frames must carry a runtime ReusedExchange (without the
    explicit isnotnull filters the probe/aggregate subtrees canonicalize
    differently — 6 identical documents scans, +70% wall at ×100), and
    the OOV audit must stay a SINGLE documents scan (vocabulary and probe
    both consume the (source, token) count exchange)."""
    from queries import oov_rate_by_source, trigram_lm_quality
    from tools.reuse_audit import table_scans

    df = trigram_lm_quality(spark, "/root/testdata/sf0.001")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1

    df2 = oov_rate_by_source(spark, "/root/testdata/sf0.001")
    df2.collect()
    p2 = df2._jdf.queryExecution().executedPlan().toString()
    assert table_scans(p2).get("documents") == 1


def test_r11_opt_bigram_lm_exchange_reuse(spark):
    """r11 OPTIMIZATION round: bigram_lm_scores' c2 count exchange has TWO
    consumers — the probe join (which infers isnotnull(bg)) and the c1
    history aggregate (whose __w1 join infers
    isnotnull(element_at(split(bg), 1)) and pushes it through the
    aggregates).  Without BOTH predicates planted on the shared explode
    frame the subtrees canonicalize differently and the corpus is
    tokenized a third time just to rebuild c2 for c1.  The final adaptive
    plan must reuse the exchange and scan documents at most twice."""
    from queries import bigram_lm_quality
    from tools.reuse_audit import table_scans

    df = bigram_lm_quality(spark, "/root/testdata/sf0.001")
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    final = p.split("== Initial Plan ==")[0]
    assert final.count("ReusedExchange") >= 1
    assert table_scans(p).get("documents") == 2


def test_r11_opt_minhash_pair_first_banded_without_sigs(spark):
    """r11 OPTIMIZATION round, pair-first rework: minhash_candidates must
    pin TWO frames under the ledger — the signature frame (id, sig) and a
    capped banded frame that does NOT carry the k-slot sig array (bare
    id/band/bkey rows, ~25× narrower through the cap window's sort and
    (band, bkey) exchange).  est_jaccard is computed once per DISTINCT
    pair by joining the persisted sigs back — the payload crosses one
    id-keyed exchange per side instead of riding every band row."""
    from engine.cache import _INTERNAL_SIGS_LAST, ledger_clear
    from engine.extended.dedup import minhash_candidates
    ledger_clear()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = minhash_candidates(docs, num_hashes=64, bands=16, hash_fn="md5")
    out.collect()
    assert len(_INTERNAL_SIGS_LAST) == 2
    frames = {tuple(sorted(f.columns)): f for f in _INTERNAL_SIGS_LAST.values()}
    assert ("id", "sig") in frames                  # signature frame
    banded = frames.get(("band", "bkey", "id"))
    assert banded is not None                       # capped banded frame
    assert "sig" not in banded.columns              # payload stays out
    for f in frames.values():
        lvl = f.storageLevel
        assert lvl.useMemory or lvl.useDisk
    ledger_clear()


def test_r11_opt_semdedup_probe_respread_after_cap(spark):
    """r11 OPTIMIZATION round: pairwise_sims' probe_parallelism must
    re-spread the PROBE side by id hash AFTER the cluster-cap window (the
    quadratic dot-product stage otherwise inherits the window's
    cluster-key partitioning — with ~10 clusters it ran on ~10 of 32
    cores; 2.4 → 0.65 s uniform, 8.5 → 0.85 s on the hot-cluster skew
    fixture at sf0.1).  The old input-side round-robin (immediately
    re-partitioned away by the window) must be gone."""
    from engine.extended.semdedup import pairwise_sims

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    df = pairwise_sims(e, id_col="vec_id", probe_parallelism=8)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(a_id" in p          # probe spread by id hash
    assert "RoundRobinPartitioning" not in p     # input spread removed
    # results identical with and without the spread
    base = pairwise_sims(e, id_col="vec_id")
    diff = (
        df.withColumnRenamed("sim", "s1")
        .join(base, ["label", "a_id", "b_id"], "full_outer")
        .filter("s1 IS DISTINCT FROM sim")
        .count()
    )
    assert diff == 0


def test_r11_opt_graph_statics_ride_the_ledger(spark):
    """r11 OPTIMIZATION round: the iterative graph algorithms must pin
    their static frames (edges / nodes / degrees) under the bounded
    ledger in LAZY mode too — the unpersisted lineage re-expanded the
    edge-construction subtree once per reference (pagerank: 40 parquet
    scans, zero ReusedExchange in the pre-fix final plan)."""
    from pyspark.sql import functions as F

    from engine.cache import _INTERNAL_SIGS_LAST, ledger_clear
    from engine.extended.graph import label_propagation, pagerank, triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], ["src", "dst"]
    )
    ledger_clear()
    pagerank(edges, iters=2, materialize=False).collect()
    assert len(_INTERNAL_SIGS_LAST) == 3  # e, nodes, outdeg
    ledger_clear()
    triangle_counts(edges).collect()
    assert len(_INTERNAL_SIGS_LAST) == 3  # canonical e, deg, oriented de
    ledger_clear()
    label_propagation(edges, iters=2, materialize=False).collect()
    assert len(_INTERNAL_SIGS_LAST) == 1  # und
    ledger_clear()


def test_final_plan_is_the_plan_the_run_finished_with(spark):
    """``final_plan`` reads the AQE-final plan of the execution it ran, not
    the never-executed plan of the frame's own QueryExecution."""
    from tools.final_plan import final_plan

    df = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    plan = final_plan(df)
    assert "isFinalPlan=true" in plan
    assert "ShuffleQueryStage" in plan
