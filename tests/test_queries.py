"""Oracle-parity tests for the subquery / grouped-map / multimodal queries
(the driver runs the same comparison at sf0.01; this is the fast local twin
at sf0.001)."""

import math
import os

import duckdb
import pytest

from mysql_data_anonymizer_spark import queries as Q

NEW = [
    # r8
    "salted_join_revenue",
    "streaming_dedup_index_probe",
    "dedup_embedding_lsh_pairs",
    "pack_sequences_gpt",
    "dedup_exact_substring",
    "dedup_incremental_indexed",
    "bpe_merge_steps",
    "bpe_encode_docs",
    "ccnet_perplexity_buckets_prod",
    "knn_ivf_indexed",
    "hard_negatives_embeddings",
    "mlm_mask_docs",
    "epoch_expand_mixture",
    # r7
    "quality_classifier_scores",
    "mix_temperature_sample",
    "hybrid_search_rrf",
    "dedup_keep_best_quality",
    "ccnet_perplexity_buckets",
    "pagerank_copurchase_parts",
    "enforce_k_anonymity_customers",
    "synthesize_marginals_customers",
    "fuzzy_match_blocked_suppliers",
    "rag_pipeline_e2e",
    "phrase_search_docs",
    "skew_report_lineitem",
    "media_audio_segments",
    "mask_plan_manifest",
    "schema_evolution_merge_read",
    "streaming_stream_left_join",
    "hll_intersection_users",
    "entity_clusters_parts",
    "embedding_norms_arrow",
    "streaming_update_mode_agg",
    "readability_scores_docs",
    "pydatasource_write_roundtrip",
    "compact_small_files_events",
    "dp_bounded_sum_events",
    "knn_ivfpq",
    "trigram_name_matches",
    "bm25_term_scores",
    "streaming_ohlc_window_agg",
    "cms_frequency_parts",
    "bucketed_join_revenue",
    "partition_pruned_orders_agg",
    "ohlc_hourly_events",
    "mask_pram_mktsegment",
    "benford_first_digit_audit",
    "not_in_null_aware_customers",
    "mask_report_synchro_cascade",
    "dedup_ngram_containment",
    "dedup_boilerplate_chunks",
    "decontaminate_bloom_ngrams",
    "split_leakage_safe",
    "hll_union_rollup_users",
    "bloom_join_pruned_revenue",
    "knn_sq8",
    "dp_noised_counts_customers",
    "xml_source_agg",
    "text_source_agg",
    "crypto_shred_rtbf",
    "dq_checks_orders",
    "gapfill_recursive_days",
    "lateral_top2_orders_per_customer",
    "t_closeness_audit_customers",
    "max_concurrent_events_sweepline",
    "frequent_part_pairs",
    "interpolate_hourly_values",
    "udtf_trigram_stats",
    "mask_fpe_card_customers",
    "mask_date_shift_orders",
    "mask_swap_acctbal_nation",
    "mask_microaggregate_acctbal",
    "user_daily_streaks",
    "streaming_mask_pseudonymize",
    "streaming_static_enrich_agg",
    "streaming_parquet_sink_agg",
    "q4_order_priority",
    "q17_small_quantity_revenue",
    "q22_idle_rich_customers",
    "zscore_acctbal_per_segment",
    "multimodal_featurize",
    "streaming_tumbling_agg",
    "dedup_canonical_docs",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_order_distribution",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q19_disjunctive_revenue",
    "q21_waiting_suppliers",
    "unpivot_lineitem_charges",
    "streaming_sliding_agg",
    "streaming_session_agg",
    "q9_profit_by_nation_year",
    "q11_important_nations",
    "q12_priority_by_linestatus",
    "stats_corr_qty_price",
    "histogram_totalprice",
    "ntile_deciles_acctbal",
    "timeseries_gapfill_hourly",
    "csv_source_agg",
    "binaryfile_media_manifest",
    "cap_docs_per_source",
    "shard_training_corpus",
    "semdedup_embeddings",
    "vocab_top_terms",
    "explode_doc_sentences",
    "doc_top_terms",
    "winsorize_events_value",
    "funnel_view_click_purchase",
    "cohort_retention_weekly",
    "bigram_collocations",
    "profile_orders_columns",
    "snapshot_diff_orders",
    "kmeans_assign_step",
    "fuzzy_pairs_symdelete",
    "media_frame_sample",
    "cdc_apply_changelog_orders",
    "incremental_agg_users",
    "compact_latest_events",
    "k_anonymity_audit_customers",
    "l_diversity_audit_customers",
    "rtbf_forget_cascade",
    "mask_generalize_customers",
    "suppress_small_groups",
    "pydatasource_synth_agg",
    "variant_events_agg",
    "chunk_docs_for_rag",
    "approx_top_terms",
    "rebalance_corpus_mix",
    "importance_sample_docs",
    "pretraining_pipeline_e2e",
    "streaming_dedup_then_window",
    # r11
    "kmeans_lloyd_embeddings",
    "knn_recall_report",
    "gopher_rules_docs",
    "kmeans_incremental_assign",
    # bounded-replay harness: every file-stream query it runs
    "streaming_jdbc_upsert_agg",
    "streaming_stateful_user_totals",
    "streaming_dedup_events",
    "streaming_ewma_user",
    "streaming_dedup_index_probe_wm",
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    try:
        float(v)
        return repr(float(v))
    except (TypeError, ValueError):
        return str(v)


def _duck_views(sf_dir):
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = _duck_views(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", NEW)
def test_query_matches_oracle(spark, sf_dir, duck, name):
    _assert_matches_oracle(spark, sf_dir, duck, name)


def test_stream_join_matches_oracle_at_sf0_01(spark, sf_dir):
    """streaming_stream_join returns 0 rows at sf0.001 on both engines, so
    its parity case runs on the sf0.01 fixtures, where clicks do meet
    views within 10 minutes."""
    sf01 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    con = _duck_views(sf01)
    try:
        n = _assert_matches_oracle(spark, sf01, con, "streaming_stream_join")
    finally:
        con.close()
    assert n > 0


def _assert_matches_oracle(spark, sf_dir, duck, name):
    """Spark result == DuckDB oracle (sorted, normalized rows); returns the
    row count. A streaming query must also leave its last micro-batch's
    executed plan under its own registry key (what plan_audit reads)."""
    getattr(spark, "_mda_stream_plans", {}).pop(name, None)
    sdf = Q.QUERIES[name](spark, sf_dir).toPandas()
    if name.startswith("streaming_"):
        assert name in getattr(spark, "_mda_stream_plans", {}), f"{name}: no harvested plan"
    odf = duck.execute(Q.ORACLES[name]).df()
    assert sorted(sdf.columns) == sorted(odf.columns)
    cols = sorted(sdf.columns)
    s_rows = sorted(tuple(_norm(v) for v in row) for row in sdf[cols].itertuples(index=False))
    o_rows = sorted(tuple(_norm(v) for v in row) for row in odf[cols].itertuples(index=False))
    assert len(s_rows) == len(o_rows), f"{name}: {len(s_rows)} vs {len(o_rows)} rows"
    assert s_rows == o_rows
    return len(s_rows)


def test_lateral_decorrelates_to_window_join(spark, sf_dir):
    """The correlated LATERAL ORDER BY/LIMIT subquery must decorrelate into
    one windowed rank over a hash join — no per-outer-row execution, no
    BroadcastNestedLoopJoin."""
    plan = Q.QUERIES["lateral_top2_orders_per_customer"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_q4_is_semijoin_not_subquery_per_row(spark, sf_dir):
    """Catalyst must decorrelate the EXISTS into a (semi) join — the plan
    at 100 TB cannot run one subquery per outer row."""
    plan = Q.QUERIES["q4_order_priority"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "SemiBuildRight" in plan or "LeftSemi" in plan


def test_zscore_properties(spark, sf_dir):
    out = Q.QUERIES["zscore_acctbal_per_segment"](spark, sf_dir).toPandas()
    # z-scores are centered per segment
    for _, grp in out.groupby("c_mktsegment"):
        assert abs(grp["zscore"].mean()) < 1e-2


def test_q21_order_profile_rewrite_plan(spark, sf_dir):
    """The EXISTS/NOT-EXISTS pair is rewritten to one order-profile
    aggregation (distinct supplier / returned-supplier counts per order)
    joined back on l_orderkey: exactly TWO lineitem scans (the textbook
    decorrelation needs three) and never a per-row subquery / BNLJ."""
    plan = Q.QUERIES["q21_waiting_suppliers"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem.parquet") == 2
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan


def test_q19_disjunction_stays_hash_join(spark, sf_dir):
    """The OR'd bands share the l_partkey=p_partkey conjunct, so the join
    must stay a broadcast hash join, not degrade to nested-loop."""
    plan = Q.QUERIES["q19_disjunctive_revenue"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_topk_uses_take_ordered(spark, sf_dir):
    """orderBy().limit(20) must compile to TakeOrderedAndProject (partial
    per-partition top-k + 20-row merge), not a global sort."""
    plan = Q.QUERIES["q10_returned_items"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_not_in_compiles_to_null_aware_anti_join(spark, sf_dir):
    """Single-column NOT IN must take Spark's NullAwareAntiJoin fast path
    (optimizeNullAwareAntiJoin) — a hash join that still honors the
    three-valued empty-on-NULL semantics — never the naive
    BroadcastNestedLoopJoin the unoptimized rewrite produces."""
    import re

    plan = (
        Q.QUERIES["not_in_null_aware_customers"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # BroadcastHashJoinExec prints its isNullAwareAntiJoin flag as a bare
    # trailing `true` after the build side: `... LeftAnti, BuildRight, true`
    assert re.search(r"BroadcastHashJoin .*LeftAnti, Build\w+, true", plan), plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_open_close_tie_determinism(spark, sf_dir):
    """open/close must be picked by the (ts, event_id) composite — verify
    against an independent window-function recompute (first/last value over
    the same lexicographic key per bucket)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = Q._t(spark, sf_dir, "events").where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    )
    okey = F.concat(
        F.lpad(F.unix_micros(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 20, "0"),
    )
    w = Window.partitionBy(
        F.date_trunc("hour", "ts"), "event_type"
    ).orderBy(okey).rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    twin = (
        ev.withColumn("__o", F.first("value").over(w))
        .withColumn("__c", F.last("value").over(w))
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("bucket_hour"), "event_type")
        .agg(F.first("__o").alias("open_value"), F.first("__c").alias("close_value"))
    )
    got = {
        (r.bucket_hour, r.event_type): (r.open_value, r.close_value)
        for r in Q.QUERIES["ohlc_hourly_events"](spark, sf_dir).collect()
    }
    want = {
        (r.bucket_hour, r.event_type): (r.open_value, r.close_value)
        for r in twin.collect()
    }
    assert got == want


def test_gapfill_grid_is_complete(spark, sf_dir):
    """Every (hour, event_type) cell in the span must be present, including
    zero-filled gaps: rows == n_distinct_hours * n_distinct_types."""
    out = Q.QUERIES["timeseries_gapfill_hourly"](spark, sf_dir).toPandas()
    hours = out["hour_start"].nunique()
    types = out["event_type"].nunique()
    assert len(out) == hours * types
    assert (out["n_events"] >= 0).all()


def test_q9_filtered_part_is_broadcast(spark, sf_dir):
    """The name-filtered part dim must broadcast — the fact join shrinks at
    the scan, never shuffling lineitem for a dim lookup."""
    plan = Q.QUERIES["q9_profit_by_nation_year"](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_sketch_queries_within_tolerance(spark, sf_dir):
    """Rows-only sketch entries still get accuracy gates: HLL distinct
    counts within 10% of exact; GK approx percentiles within the documented
    rank tolerance of the exact percentile."""
    from pyspark.sql import functions as F

    from mysql_data_anonymizer_spark import queries as Q

    ev = Q._t(spark, sf_dir, "events")
    # HLL accuracy is gated INSIDE the query now (hll_ok column, exact-twin
    # oracle pattern): every per-day gate must hold, and the exact twin must
    # match an independent recompute
    rows = Q.approx_distinct_users_daily(spark, sf_dir).collect()
    assert rows and all(r.hll_ok for r in rows), [(r.day, r.hll_ok) for r in rows]
    got = {r.day: r.exact_users for r in rows}
    exact = {r.day: r.n
             for r in ev.groupBy(F.date_format(F.date_trunc("day", F.col("ts")),
                                               "yyyy-MM-dd").alias("day"))
                        .agg(F.countDistinct("user_id").alias("n")).collect()}
    assert got == exact

    # The query's final columns are the exact percentiles (cross-engine
    # hashable); the GK sketch is gated by its sketch_ok bracket column.
    rows = Q.approx_quantiles_events_value(spark, sf_dir).collect()
    assert rows and all(r.sketch_ok for r in rows), [
        (r.event_type, r.sketch_ok) for r in rows
    ]
    ex = {r.event_type: (r.p50, r.p95)
          for r in ev.groupBy("event_type")
                     .agg(F.expr("percentile(value, 0.5D)").alias("p50"),
                          F.expr("percentile(value, 0.95D)").alias("p95")).collect()}
    for r in rows:
        p50, p95 = ex[r.event_type]
        assert r.p50 == p50 and r.p95 == p95, (r.event_type, r.p50, p50, r.p95, p95)


INVARIANCE_SAMPLE = [
    # hash gates, windows, double arithmetic — the shapes where hidden
    # partition-order dependence would bite first
    "shard_training_corpus",
    # r7: md5 gate over a broadcast rate table; percentile cutoffs +
    # LM count joins; cluster-keyed argmax window; rank fusion windows
    "mix_temperature_sample",
    "ccnet_perplexity_buckets",
    "dedup_keep_best_quality",
    "hybrid_search_rrf",
    "synthesize_marginals_customers",
    "pagerank_copurchase_parts",
    "rag_pipeline_e2e",
    "enforce_k_anonymity_customers",
    # sketch build + gates must be identical under any layout (map-side
    # partial aggregation cannot change any cell count)
    "cms_frequency_parts",
    "rebalance_corpus_mix",
    # two-phase sweep-line: bucket-local cum + offset table must equal the
    # global scan under any partitioning; ties (ends-before-starts) are the
    # hazard
    "max_concurrent_events_sweepline",
    "bigram_collocations",
    "running_total_per_customer",
    "semdedup_embeddings",
    "kmeans_assign_step",
    # gate-boolean queries: the accuracy gates (recall, HLL error, pair
    # agreement) must hold under ANY partitioning — knn_ivf especially,
    # whose centroid sample shifts with partition layout
    "approx_distinct_users_daily",
    "semdedup_ivf",
    "dedup_simhash",
    "knn_lsh",
    "knn_ivf",
    "knn_pq",
    "knn_sq8",
    "knn_ivfpq",
    # min-struct first-occurrence + float max-reduction: partition-order
    # independence is the property under test
    "dedup_chunks_reconstruct",
    "decontaminate_semantic_embeddings",
    # Bloom bitset is OR-combined across partitions: the filter contents —
    # and therefore the superset/FPR gates — must not depend on layout
    "decontaminate_bloom_ngrams",
    # HLL register merges and md5 split gates must be layout-independent;
    # the split additionally rides the iterative component fixpoint
    "hll_union_rollup_users",
    "split_leakage_safe",
    # seeded DP noise must be identical under any partitioning — a rand()
    # regression would re-deal the release per layout
    "dp_noised_counts_customers",
    # PRAM: seeded keep/replace lanes + domain-index join must re-deal the
    # IDENTICAL release under any layout (same class as the DP release)
    "mask_pram_mktsegment",
    # DP bounded sum: clamped cents + seeded noise, same invariance class
    # (r7: plus the deterministic per-user top-G group-bound window)
    "dp_bounded_sum_events",
    # r7: cyclic rank swap — row_number/count/lead over the same ordered
    # group window; the end-of-partition rank detection must be identical
    # under any partitioning
    "mask_swap_acctbal_nation",
    # r8: min-struct first-occurrence + W-position fan-out; bucketed-index
    # probe; recall + plan gates over a persisted inverted file; BPE
    # min(struct(-cnt,l,r)) merge choice must not depend on layout; hash
    # gate over positions; keyed-join LM twin
    "dedup_exact_substring",
    "dedup_incremental_indexed",
    "knn_ivf_indexed",
    "bpe_merge_steps",
    "mlm_mask_docs",
    "ccnet_perplexity_buckets_prod",
    "dedup_embedding_lsh_pairs",
    # r11: Lloyd trajectory must not depend on layout (checkpointed
    # assignments + exact-integer means)
    "kmeans_lloyd_embeddings",
]


@pytest.mark.parametrize("name", INVARIANCE_SAMPLE)
def test_result_invariant_to_shuffle_partitioning(spark, sf_dir, name):
    """The same query under a different spark.sql.shuffle.partitions must
    produce value-identical rows — results may never depend on partition
    count or intra-partition order (the property that makes them valid at
    ANY cluster size)."""
    fn = Q.QUERIES[name]
    def run():
        df = fn(spark, sf_dir)
        cols = sorted(df.columns)
        return sorted(tuple(_norm(r[c]) for c in cols) for r in df.collect())
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = run()
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        b = run()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b
