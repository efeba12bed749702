"""Edge-case fuzz sweep: run text/dedup/curation queries against a
PERTURBED copy of the fixtures and compare Spark vs DuckDB values exactly
like tools/certify.py.

The driver's correctness gate only ever sees the clean synthetic fixtures —
no empty documents, no whitespace-only text, no unicode, no degenerate
token shapes. Those are exactly the rows a real crawl corpus is full of,
and the chunk-dedup empty-doc crash (caught by a model test, r5) showed the
engine can be green on fixtures while broken on edge rows. This tool
derives a fuzzed `documents` table (clean rows + appended edge rows, ids
above the fixture range) under .fuzzdata/ and runs the document-family
queries over it with the SAME oracle SQL — any mismatch or crash is a real
robustness bug, because both engines see identical bytes.

Usage: python tools/fuzz_oracle.py [query ...]   # default: document family
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_data_anonymizer_spark.session import get_spark, release

BASE = "/root/testdata/sf0.001"
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".fuzzdata")
# bump when edge-row sets change: the marker carries the version, so stale
# .fuzzdata rebuilds automatically instead of silently fuzzing old fixtures
FIXTURE_VERSION = 3

# the document-family queries (text analysis, dedup, curation) — the ones
# whose token/shingle/chunk algebra meets degenerate text
DEFAULT_QUERIES = [
    "text_profile",
    "text_lang_source_stats",
    "text_fingerprint_groups",
    "text_winnowing",
    "text_nfc_dedup_prep",
    "doc_repetition_stats",
    "corpus_quality_filter",
    "scrub_documents_pii",
    "stratified_sample_docs",
    "pack_docs_token_bins",
    "cap_docs_per_source",
    "shard_training_corpus",
    "vocab_top_terms",
    "chunk_docs_for_rag",
    "explode_doc_sentences",
    "doc_top_terms",
    "dedup_exact",
    "dedup_ngram_jaccard",
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
    # r9/r10 cohort sweep (VERDICT r9 item 5): degenerate docs hit
    # skipgram/KN/novelty/overlap/KN-scoring; single-char + h/w Soundex
    # part names (v3 rows) hit phonetic blocking; zero vectors hit
    # kcenter; duplicate-timestamp events hit EWMA/bootstrap; NULL keys
    # hit hilbert/triangle; empty docs hit packing/batching/mixture
    "phonetic_blocking_parts",
    "prefix_filter_jaccard_parts",
    "kcenter_coreset_embeddings",
    "hilbert_orders_key",
    "triangle_count_copurchase",
    "observed_dq_gate_orders",
    "streaming_ewma_user",
    "streaming_ewma_user_wm",
    "kn_perplexity_docs",
    "mixture_alpha_weights",
    "corpus_drift_tvd",
    "kcore_copurchase_parts",
    "drift_incremental_merge",
    "skipgram_pairs_docs",
    "kneser_ney_bigram_counts",
    "doc_novelty_bigrams",
    "cc_incremental_merge",
    "corpus_overlap_matrix",
    "length_batching_docs",
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
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_md5",
    "dedup_clusters",
    "dedup_incremental_new_docs",
    "dedup_canonical_docs",
    "dedup_chunks_reconstruct",
    "decontaminate_training_docs",
    "curate_corpus_pipeline",
    "select_docs_token_budget",
    "rebalance_corpus_mix",
    "importance_sample_docs",
    "bigram_collocations",
    "bm25_term_scores",
    "readability_scores_docs",
    # r11 cohort: zero/duplicate vectors hit the Lloyd loop and the ANN
    # recall floors; degenerate docs hit the rank-based KN terciles and
    # every Gopher rule boundary (empty doc, whitespace-only, 5000-char
    # token, unicode)
    "kmeans_lloyd_embeddings",
    "knn_recall_report",
    "gopher_rules_docs",
    "kmeans_incremental_assign",
    # r12 cohort: the unified-trainer IVF probes the fuzzed corpus (zero/
    # huge/duplicate vectors land in model cells and the re-rank); the
    # logistic scorer's n-gram explode and exact-root sigmoid meet empty/
    # whitespace/unicode/5000-char-token docs
    "knn_ivf_kmeans_indexed",
    "knn_ivf_kmeans_append",
    "quality_score_docs",
    "approx_top_terms",
    "fuzzy_pairs_symdelete",
    "trigram_name_matches",
    "entity_clusters_parts",
    "pretraining_pipeline_e2e",
    # events family: duplicate timestamps (window-tie determinism),
    # malformed/missing JSON props, extreme values, unseen event types
    "events_hourly_window",
    "ohlc_hourly_events",
    "sessionize_events",
    "winsorize_events_value",
    "funnel_view_click_purchase",
    "cohort_retention_weekly",
    "json_events_agg",
    "json_props_struct",
    "variant_events_agg",
    "incremental_agg_users",
    "compact_latest_events",
    "timeseries_gapfill_hourly",
    "approx_quantiles_events_value",
    "approx_distinct_users_daily",
    "hll_intersection_users",
    "dp_bounded_sum_events",
    "ewma_user_events",
    "bootstrap_ci_events",
    "streaming_tumbling_agg",
    "streaming_sliding_agg",
    "streaming_session_agg",
    "streaming_stream_join",
    "streaming_stateful_user_totals",
    "streaming_dedup_events",
    "streaming_dedup_then_window",
    "streaming_jdbc_upsert_agg",
    "streaming_ohlc_window_agg",
    "streaming_update_mode_agg",
    "streaming_stream_left_join",
    # event-joined relational ops (v2): as-of/point-in-time/range joins and
    # event history — late/duplicate/boundary timestamps stress the
    # inequality-join and ordering logic
    "asof_last_order_per_event",
    "pit_join_future_event_state",
    "range_join_close_prices",
    "order_window_features",
    "scd2_user_event_history",
    "cdc_apply_changelog_orders",
    # relational family: NULL join keys (never match, identically, in both
    # engines), empty-string group keys, extreme/negative money values
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q4_order_priority",
    "q5_nation_revenue",
    "q6_forecast_revenue",
    "q12_priority_by_linestatus",
    "q13_order_distribution",
    "q14_promo_revenue",
    "q18_large_orders",
    "q22_idle_rich_customers",
    "benford_first_digit_audit",
    "not_in_null_aware_customers",
    "pivot_orders_status",
    "grouping_sets_orders",
    "rollup_orders",
    "cube_orders",
    "histogram_totalprice",
    "ntile_deciles_acctbal",
    "stats_corr_qty_price",
    "topk_customers_per_segment",
    "top_supplier_per_nation",
    "running_total_per_customer",
    "rolling_30d_order_stats",
    "order_gaps_lag_lead",
    "anti_join_customers_no_orders",
    "semi_join_parts_ordered",
    "intersect_rich_customers_with_orders",
    "except_rich_customers_without_orders",
    "distinct_nations_per_segment",
    "profile_orders_columns",
    "snapshot_diff_orders",
    "unpivot_lineitem_charges",
    "q10_returned_items",
    "q17_small_quantity_revenue",
    "cms_frequency_parts",
    "customer_order_keys_array",
    "segment_nation_list",
    "rtbf_forget_cascade",
    # layout family (v2): negative keys, > 2^bits keys, NULL keys through
    # the Morton fold — truncation must agree bit-for-bit across engines
    "zorder_orders_key",
    "zorder_lineitem_key3",
    "bucketed_join_revenue",
    "partition_pruned_orders_agg",
    "compact_small_files_events",
    "schema_evolution_merge_read",
    # embeddings family: zero vector (norm 0 -> cosine divide hazard),
    # huge/tiny magnitudes, exact duplicate of an existing vector
    "knn_brute_force",
    "knn_matmul",
    "knn_lsh",
    "knn_ivf",
    "knn_pq",
    "knn_ivfpq",
    "embedding_norms_arrow",
    "dedup_embedding_cosine",
    "semdedup_embeddings",
    "semdedup_ivf",
    "kmeans_assign_step",
    "decontaminate_semantic_embeddings",
    # masking core (§2.1): NULL primary key, empty/unicode names, extreme
    # balances — the reference's own UPDATE-by-pk path would break on these
    "mask_static",
    "mask_guarded",
    "mask_global_where",
    "mask_unique_uuid",
    "mask_generator_email",
    "mask_generator_profile",
    "mask_row_template",
    "mask_chain_fields",
    "mask_synchro_remap",
    "mask_faker_profile",
    "k_anonymity_audit_customers",
    "l_diversity_audit_customers",
    "mask_generalize_customers",
    "mask_pram_mktsegment",
    "pydatasource_write_roundtrip",
    "suppress_small_groups",
    "quantiles_acctbal_per_segment",
    "zscore_acctbal_per_segment",
    # supplier/part family: NULL nation keys, unicode/empty names, extreme
    # prices and sizes flowing through the join-heavy TPC-H block
    "q2_min_cost_supplier",
    "q11_important_nations",
    "q15_top_supplier",
    "q16_supplier_part_counts",
    "q20_volume_share_suppliers",
    "q21_waiting_suppliers",
    "q9_profit_by_nation_year",
    "q8_market_share",
    "q7_volume_shipping",
    "q19_disjunctive_revenue",
    "mask_run_report",
    "mask_report_synchro_cascade",
    "mask_plan_manifest",
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
    # r7: the last uncovered registry queries. The source round-trips
    # (csv/json/orc/binaryfile/jdbc) SERIALIZE the fuzzed tables and read
    # them back, so unicode, empty strings, 1e12 values, NULL keys, and
    # boundary timestamps now flow through every parser/writer; the
    # pydatasource pair generates its own deterministic rows (fixture-
    # independent, included for completeness); the media pair exercises the
    # binary manifest path over the fuzzed documents.
    "csv_source_agg",
    "json_source_agg",
    "orc_source_agg",
    "binaryfile_media_manifest",
    "jdbc_roundtrip_agg",
    "media_frame_sample",
    "multimodal_featurize",
    "pydatasource_stream_agg",
    "pydatasource_synth_agg",
    # r8: exact-substring dedup, persisted-index incremental dedup,
    # BPE merge training, CCNet keyed-join twin
    "dedup_exact_substring",
    "dedup_incremental_indexed",
    "bpe_merge_steps",
    "bpe_encode_docs",
    "ccnet_perplexity_buckets_prod",
    "knn_ivf_indexed",
    "hard_negatives_embeddings",
    "mlm_mask_docs",
    "epoch_expand_mixture",
    "pack_sequences_gpt",
    "salted_join_revenue",
    "dedup_embedding_lsh_pairs",
    "streaming_dedup_index_probe",
    "streaming_dedup_index_probe_wm",
]

EDGE_TEXTS = [
    "",  # empty document
    "   ",  # whitespace-only
    "\t\n  \t",  # mixed whitespace
    "single",  # one token
    "a b",  # two 1-char tokens
    "x" * 5000,  # one enormous token
    ("tok " * 600).strip(),  # many identical tokens
    "Ünïcödé tökens Ünïcödé tökens",  # repeated unicode
    "naïve café naïve café naïve café",  # unicode near-dup fodder
    "cafe\u0301 decomposed cafe\u0301",  # NFC-decomposed combining marks
    "word. another! третий? 第四",  # punctuation + non-latin scripts
    "a  b   c    d",  # runs of spaces between tokens
    "CAPS caps CaPs",  # casefolding collisions
    "email me at edge@example.com or 10.0.0.1",  # PII scrub targets
]


def _write_single_file(df, dest: str) -> None:
    """Write a DataFrame as ONE parquet FILE at dest (matching the fixture
    layout, so streaming queries that symlink `<dir>/events.parquet` as a
    file keep working)."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp(prefix="fuzz_one_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.copy(part, dest)
    shutil.rmtree(tmp)


def build_fuzz_dir(spark) -> str:
    os.makedirs(OUT, exist_ok=True)
    marker = os.path.join(OUT, f"_COMPLETE_v{FIXTURE_VERSION}")
    if not os.path.exists(marker):
        import shutil

        shutil.rmtree(OUT)
        os.makedirs(OUT)
        from pyspark.sql import functions as F

        docs = spark.read.parquet(f"{BASE}/documents.parquet")
        base_max = docs.agg(F.max("doc_id")).first()[0]
        langs = [r[0] for r in docs.select("lang").distinct().collect()]
        edges = [
            (base_max + 1 + i, t, langs[i % len(langs)], f"fuzz_src_{i % 3}", len(t))
            for i, t in enumerate(EDGE_TEXTS)
        ]
        edge_df = spark.createDataFrame(
            edges, "doc_id long, text string, lang string, source string, n_chars long"
        ).select(*docs.columns)
        if os.path.lexists(f"{OUT}/documents.parquet"):
            os.remove(f"{OUT}/documents.parquet")
        _write_single_file(docs.unionByName(edge_df), f"{OUT}/documents.parquet")

        ev = spark.read.parquet(f"{BASE}/events.parquet")
        ev_max, ts_max, ts_min = ev.agg(
            F.max("event_id"), F.max("ts"), F.min("ts")
        ).first()
        import datetime as _dt

        # exact hour boundary nearest ts_max: the half-open-window edge —
        # a row AT the boundary belongs to the NEW window in both engines
        hour = ts_max.replace(minute=0, second=0, microsecond=0)
        uid = 424242  # an unseen fuzz user
        edge_events = [
            # two events at the IDENTICAL timestamp (window/rank tie fodder)
            (ev_max + 1, ts_max, uid, "click", 1.5, '{"k": 1}'),
            (ev_max + 2, ts_max, uid, "click", 2.5, '{"k": 2}'),
            # value extremes
            (ev_max + 3, ts_max, uid, "view", 0.0, "{}"),
            (ev_max + 4, ts_max, uid, "view", -99.99, ""),
            (ev_max + 5, ts_max, uid, "purchase", 1.0e12, "not json {"),
            # unseen + empty event types, unicode/nested props
            (ev_max + 6, ts_max, uid, "fuzz_type", 3.25, '{"ünïcödé": "значение"}'),
            (ev_max + 7, ts_max, uid, "", 4.75, '{"a": {"b": [1, 2, {"c": 3}]}}'),
            # window-BOUNDARY ties (v2): exactly ON an hour boundary (opens
            # the new half-open window), 1 microsecond before it (closes the
            # old one), 1 second after — window assignment must agree
            (ev_max + 8, hour, uid, "click", 10.0, "{}"),
            (ev_max + 9, hour - _dt.timedelta(microseconds=1), uid, "click", 11.0, "{}"),
            (ev_max + 10, hour + _dt.timedelta(seconds=1), uid, "click", 12.0, "{}"),
            # LATE + OUT-OF-ORDER (v2): the oldest timestamp in the corpus,
            # appended LAST in file order — a late arrival for every
            # watermark/sessionize/sort path
            (ev_max + 11, ts_min, uid, "view", 13.0, "{}"),
        ]
        # EXACT-DUPLICATE row (v2): same event_id, every column identical —
        # any keep-first/keep-any dedup policy must yield identical values
        # in both engines (duplicates that DIFFER would make the survivor
        # arrival-order-dependent, so only the identical form is fuzzable)
        edge_events.append(edge_events[0])
        edge_ev = spark.createDataFrame(
            edge_events,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).select(*ev.columns)
        if os.path.lexists(f"{OUT}/events.parquet"):
            os.remove(f"{OUT}/events.parquet")
        _write_single_file(ev.unionByName(edge_ev), f"{OUT}/events.parquet")

        od = spark.read.parquet(f"{BASE}/orders.parquet")
        ok_max, od_max = od.agg(F.max("o_orderkey"), F.max("o_orderdate")).first()
        edge_orders = [
            # NULL custkey: must never join, identically, in both engines
            (ok_max + 1, None, "O", 123.45, od_max, "1-URGENT"),
            # extreme + negative money, empty-string group keys
            (ok_max + 2, 0, "", 1.0e12, od_max, ""),
            (ok_max + 3, 1, "F", -500.0, od_max, "5-LOW"),
            # duplicate orderkey? no - keys stay unique; duplicate DATE ties
            (ok_max + 4, 2, "O", 0.0, od_max, "3-MEDIUM"),
            # zorder edges (v2): NEGATIVE key (two's-complement low bits)
            # and a key ABOVE 2^bits (the Morton mask truncates — both
            # engines must truncate identically; verified, not assumed)
            (ok_max + 5, -7, "O", 42.0, od_max, "2-HIGH"),
            (ok_max + 6, (1 << 40) + 123, "O", 99.5, od_max, "4-NOT SPECIFIED"),
        ]
        edge_od = spark.createDataFrame(
            edge_orders,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
        ).select(*od.columns)
        if os.path.lexists(f"{OUT}/orders.parquet"):
            os.remove(f"{OUT}/orders.parquet")
        _write_single_file(od.unionByName(edge_od), f"{OUT}/orders.parquet")

        li = spark.read.parquet(f"{BASE}/lineitem.parquet")
        lk_max, sd_max = li.agg(F.max("l_orderkey"), F.max("l_shipdate")).first()
        edge_li = [
            # orphan lineitem (no parent order), NULL part/supp keys
            (lk_max + 1000, None, None, 1, 0.0, 0.0, 0.0, 0.0, "", "", sd_max),
            # extreme price, discount=1.0 (full), tax=0
            (lk_max + 1001, 1, 1, 1, 1.0, 1.0e12, 1.0, 0.0, "R", "F", sd_max),
            # negative quantity/price
            (lk_max + 1002, 2, 2, 1, -5.0, -100.0, 0.05, 0.02, "A", "O", sd_max),
            # zorder3 edges (v2): partkey above 2^bits, negative suppkey,
            # fractional + negative quantity through the double->long cast
            (lk_max + 1003, (1 << 35) + 7, -3, 1, 17.75, 10.0, 0.0, 0.0, "N", "O", sd_max),
        ]
        edge_lidf = spark.createDataFrame(
            edge_li,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, l_shipdate timestamp",
        ).select(*li.columns)
        if os.path.lexists(f"{OUT}/lineitem.parquet"):
            os.remove(f"{OUT}/lineitem.parquet")
        _write_single_file(li.unionByName(edge_lidf), f"{OUT}/lineitem.parquet")

        emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
        ve_max = emb.agg(F.max("vec_id")).first()[0]
        first_vec = emb.orderBy("vec_id").first()
        dim = len(first_vec.embedding)
        edge_vecs = [
            (ve_max + 1, [0.0] * dim, 99),                      # zero vector
            (ve_max + 2, [1e-30] * dim, 99),                    # vanishing norm
            (ve_max + 3, [1e30] + [0.0] * (dim - 1), 99),       # huge magnitude
            (ve_max + 4, list(first_vec.embedding), 99),        # exact duplicate
            (ve_max + 5, [-v for v in first_vec.embedding], 99),  # antipode
        ]
        edge_emb = spark.createDataFrame(
            edge_vecs, "vec_id long, embedding array<float>, label int"
        ).select(*emb.columns)
        if os.path.lexists(f"{OUT}/embeddings.parquet"):
            os.remove(f"{OUT}/embeddings.parquet")
        _write_single_file(emb.unionByName(edge_emb), f"{OUT}/embeddings.parquet")

        cu = spark.read.parquet(f"{BASE}/customer.parquet")
        ck_max = cu.agg(F.max("c_custkey")).first()[0]
        edge_cust = [
            (ck_max + 1, "", 0, 0.0, ""),                 # empty strings, zero balance
            (ck_max + 2, "Ünïcödé Nämé", 1, -1.0e9, "FUZZSEG"),  # unicode + huge negative
            (ck_max + 3, "x" * 500, 2, 1.0e9, "BUILDING"),  # 500-char name, huge balance
            (ck_max + 4, None, 3, 123.45, "MACHINERY"),   # NULL name
        ]
        edge_cu = spark.createDataFrame(
            edge_cust,
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ).select(*cu.columns)
        if os.path.lexists(f"{OUT}/customer.parquet"):
            os.remove(f"{OUT}/customer.parquet")
        _write_single_file(cu.unionByName(edge_cu), f"{OUT}/customer.parquet")

        sup = spark.read.parquet(f"{BASE}/supplier.parquet")
        sk_max = sup.agg(F.max("s_suppkey")).first()[0]
        edge_sup = [
            (sk_max + 1, "Ünïcödé Supplier", None, -1.0e9),  # NULL nation key
            (sk_max + 2, "", 0, 1.0e9),                      # empty name, huge balance
        ]
        edge_supdf = spark.createDataFrame(
            edge_sup, "s_suppkey long, s_name string, s_nationkey int, s_acctbal double"
        ).select(*sup.columns)
        if os.path.lexists(f"{OUT}/supplier.parquet"):
            os.remove(f"{OUT}/supplier.parquet")
        _write_single_file(sup.unionByName(edge_supdf), f"{OUT}/supplier.parquet")

        pt = spark.read.parquet(f"{BASE}/part.parquet")
        pk_max = pt.agg(F.max("p_partkey")).first()[0]
        edge_pt = [
            (pk_max + 1, "", "", "", 0, 0.0),                      # all-empty part
            (pk_max + 2, "ünïcödé pärt", "BRAND#99", "PROMO FUZZ TYPE", -5, 1.0e9),
            # Soundex pitfalls (v3): single-letter names (the classic
            # H/W-stripping edge: the code is just the letter padded),
            # h/w-separated same-code consonants (Ashcraft -> A261 with
            # h transparent; Pfister -> P236, adjacent same-code letters),
            # and a digit-leading name (no letter to head the code)
            (pk_max + 3, "H", "BRAND#01", "FUZZ", 1, 1.0),
            (pk_max + 4, "W", "BRAND#01", "FUZZ", 1, 1.0),
            (pk_max + 5, "Ashcraft", "BRAND#01", "FUZZ", 1, 1.0),
            (pk_max + 6, "Pfister", "BRAND#01", "FUZZ", 1, 1.0),
            (pk_max + 7, "Tymczak", "BRAND#01", "FUZZ", 1, 1.0),
            (pk_max + 8, "42nd street part", "BRAND#01", "FUZZ", 1, 1.0),
        ]
        edge_ptdf = spark.createDataFrame(
            edge_pt,
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
        ).select(*pt.columns)
        if os.path.lexists(f"{OUT}/part.parquet"):
            os.remove(f"{OUT}/part.parquet")
        _write_single_file(pt.unionByName(edge_ptdf), f"{OUT}/part.parquet")

        # the rest of the tables pass through untouched (symlinks)
        for t in "region nation".split():
            dst = f"{OUT}/{t}.parquet"
            if not os.path.exists(dst):
                os.symlink(f"{BASE}/{t}.parquet", dst)
        open(marker, "w").close()
    return OUT


def main() -> None:
    names = sys.argv[1:] or DEFAULT_QUERIES
    spark = get_spark("mda-fuzz")
    fuzz_dir = build_fuzz_dir(spark)

    import mysql_data_anonymizer_spark.queries as Q
    from tools.certify import duck_views, value_problems  # the certifier's own rule

    con = duck_views(fuzz_dir)

    failures = []
    for name in names:
        try:
            spd = Q.QUERIES[name](spark, fuzz_dir).toPandas()
            problems = value_problems(spd, con.sql(Q.ORACLES[name]).df())
            ok, msg = not problems, "; ".join(problems) or f"{len(spd)} rows"
        except Exception as exc:  # crash on edge rows IS the finding
            ok, msg = False, f"CRASH {type(exc).__name__}: {str(exc)[:300]}"
        release(spark)
        status = "OK  " if ok else "FAIL"
        print(f"{status} {name}: {msg}")
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} fuzz-clean; failures: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
