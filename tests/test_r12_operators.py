"""Round-12 tests: pins for the r11 ADVICE fixes (NULL-doc_id KN tercile
population, truncation-proof index_not_retrained_ok, explicit stream-plan
harvest keys), then the round-12 operator cohort."""

import duckdb
import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark import queries as Q


# ---------------------------------------------------------------------------
# kn_perplexity_docs — a NULL-doc_id document with bigrams must be EXCLUDED
# from the tercile cut population (r11 ADVICE medium): scored's equality
# join drops the NULL key in both engines, so the cuts must be computed
# from scored, not per_doc, or Spark's cuts shift corpus-wide vs DuckDB.
# ---------------------------------------------------------------------------
def test_kn_tercile_null_doc_id_excluded_from_cuts(spark, tmp_path):
    rows = [
        (0, "a b a b a c", "src0"),  # reference trainer
        (1, "a b", "other"),
        (2, "z b", "other"),
        (3, "a z", "other"),
        (None, "a b a b", "other"),  # NULL doc_id WITH bigrams
    ]
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, t, s in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = Q.QUERIES["kn_perplexity_docs"](spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r for r in out}
    # the NULL-doc_id row surfaces (all_ids keeps it) but scores NULL/tail
    assert by_id[None]["kn_score"] is None
    assert by_id[None]["bucket"] == "tail"
    # cut population = the non-NULL-scored rows of scored ONLY; replay the
    # rank-based cuts over exactly that population and check every bucket
    scores = sorted(
        r["kn_score"] for r in out if r["kn_score"] is not None
    )
    n = len(scores)
    c1 = scores[(n + 2) // 3 - 1]
    c2 = scores[(2 * n + 2) // 3 - 1]
    for r in out:
        s = r["kn_score"]
        want = "tail" if s is None or s <= c1 else ("middle" if s <= c2 else "head")
        assert r["bucket"] == want, (r["doc_id"], s, c1, c2, r["bucket"])
    # and the oracle agrees row-for-row on the same fixture
    con = duckdb.connect()
    pq = str(tmp_path / "documents.parquet") + "/*.parquet"
    con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{pq}')")
    oracle = con.execute(Q.ORACLES["kn_perplexity_docs"]).fetchall()
    key = lambda t: (t[0] is None, t[0])  # noqa: E731
    spark_rows = sorted(
        ((r["doc_id"], r["n_bigrams"], r["kn_score"], r["bucket"]) for r in out),
        key=key,
    )
    oracle_rows = sorted(((d, nb, ks, b) for d, nb, ks, b, _ in oracle), key=key)
    assert spark_rows == oracle_rows


# ---------------------------------------------------------------------------
# _plan_str_full — the layout-certification render must survive FileScan
# location truncation (r11 ADVICE low): the default plan render clips
# locations at spark.sql.maxMetadataStringLength (100), so a long fixture
# path swallows the '<table>.parquet' token and a substring gate
# false-passes while the corpus IS being scanned.
# ---------------------------------------------------------------------------
def test_plan_str_full_survives_long_paths(spark, tmp_path):
    deep = tmp_path
    for i in range(8):
        deep = deep / ("x" * 24 + str(i))
    deep.mkdir(parents=True)
    assert len(str(deep)) > 150
    spark.createDataFrame(
        [(1, "hello world")], "doc_id long, text string"
    ).write.mode("overwrite").parquet(str(deep / "documents.parquet"))
    df = spark.read.parquet(str(deep / "documents.parquet")).where("doc_id > 0")
    default_render = df._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in default_render, (
        "fixture no longer reproduces the truncation hazard"
    )
    # FileSourceScanExec.metadata is a lazy val frozen at FIRST render, so
    # the helper must see a fresh plan (exactly how the queries call it)
    df2 = spark.read.parquet(str(deep / "documents.parquet")).where("doc_id > 0")
    full_render = Q._plan_str_full(df2)
    assert "documents.parquet" in full_render
    # conf restored after the render
    assert int(spark.conf.get("spark.sql.maxMetadataStringLength")) <= 1024


# ---------------------------------------------------------------------------
# _ivf_scan_pruned — must parse BOTH literal partition-filter renders:
# INSET (>10 values) and IN (...) (below the inSetConversionThreshold, the
# small-nprobe regime knn_ivf_kmeans_indexed probes in)
# ---------------------------------------------------------------------------
def test_ivf_scan_pruned_parses_in_and_inset():
    tpl = (
        "FileScan parquet spark_catalog.default.ivftbl[vec_id#1L,cell#2L] "
        "Batched: true, PartitionFilters: [{pf}], PushedFilters: []"
    )
    assert Q._ivf_scan_pruned(tpl.format(pf="cell#2L IN (0,2,4)"), "ivftbl", 8)
    assert Q._ivf_scan_pruned(
        tpl.format(pf="cell#2L INSET 0,1,2,3,4,5,6,7,8,9,10"), "ivftbl", 16
    )
    # full enumeration prunes nothing
    assert not Q._ivf_scan_pruned(
        tpl.format(pf="cell#2L IN (0,1,2,3,4,5,6,7)"), "ivftbl", 8
    )
    # truncated metadata fails CLOSED
    assert not Q._ivf_scan_pruned(
        tpl.format(pf="cell#2L IN (0,2), ... 4 more fields"), "ivftbl", 8
    )
    # wrong table anchor
    assert not Q._ivf_scan_pruned(tpl.format(pf="cell#2L IN (0,2)"), "other", 8)
    # the shared parser behind both IVF plan gates
    assert Q._probed_cells(tpl.format(pf="cell#2L IN (0,2,4)"), "ivftbl") == {0, 2, 4}
    assert Q._probed_cells(
        tpl.format(pf="cell#2L INSET 0,1,2,3,4,5,6,7,8,9,10"), "ivftbl"
    ) == set(range(11))
    assert Q._probed_cells(
        tpl.format(pf="cell#2L IN (0,2), ... 4 more fields"), "ivftbl"
    ) is None
    assert Q._probed_cells(tpl.format(pf="cell#2L IN (0,2)"), "other") is None


# ---------------------------------------------------------------------------
# knn_ivf_kmeans_indexed — the unified-trainer IVF: one persisted Lloyd
# model drives both clustering and the ANN inverted file; all three
# certification gates must hold on the real fixture
# ---------------------------------------------------------------------------
def test_knn_ivf_kmeans_indexed_gates(spark):
    out = Q.QUERIES["knn_ivf_kmeans_indexed"](spark, "/root/testdata/sf0.001")
    rows = out.collect()
    assert len(rows) == 25  # 5 queries x k=5 exact twin rows
    gates = {
        (r["recall_ok"], r["probe_bounded_ok"], r["model_reused_ok"])
        for r in rows
    }
    assert gates == {(True, True, True)}, gates
    # one training path: the inverted file's cells are exactly the persisted
    # Lloyd model's cids (no second trainer introduced new cells)
    import pyspark.sql.functions as F  # noqa: PLC0415

    cdf = spark.read.parquet(
        Q._kmeans_centroid_index(spark, "/root/testdata/sf0.001")[0]
    )
    model_cids = {int(r["cid"]) for r in cdf.collect()}
    tbl = Q._kmeans_ivf_index(spark, "/root/testdata/sf0.001")
    index_cells = {
        int(r["cell"])
        for r in spark.table(tbl).select("cell").distinct().collect()
    }
    assert index_cells <= model_cids


# ---------------------------------------------------------------------------
# quality_score_docs — hashed-ngram logistic scorer: hand-replicated
# features/weights/exact-root sigmoid must match, empty docs score NULL
# ---------------------------------------------------------------------------
def _qs_expected(texts):
    import hashlib
    import math

    def u32(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    def tdiv(a, b):  # BIGINT DIV: truncation toward zero, not Python floor
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    w = {f: wv for f, wv in Q._QS_WEIGHT_ROWS}
    out = {}
    for i, t in enumerate(texts):
        tk = [x for x in t.strip().lower().split() if x]
        feats = [u32(x) % Q._QS_DIM for x in tk] + [
            u32(a + " " + b) % Q._QS_DIM for a, b in zip(tk, tk[1:])
        ]
        if not feats:
            out[i] = (0, None, None, False)
            continue
        dot = sum(w[f] for f in feats)
        z = tdiv(dot, len(feats))
        r = math.isqrt(10**12 + z * z)
        s = 500000 + tdiv(500000 * z, r)
        out[i] = (len(feats), z, s, s >= 500000)
    return out


def test_quality_score_docs_hand_computed(spark, tmp_path):
    texts = ["alpha beta gamma", "beta beta", "  ", "", "one"]
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: (
            r["n_feats"],
            r["logit_millionths"],
            r["score_millionths"],
            r["keep"],
        )
        for r in Q.QUERIES["quality_score_docs"](spark, str(tmp_path)).collect()
    }
    assert got == _qs_expected(texts)


# ---------------------------------------------------------------------------
# streaming_ewma_user_wm — the watermark+TTL twin must equal the no-wm
# sibling on the bounded replay (eviction never beats a user's final row)
# ---------------------------------------------------------------------------
def test_streaming_ewma_wm_twin_equals_sibling(spark):
    sd = "/root/testdata/sf0.001"
    base = {
        tuple(r)
        for r in Q.QUERIES["streaming_ewma_user"](spark, sd).collect()
    }
    wm = {
        tuple(r)
        for r in Q.QUERIES["streaming_ewma_user_wm"](spark, sd).collect()
    }
    assert wm == base and len(wm) > 0


# ---------------------------------------------------------------------------
# stateful_user_ewma TTL — event-time eviction actually fires: a user idle
# for more than the TTL of event time is REMOVED from the state store (the
# bounded-state claim, asserted from the state operator's own metrics)
# ---------------------------------------------------------------------------
def test_stateful_ewma_ttl_evicts_idle_user(spark, tmp_path):
    import time
    import uuid
    from datetime import datetime

    from mysql_data_anonymizer_spark.streaming.stream_ops import stateful_user_ewma

    t = lambda h, m: datetime(2024, 1, 1, h, m)  # noqa: E731
    stream_dir = tmp_path / "ttl_in"
    stream_dir.mkdir()
    schema = "user_id long, ts timestamp, event_id long, vm long"
    # batch 1: user 1 at 00:00; batch 2 (separate file, later mtime):
    # user 2 at 04:00 -> watermark 03:30 > user 1's TTL stamp 02:00
    spark.createDataFrame([(1, t(0, 0), 1, 1_000_000)], schema).coalesce(
        1
    ).write.parquet(str(stream_dir / "f1"))
    time.sleep(1.1)  # FileStreamSource orders batches by modification time
    spark.createDataFrame([(2, t(4, 0), 2, 2_000_000)], schema).coalesce(
        1
    ).write.parquet(str(stream_dir / "f2"))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir) + "/*")
        .withWatermark("ts", "30 minutes")
    )
    agg = stateful_user_ewma(stream, ttl_seconds=7200)
    name = f"ttl_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["user_id"]: r for r in spark.table(name).collect()}
    assert set(rows) == {1, 2}  # both emitted before/at their own batch
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert state_rows, "no state-operator progress recorded"
    # user 1's state must be evicted by the event-time timeout: the final
    # state row count is 1 (user 2 only), not 2
    assert state_rows[-1] == 1, state_rows


# ---------------------------------------------------------------------------
# streaming_dedup_index_probe_wm — append mode withholds non-finalized
# windows: the wm twin's rows are a strict subset of the sibling's docs
# ---------------------------------------------------------------------------
def test_streaming_probe_wm_finalization_subset(spark):
    sd = "/root/testdata/sf0.001"
    base = {
        (r["doc_id"], r["n_candidates"])
        for r in Q.QUERIES["streaming_dedup_index_probe"](spark, sd).collect()
    }
    wm = {
        (r["doc_id"], r["n_candidates"])
        for r in Q.QUERIES["streaming_dedup_index_probe_wm"](spark, sd).collect()
    }
    assert 0 < len(wm) < len(base)
    assert wm < base  # same candidate counts, tail windows withheld


# ---------------------------------------------------------------------------
# knn_ivf_kmeans_append — incremental inverted-file maintenance: appended
# index content must equal the full rebuild, gates green, and the append
# lands as extra files inside the base cell directories (no rewrite)
# ---------------------------------------------------------------------------
def test_knn_ivf_kmeans_append_merge_equals_rebuild(spark):
    sd = "/root/testdata/sf0.001"
    out = Q.QUERIES["knn_ivf_kmeans_append"](spark, sd)
    rows = out.collect()
    assert len(rows) == 25
    gates = {(r["recall_ok"], r["merge_equals_rebuild_ok"]) for r in rows}
    assert gates == {(True, True)}, gates
    # content identity with the full-corpus index, checked directly too
    app = {
        (r["vec_id"], r["cell"])
        for r in spark.table(Q._kmeans_ivf_index_appended(spark, sd))
        .select("vec_id", "cell")
        .collect()
    }
    full = {
        (r["vec_id"], r["cell"])
        for r in spark.table(Q._kmeans_ivf_index(spark, sd))
        .select("vec_id", "cell")
        .collect()
    }
    assert app == full and len(app) > 0


# ---------------------------------------------------------------------------
# triangle_count_copurchase — the oriented edge table is consumed three
# times (both wedge sides + the closing join); the r12 optimization pins it
# (eager localCheckpoint, the pagerank/kcore edge discipline) so the
# lineitem self-join + degree pipeline executes exactly once. Without the
# pin the executed plan carried 36 specialized parquet scans of lineitem
# and zero ReusedExchange. Guard the shape: the consuming plan must read
# ONLY pinned RDDs — any FileScan means the pin regressed.
# ---------------------------------------------------------------------------
def test_triangle_count_plan_reads_pinned_edges_only(spark):
    df = Q.QUERIES["triangle_count_copurchase"](spark, "/root/testdata/sf0.001")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    if "== Final Plan ==" in plan:
        plan = plan.split("== Initial Plan ==")[0]
    assert "FileScan" not in plan, plan[:800]
    # 3 consumers of the pinned RDD; AQE's final-plan render may fold a
    # broadcast-side read into a stage reference, so assert >= 2 not == 3
    assert plan.count("Scan ExistingRDD") >= 2, plan[:800]
