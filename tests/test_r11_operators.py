"""Round-11 tests: pins for the r10 ADVICE fixes (mixture overflow regime,
null-safe incremental splits, exact KN tercile cuts), then the round-11
operator cohort."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark import queries as Q


# ---------------------------------------------------------------------------
# mixture_alpha_weights — the overflow regime the old BIGINT product wrapped
# in (budget * w_alpha >> 2^63): Spark DECIMAL(38,0), DuckDB HUGEINT, and
# plain Python bigints must all agree exactly.
# ---------------------------------------------------------------------------
def test_mixture_overflow_regime_three_way_exact(spark):
    totals = [
        ("head", 4_600_000_000_000),  # the per-domain radicand ceiling
        ("mid", 3_000_000_000_000),
        ("tail", 100_000_000_000),
    ]
    budget = sum(t for _, t in totals)
    w = {lang: math.isqrt(t * 1_000_000) for lang, t in totals}
    assert budget * max(w.values()) > 2**63, "fixture must exceed int64"
    sum_w = sum(w.values())

    def expect(lang, tot):
        target = (budget * w[lang]) // sum_w
        return (
            tot,
            w[lang],
            (1_000_000 * w[lang]) // sum_w,
            target,
            min(4, max(1, (target + tot - 1) // tot)),
        )

    df = spark.createDataFrame(totals, "lang string, total_tokens long")
    got = {
        r["lang"]: (
            r["total_tokens"],
            r["w_alpha"],
            r["p_millionths"],
            r["target_tokens"],
            r["n_epochs"],
        )
        for r in Q._mixture_from_totals(df).collect()
    }
    for lang, tot in totals:
        assert got[lang] == expect(lang, tot), lang

    vals = ", ".join(f"('{lang}', CAST({t} AS BIGINT))" for lang, t in totals)
    sql = Q._gen_mixture_alpha_sql(
        f"SELECT * FROM (VALUES {vals}) t(lang, total_tokens)"
    )
    for row in duckdb.connect().execute(sql).fetchall():
        assert got[row[0]] == tuple(row[1:]), row[0]


# ---------------------------------------------------------------------------
# _inc_pred / _base_pred — the halves provably partition the corpus even
# with negative and NULL ids (the old `% 2 == 1` left negative-odd and NULL
# rows in NEITHER half)
# ---------------------------------------------------------------------------
def test_inc_split_partitions_corpus_with_negative_and_null_ids(spark):
    ids = [-4, -3, -2, -1, 0, 1, 2, 3, None]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    inc = {r["doc_id"] for r in df.where(Q._inc_pred()).collect()}
    base = {r["doc_id"] for r in df.where(Q._base_pred()).collect()}
    assert inc == {-3, -1, 1, 3}, "pmod folds negative odds into the increment"
    assert base == {-4, -2, 0, 2, None}, "NULL ids land in the base half"
    assert inc | base == set(ids) and not (inc & base)
    # oracle twin: identical membership from the SQL fragment
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(i,) for i in ids])
    sql_inc = {
        r[0]
        for r in con.execute(
            "SELECT doc_id FROM t WHERE COALESCE((doc_id % 2 + 2) % 2, 0) = 1"
        ).fetchall()
    }
    assert sql_inc == inc


def test_drift_merge_equals_rebuild_with_hostile_ids(spark, tmp_path):
    # negative odd + NULL doc_ids: under the old split these rows were in
    # NEITHER half, so the merge silently dropped their tokens while the
    # full-rebuild oracle counted them
    rows = [
        (-3, "alpha beta beta", "en", "src0", 15),
        (-2, "alpha gamma", "en", "src0", 11),
        (None, "beta beta beta", "en", "src1", 14),
        (0, "alpha alpha", "en", "src1", 11),
        (1, "gamma delta", "en", "src2", 11),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    full = {
        tuple(r)
        for r in Q.QUERIES["corpus_drift_tvd"](spark, str(tmp_path)).collect()
    }
    merged = {
        tuple(r)
        for r in Q.QUERIES["drift_incremental_merge"](spark, str(tmp_path))
        .drop("base_not_rescanned_ok")
        .collect()
    }
    assert merged == full, "merge must equal full rebuild on hostile ids"


# ---------------------------------------------------------------------------
# kn_perplexity_docs — rank-based tercile cuts are exact integers and
# deterministic at the boundaries (the float-lerp flip risk is gone)
# ---------------------------------------------------------------------------
def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_kn_tercile_buckets_rank_based(spark, tmp_path):
    # reference trains on doc 0; probes score three distinct levels:
    # seen bigram > unseen-context backoff > unseen-bigram continuation
    _write_docs(
        spark,
        tmp_path,
        [
            ("a b a b a c", "src0"),
            ("a b", "other"),  # highest contrib
            ("z b", "other"),  # middle (pure continuation)
            ("a z", "other"),  # lowest seen-context contrib
        ],
    )
    out = {
        r["doc_id"]: r
        for r in Q.QUERIES["kn_perplexity_docs"](spark, str(tmp_path)).collect()
    }
    scores = sorted(
        (r["kn_score"], d) for d, r in out.items() if r["kn_score"] is not None
    )
    n = len(scores)
    # discrete cuts: c1 at rank ceil(n/3), c2 at rank ceil(2n/3); bucket by
    # strict > comparison — every boundary decision is integer-exact
    c1 = scores[(n + 2) // 3 - 1][0]
    c2 = scores[(2 * n + 2) // 3 - 1][0]
    for d, r in out.items():
        s = r["kn_score"]
        want = (
            "tail"
            if s is None or s <= c1
            else ("middle" if s <= c2 else "head")
        )
        assert r["bucket"] == want, (d, s, c1, c2, r["bucket"])
    # all-scores-equal corpus: ties share one bucket (no lerp wobble)
    _write_docs(
        spark,
        tmp_path,
        [("a b a b a c", "src0")] + [("a b", "other")] * 5,
    )
    out2 = Q.QUERIES["kn_perplexity_docs"](spark, str(tmp_path)).collect()
    nonnull = {r["bucket"] for r in out2 if r["kn_score"] is not None}
    assert len(nonnull) == 1, "equal scores must land in one bucket"


# ---------------------------------------------------------------------------
# kcore_copurchase_parts on a hand graph: the peel keeps the K4 and its
# semi-joins against the alive set are broadcast, never sort-merged
# ---------------------------------------------------------------------------
def _write_lineitem_graph(spark, tmp_path, order_parts):
    rows = [(o, p) for o, parts in order_parts for p in parts]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))


def test_kcore_fallback_identical_hand_graph(spark, tmp_path):
    # K4 on parts 1-4 (all degree 3 -> the 3-core) + pendant part 5
    # (degree 1 -> peeled round 1)
    _write_lineitem_graph(spark, tmp_path, [(100, [1, 2, 3, 4]), (200, [4, 5])])
    out = Q.kcore_copurchase_parts(spark, str(tmp_path))
    assert {tuple(r) for r in out.collect()} == {(p, 3, True) for p in (1, 2, 3, 4)}
    plan = out._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# kmeans_lloyd_embeddings — full Lloyd loop vs a plain-Python replay of the
# exact-integer trajectory (quantize -> assign -> trunc-div means, 4 rounds)
# ---------------------------------------------------------------------------
def _lloyd_reference(vecs, k, rounds):
    q = {
        vid: [math.floor(min(max(x, -100.0), 100.0) * 1_000_000) for x in v]
        for vid, v in vecs.items()
    }
    cents = {cid: list(q[cid]) for cid in range(k)}
    dim = len(next(iter(q.values())))
    prev = assign = None
    for rnd in range(rounds):
        prev = assign
        assign = {}
        for vid, v in q.items():
            best = min(
                (sum((a - b) ** 2 for a, b in zip(v, c)), cid)
                for cid, c in cents.items()
            )
            assign[vid] = best  # (dist2, cid)
        if rnd == rounds - 1:
            break
        new = {}
        for cid in cents:
            members = [q[vid] for vid, (_, c) in assign.items() if c == cid]
            if members:
                n = len(members)
                # trunc-toward-zero division, matching Spark DIV / DuckDB //
                new[cid] = []
                for col in zip(*members):
                    s = sum(col)
                    d = abs(s) // n
                    new[cid].append(-d if s < 0 else d)
            else:
                new[cid] = cents[cid]
        cents = new
    changed = sum(1 for vid in assign if assign[vid][1] != prev[vid][1])
    return {
        vid: (c, d, changed == 0) for vid, (d, c) in assign.items()
    }


def test_kmeans_lloyd_matches_python_reference(spark, tmp_path):
    import random

    rng = random.Random(7)
    # 3 visible blobs, 18 vectors, dim 4 (the Spark side is dim-agnostic;
    # the ORACLE hardcodes 64 dims for the fixture — tools/certify.py covers
    # that path, this test pins the Spark trajectory itself)
    centers = [[0.8, 0.8, -0.5, 0.1], [-0.7, 0.2, 0.6, -0.3], [0.1, -0.9, 0.0, 0.9]]
    vecs = {}
    for i in range(18):
        c = centers[i % 3]
        vecs[i] = [x + rng.uniform(-0.05, 0.05) for x in c]
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    # quantization happens from the FLOAT32-rounded values the parquet
    # actually stores — read back for the reference
    stored = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in spark.read.parquet(str(tmp_path / "embeddings.parquet")).collect()
    }
    want = _lloyd_reference(stored, Q.KMEANS_K, Q._KMEANS_ROUNDS)
    got = {
        r["vec_id"]: (r["cluster"], r["dist2"], r["converged"])
        for r in Q.QUERIES["kmeans_lloyd_embeddings"](spark, str(tmp_path)).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# knn_recall_report — one hash-locked recall row per ANN method
# ---------------------------------------------------------------------------
def test_kmeans_incremental_assign_index_reused_and_gated(spark, sf_dir):
    out1 = Q.QUERIES["kmeans_incremental_assign"](spark, sf_dir)
    rows1 = out1.collect()
    assert rows1 and all(r["index_not_retrained_ok"] for r in rows1)
    # increment = odd vec_ids only
    assert all(r["vec_id"] % 2 == 1 for r in rows1)
    # memoized model: the second call reuses the SAME parquet path
    p1 = Q._kmeans_centroid_index(spark, sf_dir)[0]
    p2 = Q._kmeans_centroid_index(spark, sf_dir)[0]
    assert p1 == p2
    # assignments agree with a direct assignment against the stored model
    cdf = spark.read.parquet(p1)
    inc = Q._kmeans_quantize(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet").where(
            Q._inc_pred("vec_id")
        )
    )
    direct = {
        r["vec_id"]: (r["cluster"], r["dist2"])
        for r in Q._kmeans_assign(inc, cdf).collect()
    }
    assert {r["vec_id"]: (r["cluster"], r["dist2"]) for r in rows1} == direct


def test_knn_recall_report_all_methods_clear_floors(spark, sf_dir):
    rows = {
        r["method"]: r
        for r in Q.QUERIES["knn_recall_report"](spark, sf_dir).collect()
    }
    assert set(rows) == set(Q._KNN_RECALL_FLOORS)
    for m, fl in Q._KNN_RECALL_FLOORS.items():
        r = rows[m]
        assert r["recall_ok"], m
        assert r["certified_floor_hits"] == fl
        assert r["floor_recall_millionths"] == 1_000_000 * fl // 25
        assert r["true_pairs"] == 25 and r["k"] == 5
    # oracle twin is a constant table — direct cross-check (column order:
    # method, k, true_pairs, certified_floor_hits, floor_recall_millionths,
    # recall_ok)
    got = {
        (t[0], t[3], t[5])
        for t in duckdb.connect().execute(Q.ORACLES["knn_recall_report"]).fetchall()
    }
    want = {(m, fl, True) for m, fl in Q._KNN_RECALL_FLOORS.items()}
    assert got == want


# ---------------------------------------------------------------------------
# gopher_rules_docs — each rule boundary exercised by a hand-built doc
# ---------------------------------------------------------------------------
def test_gopher_rules_hand_docs(spark, tmp_path):
    docs = [
        # doc 0: clean — passes every rule
        (0, "the quick brown fox jumps over the lazy dog near a river bank"),
        # doc 1: too few words (4 < 5)
        (1, "the of and to"),
        # doc 2: a 60-char token -> rule_max_wlen fails (and mean wlen high)
        (2, "the " + "x" * 60 + " of and to in a is for word here now"),
        # doc 3: no stop words
        (3, "zebra quokka wombat lemur gecko iguana"),
        # doc 4: mostly digits -> alpha mass below 60%
        (4, "the 12345 67890 11111 22222 33333 44444 55555 66666"),
        # doc 5: empty text -> every count rule fails closed
        (5, ""),
        # doc 6: whitespace only
        (6, "   \t  "),
    ]
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in Q.QUERIES["gopher_rules_docs"](spark, str(tmp_path)).collect()
    }
    assert out[0]["keep"] and all(
        out[0][c] for c in out[0].asDict() if c.startswith("rule_")
    )
    assert not out[1]["rule_word_count"] and not out[1]["keep"]
    assert not out[2]["rule_max_wlen"] and not out[2]["keep"]
    assert out[2]["max_wlen"] == 60
    assert not out[3]["rule_stopwords"] and not out[3]["keep"]
    assert not out[4]["rule_alpha"] and not out[4]["keep"]
    for d in (5, 6):
        assert out[d]["n_words"] == 0
        assert out[d]["mean_wlen_millionths"] is None
        assert not out[d]["rule_word_count"]
        assert not out[d]["rule_mean_wlen"], "NULL mean must fail closed"
        assert not out[d]["keep"]
    # cross-engine: identical rows from the oracle on the same fixture
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet/*.parquet')"
    )
    orc = {int(t[0]): t for t in con.execute(Q.ORACLES["gopher_rules_docs"]).fetchall()}
    for i, r in out.items():
        assert tuple(r) == orc[i], i
