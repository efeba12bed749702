"""Round-10 tests: pins for the r9 ADVICE fixes, the k-anonymity group
join's plan, then the round-10 operator cohort."""

from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.operators import privacy


# ---------------------------------------------------------------------------
# enforce_k_anonymity — the group table joins back by broadcast
# ---------------------------------------------------------------------------
def test_enforce_k_group_join_is_broadcast(spark):
    rows = (
        [(i, "A", None if i % 3 == 0 else "x") for i in range(8)]
        + [(8, "B", "y"), (9, "B", "y"), (10, None, None), (11, "C", "z")]
    )
    df = spark.createDataFrame(rows, "id long, qi1 string, qi2 string")
    out = privacy.enforce_k_anonymity(df, ["qi1", "qi2"], k=3)
    assert out.count() == len(rows)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


# ---------------------------------------------------------------------------
# kn_perplexity_docs — hand-computed interpolated-KN contributions
# ---------------------------------------------------------------------------
def _write_docs(spark, tmp_path, rows):
    spark.createDataFrame(
        [(i, t, "en", s, len(t)) for i, (t, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))


def test_kn_perplexity_hand_computed(spark, tmp_path):
    from mysql_data_anonymizer_spark import queries as Q

    # reference doc (src0): "a b a b a c" -> c(ab)=2 c(ba)=2 c(ac)=1,
    # c(a.)=3 n_follow(a)=2; c(b.)=2 n_follow(b)=1; N1+(.b)=1 N1+(.a)=1
    # N1+(.c)=1; T=3 bigram types
    _write_docs(
        spark,
        tmp_path,
        [
            ("a b a b a c", "src0"),  # doc 0: the reference slice
            ("a b", "other"),  # doc 1: seen bigram
            ("z b", "other"),  # doc 2: unseen left context
            ("a z", "other"),  # doc 3: unseen bigram + unseen w2
            ("solo", "other"),  # doc 4: no bigrams -> NULL score, tail
        ],
    )
    out = {
        r["doc_id"]: r
        for r in Q.QUERIES["kn_perplexity_docs"](spark, str(tmp_path)).collect()
    }
    # doc1 (a,b): 1e6*(max(4*2-3,0)*3 + 3*2*1) DIV (4*3*3) = 21e6 DIV 36
    assert out[1]["kn_score"] == 21_000_000 // 36
    # doc2 (z,b): unseen context -> 1e6*N1+(.b) DIV T = 1e6 DIV 3
    assert out[2]["kn_score"] == 1_000_000 // 3
    # doc3 (a,z): c_xy=0, n_precede'(z)=1 -> 1e6*(0 + 3*2*1) DIV 36
    assert out[3]["kn_score"] == 6_000_000 // 36
    # KN cross-check: contrib/1e6 ~= (c-0.75)/c_w1 + 0.75*n_follow/c_w1 * n_prec/T
    expect1 = (2 - 0.75) / 3 + 0.75 * (2 / 3) * (1 / 3)
    assert abs(out[1]["kn_score"] / 1e6 - expect1) < 1e-6
    assert out[4]["kn_score"] is None and out[4]["bucket"] == "tail"
    assert out[4]["n_bigrams"] == 0
    assert all(r["keyed_join_ok"] for r in out.values())


def test_kn_probabilities_sum_to_one_over_ref_vocab(spark, tmp_path):
    # interpolated KN is a proper distribution: for a seen context w1,
    # sum over the FULL ref vocab of P_KN(w2|w1) == 1. Exact-millionths
    # contribs floor each term, so the integer sum lands within
    # |vocab| of 1e6.
    from mysql_data_anonymizer_spark import queries as Q

    ref = "a b a b a c b c a a"  # varied context/continuation counts
    vocab = sorted(set(ref.split()))
    probe = " ".join(f"a {w}" for w in vocab)  # bigrams (a,w) for all w? no:
    # one doc per probe bigram so per-doc score == that bigram's contrib
    _write_docs(
        spark,
        tmp_path,
        [(ref, "src0")] + [(f"a {w}", "other") for w in vocab],
    )
    rows = Q.QUERIES["kn_perplexity_docs"](spark, str(tmp_path)).collect()
    contribs = [
        r["kn_score"] for r in rows if r["doc_id"] >= 1 and r["n_bigrams"] == 1
    ]
    total = sum(contribs)
    assert 1_000_000 - 3 * len(vocab) <= total <= 1_000_000, total


# ---------------------------------------------------------------------------
# mixture_alpha_weights — integer-root exactness + alpha limit properties
# ---------------------------------------------------------------------------
def test_int_root_fragment_exact_in_both_engines():
    import math

    import duckdb

    from mysql_data_anonymizer_spark import queries as Q

    # perfect powers +/- 1 are the off-by-one killers; include the large-x
    # regime where double sqrt rounding bites
    xs = []
    for k in [0, 1, 2, 3, 10, 999, 10**6, 10**9, 2 * 10**9 - 7]:
        for d in (-1, 0, 1):
            x = k * k + d
            if x >= 0:
                xs.append(x)
    frag = Q._root_correct_sql(2)
    seed = Q._root_seed_sql("__x", 2)
    con = duckdb.connect()
    for x in xs:
        got = con.execute(
            f"SELECT CAST({frag} AS BIGINT) FROM "
            f"(SELECT *, {seed} AS __r0 FROM (SELECT CAST({x} AS BIGINT) AS __x))"
        ).fetchone()[0]
        assert got == math.isqrt(x), (x, got)


def test_mixture_alpha_one_is_proportional_and_zero_is_uniform(spark, tmp_path):
    from mysql_data_anonymizer_spark import queries as Q

    _write_docs(
        spark,
        tmp_path,
        [("w " * n, f"s{n}") for n in (4, 16, 64)],
    )
    docs = spark.read.parquet(str(tmp_path / "documents.parquet"))

    def weights(a, b):
        from pyspark.sql import functions as F

        base = docs.select(
            "source",
            F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("n"),
        )
        totals = base.groupBy("source").agg(F.sum("n").alias("total_tokens"))
        w = (
            totals.withColumn(
                "__x", F.expr(Q._mixture_x_sql("total_tokens", a, b, 1000))
            )
            .withColumn("__r0", F.expr(Q._root_seed_sql("__x", b)))
            .withColumn("w_alpha", F.expr(Q._root_correct_sql(b)).cast("long"))
        )
        return {r["source"]: (r["total_tokens"], r["w_alpha"]) for r in w.collect()}

    # alpha = 1 (a=b=1): w == 1000 * tot exactly -> proportional
    for tot, w in weights(1, 1).values():
        assert w == 1000 * tot
    # alpha = 0 (a=0, b=1): w == 1000 for every domain -> uniform
    assert {w for _, w in weights(0, 1).values()} == {1000}
    # alpha = 1/2: strictly between — tempered, order-preserving
    half = weights(1, 2)
    ws = [w for _, w in sorted(half.values())]
    assert ws == sorted(ws) and len(set(ws)) == len(ws)
    import math

    for tot, w in half.values():
        assert w == math.isqrt(tot * 1_000_000)


def test_mixture_alpha_weights_epoch_clamp(spark, tmp_path):
    from mysql_data_anonymizer_spark import queries as Q

    # one giant domain + one tiny: the tiny domain's target/n ratio exceeds
    # 4 -> epoch cap binds; the giant gets >= 1
    _write_docs(
        spark,
        tmp_path,
        [("w " * 10000, "big"), ("w " * 4, "tiny")],
    )
    # lang is the domain column in the registered query; our fixture puts
    # both docs in lang 'en' — use distinct langs instead
    spark.createDataFrame(
        [(0, "w " * 10000, "big", "s", 1), (1, "w " * 4, "tiny", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["lang"]: r
        for r in Q.QUERIES["mixture_alpha_weights"](spark, str(tmp_path)).collect()
    }
    assert out["tiny"]["n_epochs"] == 4, "upsample cap must bind"
    assert out["big"]["n_epochs"] == 1
    assert out["big"]["p_millionths"] + out["tiny"]["p_millionths"] <= 1_000_000
    # temperature: the tiny domain's probability share exceeds its token share
    tot = out["big"]["total_tokens"] + out["tiny"]["total_tokens"]
    assert out["tiny"]["p_millionths"] > 1_000_000 * out["tiny"]["total_tokens"] // tot


# ---------------------------------------------------------------------------
# corpus_drift_tvd — hand-computed drift + identity/disjoint extremes
# ---------------------------------------------------------------------------
def test_corpus_drift_identical_and_disjoint_extremes(spark, tmp_path):
    from mysql_data_anonymizer_spark import queries as Q

    _write_docs(
        spark,
        tmp_path,
        [
            ("a a b", "src0"),  # reference slice: p(a)=2/3 p(b)=1/3
            ("a a b", "same"),  # identical distribution -> TVD 0, OOV 0
            ("x y z", "alien"),  # fully disjoint -> TVD ~1e6, OOV 1e6
            ("a b b", "half"),  # p(a)=1/3 p(b)=2/3 -> TVD = 1/3
        ],
    )
    out = {
        r["source"]: r
        for r in Q.QUERIES["corpus_drift_tvd"](spark, str(tmp_path)).collect()
    }
    assert out["same"]["tvd_millionths"] == 0
    assert out["same"]["oov_mass_millionths"] == 0
    # reference source vs the pooled reference IS itself -> zero drift
    assert out["src0"]["tvd_millionths"] == 0
    # disjoint: sum |p-q| = 2 -> TVD = 1e6 (floored terms: 3*333333 both
    # sides -> (999999+999999) DIV 2)
    assert out["alien"]["oov_mass_millionths"] == 1_000_000
    assert out["alien"]["tvd_millionths"] == 999_999
    # half: |1/3-2/3|+|2/3-1/3| = 2/3 -> TVD 1/3 (with millionth flooring)
    assert abs(out["half"]["tvd_millionths"] - 333_333) <= 1
    assert out["half"]["oov_mass_millionths"] == 0
    assert out["alien"]["n_tokens"] == 3 and out["alien"]["vocab_size"] == 3


def test_kcore_hand_graph_peels_tail_and_keeps_clique(spark, tmp_path):
    from mysql_data_anonymizer_spark import queries as Q

    # order 100 buys parts {1,2,3,4} -> K4 clique (degree 3 each);
    # order 101 buys {4,5} -> pendant edge; order 102 buys {5,6} -> chain.
    # 3-core = exactly the K4; 5 and 6 peel (degree < 3), and peeling 5
    # removes 4's extra edge without dropping 4 below 3.
    rows = [(100, p) for p in (1, 2, 3, 4)] + [(101, 4), (101, 5), (102, 5), (102, 6)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {
        r["p_partkey"]: r
        for r in Q.QUERIES["kcore_copurchase_parts"](spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert all(r["core_degree"] == 3 for r in out.values())
    assert all(r["converged"] for r in out.values())


def test_kcore_empty_core_and_extra_round_idempotent(spark, tmp_path):
    from mysql_data_anonymizer_spark import queries as Q

    # a pure chain has no 3-core: every round peels endpoints until empty
    rows = [(200 + i, p) for i, p in enumerate(range(10)) for p in (p, p + 1)]
    spark.createDataFrame(
        [(200 + i, p) for i in range(9) for p in (i, i + 1)],
        "l_orderkey long, l_partkey long",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = Q.QUERIES["kcore_copurchase_parts"](spark, str(tmp_path)).collect()
    assert out == []  # empty core -> empty result (converged flag vacuous)
    # fixture-scale fixpoint: one extra unrolled round changes nothing
    import mysql_data_anonymizer_spark.queries as QM

    sql6 = QM._gen_kcore_sql(rounds=6)
    sql7 = QM._gen_kcore_sql(rounds=7)
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW lineitem AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.01/lineitem.parquet')"
    )
    r6 = sorted(con.execute(sql6).fetchall())
    r7 = sorted(con.execute(sql7).fetchall())
    assert r6 == r7, "6 peel rounds must already be the fixpoint at sf0.01"


def test_drift_incremental_merge_equals_rebuild_and_never_rescans(spark, tmp_path):
    from mysql_data_anonymizer_spark import queries as Q

    _write_docs(
        spark,
        tmp_path,
        [
            ("a a b", "src0"),  # doc 0 (even -> base)
            ("x y a", "newcrawl"),  # doc 1 (odd -> increment)
            ("a b b", "half"),  # doc 2 (even -> base)
            ("b z", "newcrawl"),  # doc 3 (odd -> increment)
        ],
    )
    inc = Q.QUERIES["drift_incremental_merge"](spark, str(tmp_path))
    full = Q.QUERIES["corpus_drift_tvd"](spark, str(tmp_path))
    got = {
        r["source"]: r for r in inc.collect()
    }
    want = {r["source"]: r for r in full.collect()}
    assert set(got) == set(want)
    for s in want:
        for c in ("n_tokens", "vocab_size", "tvd_millionths", "oov_mass_millionths"):
            assert got[s][c] == want[s][c], (s, c)
    assert all(r["base_not_rescanned_ok"] for r in got.values()), (
        "final plan must contain no documents scan — only the persisted "
        "count index and the checkpointed increment counts"
    )


def test_corpus_drift_excludes_null_source_and_counts_ref_only_terms(
    spark, tmp_path
):
    from mysql_data_anonymizer_spark import queries as Q

    spark.createDataFrame(
        [
            (0, "a b c d", "en", "src0", 7),
            (1, "a", "en", "narrow", 1),  # misses b,c,d from the ref
            (2, "junk junk", "en", None, 9),  # NULL source -> excluded
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = Q.QUERIES["corpus_drift_tvd"](spark, str(tmp_path)).collect()
    srcs = {r["source"] for r in rows}
    assert None not in srcs and srcs == {"src0", "narrow"}
    nw = {r["source"]: r for r in rows}["narrow"]
    # narrow: p(a)=1 vs ref q(a)=1/4 -> |1e6 - 250000| = 750000; the three
    # ref-only terms contribute 250000 each -> TVD = (750000+750000) DIV 2
    assert nw["tvd_millionths"] == 750_000
    assert nw["oov_mass_millionths"] == 0
