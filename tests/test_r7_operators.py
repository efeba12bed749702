"""Unit tests for the round-7 operators — edge semantics the registry's
oracle parametrization can't isolate (tiny hand-built frames with
hand-computed expectations)."""

import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.operators import privacy, similarity, text


# ---------------------------------------------------------------------------
# rrf_fuse
# ---------------------------------------------------------------------------
def test_rrf_fuse_three_rankers_and_absences(spark):
    def ranking(rows):
        return spark.createDataFrame(rows, "query_id long, neighbor_id long, rank long")

    a = ranking([(1, 10, 1), (1, 11, 2)])
    b = ranking([(1, 10, 1), (1, 12, 2)])
    c = ranking([(1, 12, 1)])
    out = similarity.rrf_fuse([("a", a), ("b", b), ("c", c)], k=10, rrf_k=60)
    rows = {r["neighbor_id"]: r for r in out.collect()}
    # contributions: floor(1e9/61)=16393442, floor(1e9/62)=16129032
    c61, c62 = 1000000000 // 61, 1000000000 // 62
    assert rows[10]["rrf_score"] == 2 * c61          # in a@1 and b@1
    assert rows[12]["rrf_score"] == c62 + c61        # b@2 + c@1
    assert rows[11]["rrf_score"] == c62              # a@2 only
    # absent rankers report -1
    assert rows[11]["b_rank"] == -1 and rows[11]["c_rank"] == -1
    assert rows[10]["c_rank"] == -1
    # fused order: 10 (2*c61) > 12 (c62+c61) > 11 (c62)
    assert [rows[n]["fused_rank"] for n in (10, 12, 11)] == [1, 2, 3]


# ---------------------------------------------------------------------------
# lexical_jaccard_topk
# ---------------------------------------------------------------------------
def test_lexical_jaccard_exact_integer_scores(spark):
    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "a x y"), (4, "")],
        "doc_id long, text string",
    )
    out = similarity.lexical_jaccard_topk(docs, docs.where("doc_id = 1"), k=10)
    rows = {r["neighbor_id"]: r for r in out.collect()}
    assert rows[2]["jacc_sc"] == 1000000          # identical sets
    assert rows[3]["jacc_sc"] == 200000           # |{a}| / |{a,b,c,x,y}| = 1/5
    assert rows[4]["jacc_sc"] == 0                # empty union -> 0
    assert rows[2]["rank"] == 1


# ---------------------------------------------------------------------------
# enforce_k_anonymity
# ---------------------------------------------------------------------------
def test_enforce_k_boundary_and_null_groups(spark):
    # group A: 3 rows (>= k=3, kept); group B: 2 rows (suppressed);
    # NULL group: 2 rows (suppressed — NULL must count as a group)
    rows = [(1, "A"), (2, "A"), (3, "A"), (4, "B"), (5, "B"), (6, None), (7, None)]
    df = spark.createDataFrame(rows, "id long, qi string")
    out = privacy.enforce_k_anonymity(df, ["qi"], k=3)
    got = {r["id"]: r for r in out.collect()}
    assert len(got) == 7, "every input row must appear exactly once"
    for i in (1, 2, 3):
        assert not got[i]["suppressed"] and got[i]["qi_out"] == "A"
        assert got[i]["group_n"] == 3
    for i in (4, 5):
        assert got[i]["suppressed"] and got[i]["qi_out"] == "*"
    for i in (6, 7):
        assert got[i]["suppressed"], "NULL QI rows must not dodge suppression"
    # suppressed rows release the MERGED '*'-group total (2 + 2 = 4), never
    # their exact sub-k group size — exact sizes would re-partition the
    # merged group into its original equivalence classes (r7 ADVICE)
    for i in (4, 5, 6, 7):
        assert got[i]["group_n"] == 4


def test_enforce_k_group_exactly_k_is_kept(spark):
    df = spark.createDataFrame([(i, "G") for i in range(5)], "id long, qi string")
    out = privacy.enforce_k_anonymity(df, ["qi"], k=5)
    assert all(not r["suppressed"] for r in out.collect())


# ---------------------------------------------------------------------------
# hashed_quality_features
# ---------------------------------------------------------------------------
def test_hashed_quality_exact_token_count_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "  Foo  bar BAZ "), (2, ""), (3, None)], "id long, text string"
    )
    out = df.select("id", text.hashed_quality_features(F.col("text")).alias("f"))
    rows = {r["id"]: r["f"] for r in out.collect()}
    assert rows[1]["n_tokens"] == 3
    assert isinstance(rows[1]["w_sum"], int)
    assert rows[2]["n_tokens"] == 0 and rows[2]["w_sum"] == 0
    assert rows[3] is None or rows[3]["n_tokens"] is None  # NULL text propagates


def test_hashed_quality_case_and_whitespace_invariant(spark):
    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello   world  ")], "id long, text string"
    )
    out = df.select("id", text.hashed_quality_features(F.col("text")).alias("f"))
    rows = {r["id"]: r["f"] for r in out.collect()}
    assert rows[1] == rows[2], "lower+trim+split contract"


# ---------------------------------------------------------------------------
# pagerank integer fixpoint — hand-replayed tiny graph
# ---------------------------------------------------------------------------
def test_pagerank_integer_iteration_matches_hand_replay(spark, tmp_path):
    # triangle 1-2-3 plus pair 4-5, replicated through the query's exact
    # integer recurrence in plain Python
    edges = [(1, 2), (2, 3), (1, 3), (4, 5)]
    sym = set()
    for a, b in edges:
        sym.add((a, b))
        sym.add((b, a))
    deg = {}
    for s, _ in sym:
        deg[s] = deg.get(s, 0) + 1
    nodes = sorted(deg)
    r = {n: 1000000 for n in nodes}
    for _ in range(5):
        msgs = {}
        for s, d in sym:
            msgs[d] = msgs.get(d, 0) + (r[s] * 85) // (deg[s] * 100)
        r = {n: 150000 + msgs.get(n, 0) for n in nodes}

    # drive the same recurrence through the Spark plan the query builds
    from mysql_data_anonymizer_spark import queries as Q

    li = spark.createDataFrame(
        [(i, a) for i, (a, b) in enumerate(edges) for a in (a, b)],
        "l_orderkey long, l_partkey long",
    )
    d = str(tmp_path)
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    out = Q.QUERIES["pagerank_copurchase_parts"](spark, d)
    got = {row["p_partkey"]: row for row in out.collect()}
    assert set(got) == set(nodes)
    for n in nodes:
        assert got[n]["pagerank_millionths"] == r[n], n
        assert got[n]["degree"] == deg[n]


# ---------------------------------------------------------------------------
# synthesize marginals — determinism + domain closure
# ---------------------------------------------------------------------------
def test_synthesize_marginals_deterministic_and_closed(spark, sf_dir):
    from mysql_data_anonymizer_spark import queries as Q

    a = Q.QUERIES["synthesize_marginals_customers"](spark, sf_dir).collect()
    b = Q.QUERIES["synthesize_marginals_customers"](spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)), "replayable draw"
    src = spark.read.parquet(f"{sf_dir}/customer.parquet")
    segs = {r[0] for r in src.select("c_mktsegment").distinct().collect()}
    nats = {r[0] for r in src.select("c_nationkey").distinct().collect()}
    assert {r["mktsegment_syn"] for r in a} <= segs
    assert {r["nationkey_syn"] for r in a} <= nats
    assert len(a) == src.count(), "one synthetic row per source row"
