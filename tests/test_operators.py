"""Property tests for dedup / similarity / text operators (SURVEY §5)."""

import pytest
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.operators import dedup, similarity, text


# ---------------------------------------------------------------- dedup
def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b"), (5, "c")], "doc_id long, text string"
    )
    out = {r.doc_id for r in dedup.exact_dedup(df, ["text"], "doc_id").collect()}
    assert out == {1, 3, 5}


def test_shingles_short_doc_empty(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "one two three")], "doc_id long, text string")
    sh = dedup.shingles(df, "doc_id", "text", n=3)
    rows = sh.collect()
    assert {r["__id"] for r in rows} == {2}
    assert [r.sh for r in rows] == ["one two three"]


def test_ngram_jaccard_identical_docs(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.9).collect()
    assert [(p.id_a, p.id_b, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_minhash_lsh_finds_near_dups(spark, documents):
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(documents, "doc_id", "text", threshold=0.7).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(documents, "doc_id", "text", threshold=0.7).collect()
    }
    assert lsh <= exact  # verification guarantees no false positives
    if exact:
        assert len(lsh) / len(exact) >= 0.5  # banding recall on fixture


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "zeta eta theta iota kappa unrelated")],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_pairs(df, "doc_id", "text", max_hamming=0).collect()
    assert [(p.id_a, p.id_b, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_simhash_deterministic(spark, documents):
    a = dedup.simhash(documents.limit(50), "doc_id", "text").collect()
    b = dedup.simhash(documents.limit(50), "doc_id", "text").collect()
    assert {(r.doc_id, r.simhash) for r in a} == {(r.doc_id, r.simhash) for r in b}
    assert all(r.simhash >= 0 for r in a)


def test_embedding_near_dup_symmetric_threshold(spark, embeddings):
    pairs = dedup.embedding_near_dup_pairs(embeddings, threshold=0.4).collect()
    assert all(p.cosine >= 0.4 for p in pairs)
    assert all(p.id_a < p.id_b for p in pairs)


# ------------------------------------------------------------ similarity
def test_brute_force_topk_self_excluded(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 3)
    out = similarity.brute_force_topk(embeddings, q, k=4).collect()
    assert all(r.query_id != r.neighbor_id for r in out)
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        assert [r.rank for r in sorted(rows, key=lambda x: x.rank)] == [1, 2, 3, 4]
        cosines = [r.cosine for r in sorted(rows, key=lambda x: x.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_topk_recall(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id) for r in similarity.brute_force_topk(embeddings, q, k=5).collect()}
    ls = {(r.query_id, r.neighbor_id) for r in similarity.lsh_topk(embeddings, q, k=5).collect()}
    assert len(bf & ls) / len(bf) >= 0.5


def test_matmul_topk_matches_brute_force(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    bf = sorted((r.query_id, r.neighbor_id, r.rank) for r in similarity.brute_force_topk(embeddings, q, k=5).collect())
    mm = sorted((r.query_id, r.neighbor_id, r.rank) for r in similarity.matmul_topk(embeddings, q, k=5).collect())
    assert bf == mm


def test_dot_expr_unrolled_matches_hof(spark, embeddings):
    two = embeddings.limit(32).select(
        similarity.dot_expr("embedding", "embedding", dim=64).alias("u"),
        similarity.dot_expr("embedding", "embedding", dim=None).alias("h"),
    )
    assert all(r.u == r.h for r in two.collect())  # bit-identical


# ----------------------------------------------------------------- text
def test_token_count_edges(spark):
    df = spark.createDataFrame([("",), ("  ",), ("one",), ("one two  three",)], "text string")
    out = [r.n for r in df.select(text.token_count(F.col("text")).alias("n")).collect()]
    assert out == [0, 0, 1, 3]


def test_fingerprint_order_insensitive(spark):
    df = spark.createDataFrame([("b a c",), ("c b a",), ("a b d",)], "text string")
    fps = [r.fp for r in df.select(text.fingerprint(F.col("text")).alias("fp")).collect()]
    assert fps[0] == fps[1] != fps[2]


def test_quality_bounds_and_determinism(spark, documents):
    out = text.analyze(documents)
    rows = out.collect()
    assert all(0.0 <= r.quality <= 1.0 for r in rows)
    assert all(0.0 <= r.punct_ratio <= 1.0 for r in rows)
    rows2 = text.analyze(documents).collect()
    assert {(r.doc_id, r.quality, r.lang_pred) for r in rows} == {
        (r.doc_id, r.quality, r.lang_pred) for r in rows2
    }


def test_lang_id_obvious_cases(spark):
    df = spark.createDataFrame(
        [(1, "the cat and the dog is here of course"),
         (2, "der hund und die katze nicht hier"),
         (3, "xyzzy plugh qwerty")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.p for r in df.select("doc_id", text.lang_id(F.col("text")).alias("p")).collect()}
    assert out == {1: "en", 2: "de", 3: "und"}


def test_ivf_topk_recall(spark, embeddings):
    q = embeddings.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id) for r in similarity.brute_force_topk(embeddings, q, k=5).collect()}
    iv = {(r.query_id, r.neighbor_id) for r in similarity.ivf_topk(embeddings, q, k=5, nprobe=4).collect()}
    assert len(bf & iv) / len(bf) >= 0.5


def test_ivf_centroids_deterministic(spark, embeddings):
    a = similarity.train_ivf_centroids(embeddings, n_cells=8, seed=7)
    b = similarity.train_ivf_centroids(embeddings, n_cells=8, seed=7)
    import numpy as np
    assert np.array_equal(a, b)


def test_connected_components_chain_and_island(spark):
    # chain 1-2-3-4 plus island 10-11: labels collapse to component minima
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    out = {r.node: r.component for r in dedup.connected_components(edges).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_converges_long_chain(spark):
    # a 20-node path needs multiple propagation rounds; must still converge
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "id_a long, id_b long"
    )
    out = {r.component for r in dedup.connected_components(edges).collect()}
    assert out == {0}


def test_winnowing_robust_to_local_edit(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa lam mu nu xi"
    edited = base.replace("theta", "CHANGED")  # one-token edit
    df = spark.createDataFrame([(1, base), (2, edited)], "doc_id long, text string")
    fps = text.winnowing_fingerprints(df, k=3, window=4).collect()
    s1 = {r.fp for r in fps if r.doc_id == 1}
    s2 = {r.fp for r in fps if r.doc_id == 2}
    # most fingerprints survive a single-token edit
    assert len(s1 & s2) / len(s1) >= 0.5


def test_connected_components_matches_union_find(spark):
    """Min-label propagation labels every node with its component's
    smallest id, as a Python union-find does, on random graphs AND on a
    long chain (the shape that needs O(diameter) rounds)."""
    import random

    rng = random.Random(7)
    cases = [
        # long path: 0-1-2-...-120 (single component, diameter 120)
        [(i, i + 1) for i in range(120)],
        # random sparse graph, multiple components
        [(rng.randrange(200), rng.randrange(200)) for _ in range(150)],
        # two cliques bridged by one edge + isolated pair
        [(a, b) for a in range(5) for b in range(a + 1, 5)]
        + [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
        + [(4, 10), (500, 501)],
    ]
    for edges in cases:
        edges = [e for e in edges if e[0] != e[1]]
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        expect = {(n, find(n)) for n in parent}
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        lab = {
            (r.node, r.component)
            for r in dedup.connected_components(df, max_iter=200).collect()
        }
        assert lab == expect


def test_jaccard_short_and_empty_docs(spark):
    """Docs shorter than the shingle size (or empty) produce no shingles,
    no pairs, and no crash; identical long docs pair at jaccard 1.0."""
    rows = [
        (1, ""), (2, "one"), (3, "one two"),
        (4, "alpha beta gamma delta"), (5, "alpha beta gamma delta"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.ngram_jaccard_pairs(df, "doc_id", "text", n=3, threshold=0.5).collect()
    assert {(r.id_a, r.id_b, r.jaccard) for r in pairs} == {(4, 5, 1.0)}


def test_simhash_md5_identical_docs_hamming_zero(spark):
    rows = [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumps"),
            (3, "completely different words entirely here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in dedup.simhash_pairs(df, "doc_id", "text", max_hamming=3,
                                          band_bits=15, variant="md5").collect()}
    assert pairs.get((1, 2)) == 0


def test_incremental_near_dup_filter(spark):
    """New docs duplicating the corpus are dropped; novel new docs and
    near-dups WITHIN the increment both survive (only cross-side pairs
    filter)."""
    corpus = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon"), (2, "one two three four five")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),   # dup of corpus 0 -> drop
            (3, "totally novel content right here"),  # survives
            (5, "totally novel content right here"),  # intra-increment dup -> survives
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_near_dup_filter(corpus, new, "doc_id", "text", n=3, threshold=0.6)
    assert {r.doc_id for r in out.collect()} == {3, 5}


# ------------------------------------------------------- decontamination
def test_decontaminate_drops_overlapping_docs(spark):
    from mysql_data_anonymizer_spark.operators import dedup

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),   # contains bench 3-grams
            (2, "one two three four five six seven"),     # clean
            (3, "alpha beta gamma only once here now"),   # 1 shared 3-gram
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    # min_hits=2: doc 1 shares 3 shingles -> dropped; doc 3 shares 1 -> kept
    kept = {r.doc_id for r in dedup.decontaminate(train, bench, "doc_id", "text", n=3, min_hits=2).collect()}
    assert kept == {2, 3}
    # min_hits=1: any overlap drops
    kept1 = {r.doc_id for r in dedup.decontaminate(train, bench, "doc_id", "text", n=3, min_hits=1).collect()}
    assert kept1 == {2}


def test_repetition_stats_values(spark):
    from mysql_data_anonymizer_spark.operators import text as text_ops

    df = spark.createDataFrame(
        [
            (1, "a b a b a b"),        # 6 tokens, 2 distinct; 5 2-grams, 2 distinct
            (2, "u v w x y z"),        # all unique
            (3, "solo"),               # below n for 2/3-grams
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in text_ops.repetition_stats(df, "doc_id", "text").collect()}
    assert rows[1].n_tokens == 6
    assert abs(rows[1].dup_word_frac - (1 - 2 / 6)) < 1e-12
    assert abs(rows[1].dup_2gram_frac - (1 - 2 / 5)) < 1e-12
    assert rows[2].dup_word_frac == 0.0 and rows[2].dup_3gram_frac == 0.0
    assert rows[3].n_tokens == 1 and rows[3].dup_2gram_frac == 0.0


# ---------------------------------------------------------------- scd2
def test_scd2_history_segments_and_current(spark):
    from mysql_data_anonymizer_spark.operators import scd

    rows = [
        # user 1: a,a,b,b,a -> segments a,b,a
        (1, "a", 100, 1), (1, "a", 200, 2), (1, "b", 300, 3),
        (1, "b", 400, 4), (1, "a", 500, 5),
        # user 2: single value
        (2, "x", 150, 6),
    ]
    df = spark.createDataFrame(rows, "user_id long, v string, ts long, eid long")
    hist = scd.scd2_history(df, "user_id", "v", "ts", "eid").collect()
    by_user = {}
    for r in sorted(hist, key=lambda r: (r.user_id, r.valid_from)):
        by_user.setdefault(r.user_id, []).append(r)
    segs = [(r.v, r.valid_from, r.valid_to, r.is_current) for r in by_user[1]]
    assert segs == [("a", 100, 300, False), ("b", 300, 500, False), ("a", 500, None, True)]
    assert [(r.v, r.is_current) for r in by_user[2]] == [("x", True)]
    # exactly one open interval per key
    for u, rs in by_user.items():
        assert sum(r.is_current for r in rs) == 1


def test_scd2_merge_equals_full_rebuild(spark, events):
    from mysql_data_anonymizer_spark.operators import scd

    ev = events.select("user_id", "event_type", "ts", "event_id")
    cutoff = ev.approxQuantile("event_id", [0.7], 0.0)[0]
    old = ev.where(F.col("event_id") <= cutoff)
    # append-only contract: batch timestamps >= every open-interval start.
    # Shift the delta's ts past the global max so it holds per key.
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    delta = ev.where(F.col("event_id") > cutoff).withColumn(
        "ts", F.timestamp_micros(
            F.unix_micros("ts") + F.lit(1) + F.unix_micros(F.lit(max_ts))
            - F.unix_micros(F.min("ts").over(__import__("pyspark").sql.Window.partitionBy()))
        )
    )
    full = scd.scd2_history(
        old.unionByName(delta), "user_id", "event_type", "ts", "event_id"
    )
    merged = scd.scd2_merge(
        scd.scd2_history(old, "user_id", "event_type", "ts", "event_id"),
        delta, "user_id", "event_type", "ts", "event_id",
    )
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_orc_round_trip(spark, tmp_path):
    from mysql_data_anonymizer_spark.sources import files as files_mod

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, "b", -2.25)], "id long, s string, v double"
    )
    dest = str(tmp_path / "orc_rt")
    df.write.mode("overwrite").orc(dest)
    back = files_mod.read_table(spark, dest, fmt="orc")
    assert sorted((r.id, r.s, r.v) for r in back.collect()) == [(1, "a", 1.5), (2, "b", -2.25)]


def test_semantic_dedup_drops_within_bucket_only(spark):
    # v1/v2: same sign pattern (same bucket), nearly parallel -> 2 dropped.
    # v3: identical direction to v1 but opposite sign on dim 1 -> different
    # bucket, survives (the documented cluster-local recall trade).
    # v4: same bucket as v1 but orthogonal-ish -> survives.
    rows = [
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [1.0, 1.001, 0.0, 0.0]),
        (3, [-1.0, 1.0, 0.0, 0.0]),
        (4, [0.001, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = dedup.semantic_dedup_sign_buckets(
        df, threshold=0.9, n_sign_bits=2, dim=4
    )
    assert {r.vec_id for r in kept.collect()} == {1, 3, 4}


def test_semantic_dedup_survivor_is_lowest_id(spark):
    # a chain of near-identical vectors in one bucket: only the lowest id
    # survives, regardless of input order / partitioning
    rows = [(i, [1.0, float(i) * 1e-4, 1.0, 1.0]) for i in (7, 3, 9, 5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(4)
    kept = dedup.semantic_dedup_sign_buckets(df, threshold=0.99, n_sign_bits=3, dim=4)
    assert [r.vec_id for r in kept.collect()] == [3]


def test_semantic_dedup_ivf_fixed_centroids(spark):
    """With explicit centroids the IVF variant is fully deterministic:
    vectors in the same cell dedup by the lowest-id survivor rule; a near
    duplicate in a DIFFERENT cell survives (the cluster-local trade)."""
    import numpy as np

    cents = np.array([[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]])
    rows = [
        (1, [1.0, 0.1, 0.0, 0.0]),   # cell 0
        (2, [1.0, 0.1001, 0.0, 0.0]),  # cell 0, near-dup of 1 -> dropped
        (3, [0.1, 1.0, 0.0, 0.0]),   # cell 1, survives despite cosine<thresh to 1
        (4, [0.0, 1.0, 0.5, 0.0]),   # cell 1, not near 3 -> survives
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    kept = dedup.semantic_dedup_ivf(df, threshold=0.99, dim=4, centroids=cents)
    got = {r.vec_id: r.cell for r in kept.collect()}
    assert set(got) == {1, 3, 4}
    assert got[1] == 0 and got[3] == 1 and got[4] == 1


def test_semantic_dedup_ivf_superset_of_global(spark, embeddings):
    """Theorem: cluster-local (IVF) dedup drops a SUBSET of global dedup's
    drops, for any trained centroids — every global survivor is an IVF
    survivor."""
    ivf = dedup.semantic_dedup_ivf(embeddings, threshold=0.4, n_cells=8)
    exact_dropped = (
        dedup.embedding_near_dup_pairs(embeddings, threshold=0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    exact_surv = embeddings.select("vec_id").join(exact_dropped, "vec_id", "left_anti")
    assert exact_surv.join(ivf.select("vec_id"), "vec_id", "left_anti").count() == 0


def test_binaryfile_read_table(spark, tmp_path):
    from mysql_data_anonymizer_spark.sources import files as files_mod

    (tmp_path / "a.bin").write_bytes(b"hello")
    (tmp_path / "b.txt").write_bytes(b"nope")
    back = files_mod.read_table(
        spark, str(tmp_path), fmt="binaryFile", pathGlobFilter="*.bin"
    )
    rows = back.collect()
    assert len(rows) == 1
    assert rows[0].content == bytearray(b"hello") and rows[0].length == 5


def test_table_diff_classification_and_null_semantics(spark):
    from mysql_data_anonymizer_spark.operators.diff import table_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, None), (4, "d"), (5, "e")], "id long, v string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (3, None), (5, None), (6, "f")], "id long, v string"
    )
    out = {r.id: r.status for r in table_diff(old, new, ["id"], ["v"], include_unchanged=True).collect()}
    # NULL -> NULL unchanged; value -> NULL changed; key 4 removed; key 6 added
    assert out == {1: "unchanged", 2: "changed", 3: "unchanged", 4: "removed", 5: "changed", 6: "added"}
    filtered = table_diff(old, new, ["id"], ["v"]).collect()
    assert {r.id for r in filtered} == {2, 4, 5, 6}


def test_apply_changelog_last_wins_and_delete(spark):
    from mysql_data_anonymizer_spark.operators import incremental

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "id long, v string")
    log = spark.createDataFrame(
        [
            (2, "tmp", "U", 1),
            (2, "b2", "U", 2),      # last wins
            (3, "x", "U", 1),
            (3, None, "D", 2),      # later delete removes the key
            (4, "d", "U", 1),       # insert of a new key
        ],
        "id long, v string, op string, seq long",
    )
    out = {r.id: r.v for r in incremental.apply_changelog(base, log, ["id"], "op", ["seq"]).collect()}
    assert out == {1: "a", 2: "b2", 4: "d"}


def test_apply_changelog_requires_order_cols(spark):
    """'Last entry per key wins' is undefined without an ordering — omitting
    order_cols must fail loudly, not with an AnalysisException from an empty
    window ordering (ADVICE r3)."""
    import pytest as _pytest

    from mysql_data_anonymizer_spark.operators import incremental

    base = spark.createDataFrame([(1, "a")], "id long, v string")
    log = spark.createDataFrame([(1, "b", "U", 1)], "id long, v string, op string, seq long")
    with _pytest.raises(ValueError, match="order"):
        incremental.apply_changelog(base, log, ["id"], "op")
    with _pytest.raises(ValueError, match="order"):
        incremental.latest_by_key(log, ["id"], [])


def test_merge_agg_delta_equals_full_recompute(spark, events):
    from mysql_data_anonymizer_spark.operators import incremental
    from pyspark.sql import functions as F

    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    def agg(df):
        return df.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("c"))
    merged = incremental.merge_agg_delta(
        agg(events.where(F.col("event_id") % 2 == 0)),
        agg(events.where(F.col("event_id") % 2 != 0)),
        ["user_id"], ["n", "c"],
    )
    full = agg(events)
    assert merged.exceptAll(full).count() == 0 and full.exceptAll(merged).count() == 0


def test_python_udtf_chunker_matches_jvm_chunking(spark):
    """The Python UDTF API (Spark 4) hosting the same chunking logic as the
    JVM array-algebra path (queries.chunk_docs_for_rag): both must emit
    identical (start, chunk) rows. The JVM path is the production one (no
    Python workers); the UDTF is the extension seam for chunkers that need
    a real tokenizer library."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="start_tok int, chunk string")
    class Chunker:
        def eval(self, text: str):
            toks = text.lower().strip().split()
            for s in range(0, len(toks), 3):
                piece = " ".join(toks[s : s + 4])
                if piece:
                    yield s, piece

    spark.udtf.register("chunker", Chunker)
    got = spark.sql(
        "SELECT c.* FROM VALUES ('One two three four five six seven') t(txt), "
        "LATERAL chunker(txt) c"
    ).collect()
    jvm = spark.sql(
        """SELECT s AS start_tok,
                  array_join(slice(split(trim(lower('One two three four five six seven')), '\\\\s+'), s + 1, 4), ' ') AS chunk
           FROM (SELECT explode(sequence(0, 6, 3)) AS s)"""
    ).collect()
    assert sorted((r.start_tok, r.chunk) for r in got) == sorted(
        (r.start_tok, r.chunk) for r in jvm
    )


def test_privacy_audits_edge_cases(spark):
    from mysql_data_anonymizer_spark.operators import privacy

    df = spark.createDataFrame(
        [(1, "a", "x"), (2, "a", "x"), (3, "a", "y"), (4, "b", "z")],
        "id long, qi string, sens string",
    )
    # k=2: group 'b' (size 1) violates; 'a' (size 3) passes
    kv = privacy.k_anonymity_audit(df, ["qi"], k=2).collect()
    assert [(r.qi, r.group_size) for r in kv] == [("b", 1)]
    # l=2: group 'b' has 1 distinct sensitive value; 'a' has 2
    lv = privacy.l_diversity_audit(df, ["qi"], "sens", l=2).collect()
    assert [(r.qi, r.n_sensitive) for r in lv] == [("b", 1)]
    # empty forget set leaves every table untouched
    empty = spark.createDataFrame([], "key long")
    out = privacy.forget_cascade({"t": df}, empty, {"t": "id"})
    assert out["t"].count() == 4


def test_dp_noised_counts_properties(spark, customer):
    """Seeded Laplace release: (1) deterministic — same seed, same noise on
    repeat; (2) a different seed is a DIFFERENT release (fresh epsilon
    spend); (3) noise calibration — mean |noise| over the 125 groups near
    the Laplace MAD 1/eps; (4) NULL group keys get their own group, not a
    collision with the sentinel-free key."""
    from mysql_data_anonymizer_spark.operators import privacy

    out1 = {(r.c_mktsegment, r.c_nationkey): r.noisy_n
            for r in privacy.dp_noised_counts(
                customer, ["c_mktsegment", "c_nationkey"], epsilon=0.5, seed="dp"
            ).collect()}
    out2 = {(r.c_mktsegment, r.c_nationkey): r.noisy_n
            for r in privacy.dp_noised_counts(
                customer, ["c_mktsegment", "c_nationkey"], epsilon=0.5, seed="dp"
            ).collect()}
    assert out1 == out2
    other = {(r.c_mktsegment, r.c_nationkey): r.noisy_n
             for r in privacy.dp_noised_counts(
                 customer, ["c_mktsegment", "c_nationkey"], epsilon=0.5, seed="dp2"
             ).collect()}
    assert other != out1
    rows = privacy.dp_noised_counts(
        customer, ["c_mktsegment", "c_nationkey"], epsilon=0.5, seed="dp"
    ).collect()
    exact = {(r.c_mktsegment, r.c_nationkey): r.exact_n for r in rows}
    mad = sum(abs(r.noisy_n - r.exact_n) for r in rows) / len(rows)
    assert 0.4 <= mad <= 10.0, mad  # Laplace MAD at eps=0.5 is 2.0
    # NULL group key handling
    df = spark.createDataFrame([(None, 1), (None, 1), ("a", 1)], "g string, x long")
    got = privacy.dp_noised_counts(df, ["g"], epsilon=0.5).collect()
    assert {r.g: r.exact_n for r in got} == {None: 2, "a": 1}


def test_crypto_shred_envelope(spark):
    """Crypto-shredding contract: kept subjects decrypt to the exact
    plaintext (NULL PII round-trips null-safely); deleting a subject's KEY
    ROW makes their ciphertext irrecoverable — no data rewrite."""
    from mysql_data_anonymizer_spark.operators import privacy

    df = spark.createDataFrame(
        [(1, "alice", "a@x.test"), (2, None, "b@x.test"), (3, "carol", None)],
        "id long, name string, email string",
    )
    enc, keys = privacy.crypto_shred(df, "id", ["name", "email"])
    assert set(enc.columns) == {"id", "name_ct", "email_ct"}
    # forget subject 2: drop only its key row
    kept = keys.where(F.col("id") != 2)
    dec = enc.join(kept, "id", "left").select(
        "id",
        F.try_aes_decrypt(F.col("name_ct"), F.col("__key")).cast("string").alias("name"),
        F.try_aes_decrypt(F.col("email_ct"), F.col("__key")).cast("string").alias("email"),
    )
    got = {r.id: (r.name, r.email) for r in dec.collect()}
    assert got[1] == ("alice", "a@x.test")
    assert got[3] == ("carol", None)
    assert got[2] == (None, None)  # shredded: ciphertext without a key


def test_rebalance_mix_approximates_target(spark, sf_dir):
    from mysql_data_anonymizer_spark import queries as Q

    out = Q.rebalance_corpus_mix(spark, sf_dir).collect()
    n = len(out)
    assert n > 0
    from collections import Counter

    mix = Counter(r.lang for r in out)
    for lang, share in Q.TARGET_MIX.items():
        # hash-gate sampling: achieved share within +-8pp of target at
        # fixture size (binomial noise), and nothing above its target by
        # more than the noise band (downsample-only guarantee)
        assert abs(mix[lang] / n - share) < 0.08, (lang, mix[lang] / n, share)


def test_operators_survive_empty_input(spark):
    """Zero-row inputs must produce zero-row outputs, never crash — the
    guard for sequence()/min()/window edge cases that only fire on empty
    partitions or empty delta batches."""
    from mysql_data_anonymizer_spark.operators import incremental, privacy

    docs = spark.createDataFrame([], "doc_id long, text string")
    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    kv = spark.createDataFrame([], "id long, v string")

    assert dedup.exact_dedup(docs, ["text"], "doc_id").count() == 0
    assert dedup.ngram_jaccard_pairs(docs, "doc_id", "text").count() == 0
    assert dedup.semantic_dedup_sign_buckets(emb, dim=4, n_sign_bits=2).count() == 0
    assert text.analyze(docs).count() == 0
    assert privacy.k_anonymity_audit(kv, ["v"], k=2).count() == 0
    assert privacy.forget_cascade({"t": kv}, kv.select(F.col("id").alias("key")), {"t": "id"})["t"].count() == 0
    # empty delta folds into state as identity; empty state adopts the delta
    state = spark.createDataFrame([(1, 2)], "k long, n long")
    nil = spark.createDataFrame([], "k long, n long")
    out = {r.k: r.n for r in incremental.merge_agg_delta(state, nil, ["k"], ["n"]).collect()}
    assert out == {1: 2}
    out2 = {r.k: r.n for r in incremental.merge_agg_delta(nil, state, ["k"], ["n"]).collect()}
    assert out2 == {1: 2}
    assert incremental.apply_changelog(kv, spark.createDataFrame([], "id long, v string, op string, seq long"), ["id"], "op", ["seq"]).count() == 0


def test_embedding_dedup_expr_matches_blas_path(spark, embeddings):
    """The pure-Catalyst expression variant (kept for Arrow-less
    environments) must emit exactly the pairs the BLAS block-join path
    emits — same ids, same 4-dp cosines."""
    blas = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_near_dup_pairs(embeddings, threshold=0.4).collect()
    }
    expr = {
        (r.id_a, r.id_b, r.cosine)
        for r in dedup.embedding_near_dup_pairs_expr(embeddings, threshold=0.4).collect()
    }
    assert blas == expr and blas


def test_cosine_expr_matches_numpy(spark):
    import numpy as np

    rows = [(1, [1.0, 2.0, 3.0, 4.0]), (2, [-1.0, 0.5, 2.0, -3.0])]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    pair = df.alias("a").crossJoin(df.alias("b")).where("a.id < b.id").select(
        similarity.cosine_expr(F.col("a.v"), F.col("b.v"), dim=4).alias("c")
    )
    got = pair.collect()[0].c
    a = np.array(rows[0][1], dtype=np.float32).astype(np.float64)
    b = np.array(rows[1][1], dtype=np.float32).astype(np.float64)
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(got - want) < 1e-12


def test_pq_topk_recall_and_fixed_codebooks(spark, embeddings):
    """PQ/ADC ANN (similarity.pq_topk): recall against brute force with
    trained codebooks, plus determinism — identical seeds train identical
    codebooks, and explicitly passed codebooks reproduce the result."""
    import numpy as np

    q = embeddings.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id)
          for r in similarity.brute_force_topk(embeddings, q, k=5).collect()}
    pq = {(r.query_id, r.neighbor_id)
          for r in similarity.pq_topk(embeddings, q, k=5, k_codes=32, refine=32).collect()}
    assert len(bf & pq) / len(bf) >= 0.5
    a = similarity.train_pq_codebooks(embeddings, m=8, k_codes=16, seed=7)
    b = similarity.train_pq_codebooks(embeddings, m=8, k_codes=16, seed=7)
    assert np.array_equal(a, b)
    # fixed external codebooks: same result on repeat invocation
    r1 = sorted((r.query_id, r.neighbor_id, r.rank)
                for r in similarity.pq_topk(embeddings, q, k=5, codebooks=a).collect())
    r2 = sorted((r.query_id, r.neighbor_id, r.rank)
                for r in similarity.pq_topk(embeddings, q, k=5, codebooks=a).collect())
    assert r1 == r2


def test_pq_train_rejects_bad_inputs(spark, embeddings):
    """ADVICE r4 edge hazards: empty training sample and a vector dim that
    does not divide into m subspaces must raise cleanly, not IndexError."""
    empty = embeddings.filter(F.col("vec_id") < 0)
    with pytest.raises(ValueError, match="empty"):
        similarity.train_pq_codebooks(empty)
    with pytest.raises(ValueError, match="subspaces"):
        similarity.train_pq_codebooks(embeddings, m=7)


def test_sq8_topk_recall_and_quantization_model(spark, embeddings):
    """SQ8 ANN (similarity.sq8_topk): near-perfect recall against brute
    force (int8 quantization error is tiny at dim=64), and the numpy
    quantization model bound — a decoded code differs from the original
    component by at most scale/2 = (max-min)/510."""
    import numpy as np

    q = embeddings.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id)
          for r in similarity.brute_force_topk(embeddings, q, k=5).collect()}
    sq = {(r.query_id, r.neighbor_id)
          for r in similarity.sq8_topk(embeddings, q, k=5, refine=8).collect()}
    assert len(bf & sq) / len(bf) >= 0.8
    # quantization model bound on a sample
    for r in embeddings.limit(20).collect():
        v = np.asarray(r.embedding, dtype=np.float64)
        vmin, vmax = v.min(), v.max()
        scale = max((vmax - vmin) / 255.0, 1e-12)
        codes = np.clip(np.rint((v - vmin) / scale), 0, 255)
        dec = vmin + codes * scale
        assert np.abs(dec - v).max() <= scale / 2 + 1e-9


def test_semantic_decontaminate_flags_known_pair(spark, embeddings):
    """A corpus vector IDENTICAL to a benchmark vector must flag with
    max_bench_cosine == 1.0; guards (empty bench, oversize bench) raise."""
    bench = embeddings.filter(F.col("vec_id") < 3)
    # corpus includes the benchmark vectors re-labeled with shifted ids
    clones = bench.select((F.col("vec_id") + 100000).alias("vec_id"), "embedding")
    corpus = embeddings.filter(F.col("vec_id") >= 3).select("vec_id", "embedding").unionByName(clones)
    out = {r.vec_id: (r.max_bench_cosine, r.contaminated)
           for r in dedup.semantic_decontaminate(corpus, bench, threshold=0.95).collect()}
    assert len(out) == corpus.count()
    for cid in (100000, 100001, 100002):
        cos, flagged = out[cid]
        assert cos == 1.0 and flagged, (cid, cos, flagged)
    with pytest.raises(ValueError, match="empty"):
        dedup.semantic_decontaminate(corpus, embeddings.filter(F.col("vec_id") < 0))
    with pytest.raises(ValueError, match="max_bench"):
        dedup.semantic_decontaminate(corpus, bench, max_bench=2)


def test_chunk_dedup_reconstruct_semantics(spark):
    """Crafted corpus: doc 1 owns both spans; doc 2 repeats doc 1's first
    span then adds a new one (reconstruction drops the repeat, keeps order);
    doc 3 is entirely doc 1's content and must VANISH (C4 empty-doc drop)."""
    a = " ".join(f"a{i}" for i in range(4))
    b = " ".join(f"b{i}" for i in range(4))
    c = " ".join(f"c{i}" for i in range(4))
    docs = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{a} {c}"), (3, f"{b} {a}")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup.chunk_dedup_reconstruct(docs, chunk_tokens=4).collect()}
    assert out[1].kept_chunks == 2 and out[1].dedup_text == f"{a} {b}"
    assert out[2].total_chunks == 2 and out[2].kept_chunks == 1 and out[2].dedup_text == c
    assert 3 not in out  # both spans already seen -> doc dropped entirely


def test_chunk_dedup_reconstruct_matches_python_model(spark):
    """Model-based check over seeded random corpora: the distributed
    min-struct/join/reassemble pipeline must equal a sequential reference
    that walks docs in (doc_id, offset) order keeping first-seen spans."""
    import random

    def model(docs, n):
        seen, out = set(), {}
        for doc_id, text in sorted(docs):
            toks = [t for t in text.lower().split() if t]
            chunks = [" ".join(toks[i:i + n]) for i in range(0, len(toks), n)]
            kept = [c for c in chunks if c not in seen]
            seen.update(chunks)
            if kept:
                out[doc_id] = (len(chunks), len(kept), " ".join(kept))
        return out

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]  # tiny vocab -> many span repeats
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 30))))
            for i in range(40)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.total_chunks, r.kept_chunks, r.dedup_text)
            for r in dedup.chunk_dedup_reconstruct(df, chunk_tokens=4).collect()
        }
        assert got == model(docs, 4), f"seed={seed}"


def test_boilerplate_chunk_removal_semantics(spark):
    """Crafted corpus: span `a` occurs in 3 docs (df=3 > max_df=2) and must
    be removed from EVERY doc — including doc 1, the first occurrence that
    chunk_dedup_reconstruct would keep; span `b` (df=1) and `c` (df=2)
    survive. Doc 4 is pure boilerplate and must vanish."""
    a = " ".join(f"a{i}" for i in range(4))
    b = " ".join(f"b{i}" for i in range(4))
    c = " ".join(f"c{i}" for i in range(4))
    docs = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{c} {a}"), (3, f"{a} {c}"), (4, a)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.boilerplate_chunk_removal(docs, chunk_tokens=4, max_df=2).collect()
    }
    assert out[1].total_chunks == 2 and out[1].kept_chunks == 1 and out[1].clean_text == b
    assert out[2].clean_text == c and out[3].clean_text == c
    assert 4 not in out  # every span is boilerplate -> doc dropped


def test_boilerplate_chunk_removal_matches_python_model(spark):
    """Model-based check over seeded random corpora: distributed df-count /
    join / reassemble must equal a sequential reference that counts span
    document-frequency globally then filters every doc."""
    import random
    from collections import defaultdict

    def model(docs, n, max_df):
        spans = {}
        for doc_id, text in docs:
            toks = [t for t in text.lower().split() if t]
            spans[doc_id] = [" ".join(toks[i:i + n]) for i in range(0, len(toks), n)]
        dfc = defaultdict(set)
        for doc_id, chs in spans.items():
            for ch in chs:
                dfc[ch].add(doc_id)
        out = {}
        for doc_id, chs in spans.items():
            kept = [ch for ch in chs if len(dfc[ch]) <= max_df]
            if kept:
                out[doc_id] = (len(chs), len(kept), " ".join(kept))
        return out

    for seed in (3, 11, 99):
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(10)]  # tiny vocab -> many hot spans
        docs = [
            (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 24))))
            for i in range(40)
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            r.doc_id: (r.total_chunks, r.kept_chunks, r.clean_text)
            for r in dedup.boilerplate_chunk_removal(df, chunk_tokens=4, max_df=2).collect()
        }
        assert got == model(docs, 4, 2), f"seed={seed}"


def test_decontaminate_bloom_no_false_negatives(spark):
    """Bloom theorem: per doc, bloom_hits >= the exact distinct-shingle
    overlap count, for every doc — and docs with no shingles report 0."""
    bench = spark.createDataFrame(
        [(0, "alpha beta gamma delta epsilon zeta")], "doc_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),          # overlaps: 2 bench shingles
            (2, "totally different words entirely here now"),
            (3, "xy"),                                # < n tokens -> no shingles
            (4, ""),                                  # empty doc
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.bloom_hits
        for r in dedup.decontaminate_bloom_hits(train, bench, n=3).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    assert got[1] >= 2  # no false negatives: both overlapping shingles hit
    assert got[3] == 0 and got[4] == 0
    # empty benchmark -> zero bitset -> zero hits everywhere
    empty = bench.where(F.col("doc_id") < 0)
    got0 = {
        r.doc_id: r.bloom_hits
        for r in dedup.decontaminate_bloom_hits(train, empty, n=3).collect()
    }
    assert all(v == 0 for v in got0.values())


def test_bloom_bits_power_of_two_required(spark):
    bench = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="power of two"):
        dedup.decontaminate_bloom_hits(bench, bench, m_bits=1000)


def test_semantic_decontaminate_matches_numpy_model(spark, embeddings):
    """Model-based check: the Arrow-batched distributed pass must equal a
    sequential numpy reference (round-4dp per pair, then max) on the
    fixture corpus, at any partitioning."""
    import numpy as np

    bench = embeddings.filter(F.col("vec_id") % 11 == 0)
    corpus = embeddings.filter(F.col("vec_id") % 11 != 0)
    b = np.array([r.embedding for r in bench.collect()], dtype=np.float64)
    bn = np.maximum(np.linalg.norm(b, axis=1), 1e-12)
    want = {}
    for r in corpus.select("vec_id", "embedding").collect():
        c = np.array(r.embedding, dtype=np.float64)
        cn = max(np.linalg.norm(c), 1e-12)
        want[r.vec_id] = np.round((b @ c) / (bn * cn), 4).max()
    for parts in (1, 7):
        got = {
            r.vec_id: r.max_bench_cosine
            for r in dedup.semantic_decontaminate(
                corpus.repartition(parts), bench, threshold=0.4
            ).collect()
        }
        assert got == want, f"parts={parts}"


def test_nfc_normalize_composes_decomposed_text(spark):
    """NFC prep: decomposed (e + combining acute) and composed forms unify
    to one byte sequence, so exact dedup AFTER normalization groups them;
    NULL and ASCII pass through untouched."""
    decomposed = "café menu"          # e + U+0301
    composed = "café menu"             # é
    assert decomposed != composed           # byte-different input
    df = spark.createDataFrame(
        [(1, decomposed), (2, composed), (3, None), (4, "plain ascii")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r.n for r in df.select(
        "doc_id", text.nfc_normalize(F.col("text")).alias("n")).collect()}
    assert rows[1] == rows[2] == composed   # unified to the composed form
    assert rows[3] is None
    assert rows[4] == "plain ascii"
    # and the dedup grouping key now collides for the pair
    out = dedup.exact_dedup(
        df.where(F.col("text").isNotNull())
        .select("doc_id", text.nfc_normalize(F.col("text")).alias("text")),
        ["text"], "doc_id",
    ).collect()
    assert len(out) == 2  # {café menu} + {plain ascii}


def test_fpe_mask_card_properties(spark):
    """FPE card mask: Luhn-valid output, BIN+last4 preserved, deterministic,
    value actually moves, NULL passes through."""
    from mysql_data_anonymizer_spark.functions import fpe

    cards = ["4539578763621486", "4916338506082832", "4024007198964305"]
    for c in cards:  # fixture sanity: inputs are Luhn-valid
        digs = [int(x) for x in c]
        s = sum(d * 2 - 9 if i % 2 == 0 and d * 2 > 9 else (d * 2 if i % 2 == 0 else d)
                for i, d in enumerate(digs))
        assert s % 10 == 0, c
    df = spark.createDataFrame([(c,) for c in cards] + [(None,)], "cc string")
    out = df.select(
        "cc",
        fpe.fpe_mask_card(F.col("cc")).alias("m"),
        fpe.luhn_valid(fpe.fpe_mask_card(F.col("cc"))).alias("ok"),
    ).collect()
    by_cc = {r.cc: r for r in out}
    for c in cards:
        r = by_cc[c]
        assert r.ok is True
        assert len(r.m) == 16 and r.m != c
        assert r.m[:6] == c[:6] and r.m[12:] == c[12:]
    assert by_cc[None].m is None
    # deterministic: same input, same token; different seed, different token
    again = df.where(F.col("cc").isNotNull()).select(
        fpe.fpe_mask_card(F.col("cc")).alias("m1"),
        fpe.fpe_mask_card(F.col("cc")).alias("m2"),
        fpe.fpe_mask_card(F.col("cc"), "other").alias("m3"),
    ).collect()
    assert all(r.m1 == r.m2 for r in again)
    assert any(r.m1 != r.m3 for r in again)


def test_cms_merge_and_lower_bound(spark):
    """CMS contract: (a) min-of-lanes >= exact for EVERY key (theorem);
    (b) sketches of disjoint shards merge by cell-wise ADDITION into
    exactly the whole-corpus sketch — the property that makes per-shard
    build + global merge work at scale."""
    from pyspark.sql import functions as F

    from mysql_data_anonymizer_spark.operators import sketches

    rows = [(i % 17,) for i in range(500)] + [(3,)] * 40 + [(None,)] * 5
    df = spark.createDataFrame(rows, "k long")
    est = sketches.cms_key_estimates(df, "k", depth=3, width=64)
    got = est.collect()
    assert len(got) == 18  # 17 keys + NULL group
    assert all(r.cms_est >= r.exact_cnt for r in got)
    # mergeability: shard sketches sum to the full sketch, cell by cell
    a = df.where((F.col("k") % 2 == 0) | F.col("k").isNull())
    b = df.where(F.col("k") % 2 == 1)
    merged = (
        sketches.cms_cells(a, "k", depth=3, width=64)
        .unionByName(sketches.cms_cells(b, "k", depth=3, width=64))
        .groupBy("lane", "bucket")
        .agg(F.sum("cell_cnt").alias("cell_cnt"))
    )
    full = sketches.cms_cells(df, "k", depth=3, width=64)
    assert merged.exceptAll(full).count() == 0
    assert full.exceptAll(merged).count() == 0


def test_ivfpq_recall_determinism_and_cell_pruning(spark, embeddings):
    """IVF-PQ composite: recall against brute force; externally-passed
    models reproduce results exactly; and the candidate scan really is
    CELL-PRUNED — with nprobe = n_cells it must behave like plain PQ
    (superset of the pruned run's candidates)."""
    q = embeddings.filter(F.col("vec_id") < 5)
    bf = {(r.query_id, r.neighbor_id)
          for r in similarity.brute_force_topk(embeddings, q, k=5).collect()}
    cents = similarity.train_ivf_centroids(embeddings, n_cells=16)
    books = similarity.train_pq_codebooks(embeddings, m=8, k_codes=32, seed=42)
    kw = dict(k=5, n_cells=16, k_codes=32, refine=32,
              centroids=cents, codebooks=books)
    pruned = {(r.query_id, r.neighbor_id)
              for r in similarity.ivfpq_topk(embeddings, q, nprobe=8, **kw).collect()}
    assert len(bf & pruned) / len(bf) >= 0.4
    r1 = sorted((r.query_id, r.neighbor_id, r.rank)
                for r in similarity.ivfpq_topk(embeddings, q, nprobe=8, **kw).collect())
    r2 = sorted((r.query_id, r.neighbor_id, r.rank)
                for r in similarity.ivfpq_topk(embeddings, q, nprobe=8, **kw).collect())
    assert r1 == r2
    # probing every cell >= probing some cells (recall monotone in nprobe)
    full = {(r.query_id, r.neighbor_id)
            for r in similarity.ivfpq_topk(embeddings, q, nprobe=16, **kw).collect()}
    assert len(bf & full) >= len(bf & pruned)


def test_ivfpq_rejects_bad_inputs(spark, embeddings):
    """Same edge contract as PQ: empty corpus and non-dividing m raise
    cleanly (the trainers own the checks; the composite must not mask
    them)."""
    empty = embeddings.filter(F.col("vec_id") < 0)
    q = embeddings.filter(F.col("vec_id") < 5)
    with pytest.raises(ValueError, match="empty"):
        similarity.ivfpq_topk(empty, q, k=5)
    with pytest.raises(ValueError, match="subspaces"):
        similarity.ivfpq_topk(embeddings, q, k=5, m=7)


# --------------------------------------------------- ADVICE r6 regressions
def test_rank_swap_preserves_null_bearing_multiset(spark):
    """End-of-partition must be detected explicitly: with a NULL-valued
    successor, coalesce(lead, first) released the group's FIRST value
    instead of NULL — NULLs vanished and the first value duplicated
    (ADVICE r6). The swapped column must be an exact permutation of the
    group's multiset, NULLs included."""
    from mysql_data_anonymizer_spark.operators import privacy

    rows = [
        ("g1", 1, 10.0), ("g1", 2, 20.0), ("g1", 3, None),
        ("g2", 4, None), ("g2", 5, None), ("g2", 6, 7.0),
        ("g3", 7, 1.0),  # singleton wraps to itself
    ]
    df = spark.createDataFrame(rows, "grp string, id long, v double")
    out = privacy.rank_swap_cyclic(df, ["grp"], "v", ["id"]).collect()
    by_grp = {}
    for r in out:
        by_grp.setdefault(r.grp, ([], []))
        by_grp[r.grp][0].append(r.v)
        by_grp[r.grp][1].append(r.v_swapped)
    for g, (orig, swapped) in by_grp.items():
        assert sorted(orig, key=lambda x: (x is None, x)) == sorted(
            swapped, key=lambda x: (x is None, x)
        ), f"group {g}: swap must permute the multiset exactly"
    # the row BEFORE the NULL tail must release NULL, not the first value
    g1 = {r.id: r.v_swapped for r in out if r.grp == "g1"}
    assert g1[2] is None
    assert g1[3] == 10.0  # last wraps to first
    g3 = [r for r in out if r.grp == "g3"][0]
    assert g3.v_swapped == 1.0 and g3.swap_moved is False


def test_sweepline_peak_ts_subsecond_tie_deterministic(spark):
    """peak_ts tie-break uses unix_micros, not a seconds-truncating cast:
    two sub-second boundary instants in the same second that both reach
    the max run must deterministically yield the EARLIEST (ADVICE r6)."""
    from mysql_data_anonymizer_spark.operators.sweepline import max_concurrency

    rows = [
        # peak of 2 reached at .200 and again at .700 within the same second
        ("k", "2024-01-01 00:00:00.100", "2024-01-01 00:00:00.400"),
        ("k", "2024-01-01 00:00:00.200", "2024-01-01 00:00:00.500"),
        ("k", "2024-01-01 00:00:00.600", "2024-01-01 00:00:00.900"),
        ("k", "2024-01-01 00:00:00.700", "2024-01-01 00:00:00.950"),
    ]
    df = spark.createDataFrame(rows, "key string, s string, e string").select(
        "key",
        F.col("s").cast("timestamp").alias("s"),
        F.col("e").cast("timestamp").alias("e"),
    )
    for _ in range(3):
        out = max_concurrency(df, "key", "s", "e").collect()
        assert len(out) == 1
        assert out[0].max_concurrent == 2
        assert out[0].peak_ts.microsecond == 200000, (
            "earliest sub-second peak instant must win the tie"
        )


def test_dq_report_metric_without_check_raises(spark):
    """A metric supplied without a matching check must raise a descriptive
    ValueError, not crash with a bare KeyError (ADVICE r6)."""
    from mysql_data_anonymizer_spark.operators.constraints import dq_report

    df = spark.createDataFrame([(1,), (2,)], "a long")
    with pytest.raises(ValueError, match="no matching check"):
        dq_report(
            df,
            metrics={"n": F.count(F.lit(1)), "m": F.max("a")},
            checks={"n": F.col("n") > 0},
        )
    # and the reverse direction still raises too
    with pytest.raises(ValueError, match="no matching metric"):
        dq_report(df, metrics={"n": F.count(F.lit(1))},
                  checks={"n": F.col("n") > 0, "ghost": F.lit(True)})


def test_dp_bounded_sum_group_contribution_bound(spark):
    """User-level sensitivity: a user active in k groups must contribute to
    at most max_groups of them (top-by-clamped, deterministic), so one
    user's removal shifts the release by <= max_groups * clamp
    (ADVICE r6; Wilson et al. VLDB 2020)."""
    from mysql_data_anonymizer_spark.operators import privacy

    rows = [("u1", g, 500.0) for g in ["a", "b", "c", "d", "e"]] + [
        ("u2", "a", 10.0), ("u2", "b", 5.0),
    ]
    df = spark.createDataFrame(rows, "user string, grp string, v double")
    out = privacy.dp_bounded_sum(
        df, ["grp"], "user", "v", clamp_cents=10000, epsilon=0.5,
        max_groups=2, seed="t",
    ).collect()
    sums = {r.grp: r.exact_sum_cents for r in out}
    # u1 clamps to 10000 in every group but may only keep 2 (ties broken by
    # group name: a, b); u2 contributes 1000/500 cents to a/b
    assert sums == {"a": 10000 + 1000, "b": 10000 + 500}
    total_u1 = sum(v for g, v in sums.items()) - 1000 - 500
    assert total_u1 <= 2 * 10000  # the sensitivity bound itself


def test_hexlines_overwrite_clears_published_and_staging(tmp_path):
    """mode('overwrite') must not mix old and new published files, and a
    successful commit must remove the staging dir (ADVICE r6)."""
    import os

    from pyspark.sql import Row

    from mysql_data_anonymizer_spark.sources.pydatasource import HexLinesWriter

    target = str(tmp_path / "out")
    os.makedirs(target)
    w1 = HexLinesWriter({"path": target}, overwrite=False)
    m1 = w1.write(iter([Row(a=1)]))
    w1.commit([m1])
    old = [f for f in os.listdir(target) if f.endswith(".txt")]
    assert len(old) == 1
    assert not os.path.exists(os.path.join(target, "_staging"))

    # overwrite: the old published file must be gone afterwards
    w2 = HexLinesWriter({"path": target}, overwrite=True)
    m2 = w2.write(iter([Row(a=2)]))
    w2.commit([m2])
    now = [f for f in os.listdir(target) if f.endswith(".txt")]
    assert len(now) == 1 and now[0] != old[0]
    assert open(os.path.join(target, "_SUCCESS")).read().strip() == now[0]
    assert not os.path.exists(os.path.join(target, "_staging"))

    # append mode keeps prior files
    w3 = HexLinesWriter({"path": target}, overwrite=False)
    m3 = w3.write(iter([Row(a=3)]))
    w3.commit([m3])
    assert len([f for f in os.listdir(target) if f.endswith(".txt")]) == 2


def test_fpe_malformed_pans_mask_to_null_not_crash(spark):
    """Short, non-digit, empty, and NULL PANs must propagate NULL through
    fpe_mask_card/luhn_valid instead of crashing the job — under ANSI mode
    a plain cast of the empty substring beyond a short PAN's length raises
    (ADVICE/VERDICT r6 fuzz hardening; fpe.py uses try_cast)."""
    from mysql_data_anonymizer_spark.functions import fpe

    df = spark.createDataFrame(
        [("4532015112830366",), ("123",), ("abcd5678abcd5678",), ("",), (None,)],
        "cc string",
    )
    out = {r.cc: (r.m, r.ok) for r in df.select(
        "cc",
        fpe.fpe_mask_card(F.col("cc")).alias("m"),
        fpe.luhn_valid(F.col("cc")).alias("ok"),
    ).collect()}
    m, ok = out["4532015112830366"]
    assert ok is True and len(m) == 16 and m[:6] == "453201" and m[-4:] == "0366"
    for bad in ["123", "abcd5678abcd5678", "", None]:
        assert out[bad] == (None, None), f"malformed PAN {bad!r} must yield NULLs"
