"""Unit tests for the round-8 operators — edge semantics the registry's
oracle parametrization can't isolate (tiny hand-built frames with
hand-computed expectations)."""

from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.operators import dedup


# ---------------------------------------------------------------------------
# exact_substring_dedup (Lee et al. 2022 family)
# ---------------------------------------------------------------------------
def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_substring_removes_nonfirst_occurrence(spark):
    # docs 1 and 2 share the 4-token span "a b c d" at different offsets;
    # first occurrence (doc 1, pos 0) survives, doc 2's copy is removed
    docs = _docs(
        spark,
        [(1, "a b c d x"), (2, "z a b c d"), (3, "p q r s t")],
    )
    out = {
        r["doc_id"]: r
        for r in dedup.exact_substring_dedup(docs, min_tokens=4).collect()
    }
    assert out[1]["dedup_text"] == "a b c d x"
    assert out[1]["kept_tokens"] == 5 and out[1]["total_tokens"] == 5
    assert out[2]["dedup_text"] == "z"
    assert out[2]["kept_tokens"] == 1 and out[2]["total_tokens"] == 5
    assert out[3]["dedup_text"] == "p q r s t"  # unique doc untouched


def test_exact_substring_long_duplicate_fully_covered(spark):
    # a 6-token duplicate with min_tokens=4: its 3 overlapping windows
    # cover ALL 6 tokens of the second occurrence (suffix-array parity)
    docs = _docs(spark, [(1, "a b c d e f"), (2, "a b c d e f")])
    out = {
        r["doc_id"]: r
        for r in dedup.exact_substring_dedup(docs, min_tokens=4).collect()
    }
    assert out[1]["dedup_text"] == "a b c d e f"
    assert 2 not in out, "fully-duplicated doc must vanish"


def test_exact_substring_within_one_doc(spark):
    # repetition INSIDE one doc dedups too (second copy removed)
    docs = _docs(spark, [(1, "a b c d a b c d")])
    out = dedup.exact_substring_dedup(docs, min_tokens=4).collect()[0]
    assert out["dedup_text"] == "a b c d"
    assert out["kept_tokens"] == 4 and out["total_tokens"] == 8


def test_exact_substring_short_and_empty_docs(spark):
    # docs shorter than min_tokens produce no windows and pass through
    # whole; empty/whitespace docs are dropped (no tokens to keep)
    docs = _docs(spark, [(1, "a b"), (2, "   "), (3, "a b")])
    out = {
        r["doc_id"]: r
        for r in dedup.exact_substring_dedup(docs, min_tokens=4).collect()
    }
    assert out[1]["dedup_text"] == "a b" and out[3]["dedup_text"] == "a b"
    assert 2 not in out


# ---------------------------------------------------------------------------
# build_near_dup_index / probe_near_dup_index
# ---------------------------------------------------------------------------
def test_near_dup_index_probe_drops_dupes_and_colocates(spark, tmp_path):
    corpus = _docs(
        spark,
        [(2, "the quick brown fox jumps over the lazy dog today"),
         (4, "completely different corpus text about spark engines here")],
    )
    new = _docs(
        spark,
        [(1, "the quick brown fox jumps over the lazy dog today"),  # exact dup
         (3, "unrelated new crawl document with fresh novel content")],
    )
    dedup.build_near_dup_index(
        corpus, "t_ndidx_post", "t_ndidx_size", n=3, max_shingle_df=100,
        num_buckets=4,
        postings_path=str(tmp_path / "p"), sizes_path=str(tmp_path / "s"),
    )
    surv, pj = dedup.probe_near_dup_index(
        spark, new, "t_ndidx_post", "t_ndidx_size", n=3, threshold=0.6
    )
    ids = sorted(r["doc_id"] for r in surv.collect())
    assert ids == [3], "exact dup of an indexed doc must be dropped"
    plan = pj._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, "corpus postings must scan as buckets"
    assert plan.count("Exchange hashpartitioning") == 1, (
        "only the increment side may shuffle"
    )


def test_near_dup_index_cap_applied_at_build(spark, tmp_path):
    # a shingle in >cap corpus docs is dropped from the index, so a new doc
    # made ONLY of that boilerplate cannot match anything (documented
    # recall loss of the stop-shingle cap)
    boiler = "all rights reserved to the original site owner"
    corpus = _docs(spark, [(i * 2, boiler) for i in range(1, 5)])
    new = _docs(spark, [(1, boiler)])
    dedup.build_near_dup_index(
        corpus, "t_ndidx_post2", "t_ndidx_size2", n=3, max_shingle_df=3,
        num_buckets=2,
        postings_path=str(tmp_path / "p2"), sizes_path=str(tmp_path / "s2"),
    )
    surv, _ = dedup.probe_near_dup_index(
        spark, new, "t_ndidx_post2", "t_ndidx_size2", n=3, threshold=0.6
    )
    assert [r["doc_id"] for r in surv.collect()] == [1]


# ---------------------------------------------------------------------------
# bpe_merge_steps
# ---------------------------------------------------------------------------
def test_bpe_merge_hand_computed(spark):
    # corpus: "low" x3, "lower" x1  (chars: l o w / l o w e r)
    # step 1 pairs: (l,o)=4, (o,w)=4, (w,e)=1, (e,r)=1
    #   tie 4/4 -> lexicographic -> (l,o); words: "lo w" x3, "lo w e r"
    # step 2 pairs: (lo,w)=4, (w,e)=1, (e,r)=1 -> (lo,w)
    docs = spark.createDataFrame(
        [(1, "low low low lower")], "doc_id long, text string"
    )
    from mysql_data_anonymizer_spark.operators import text as T

    out = {r["step"]: r for r in T.bpe_merge_steps(docs, k_merges=2).collect()}
    assert (out[1]["left_sym"], out[1]["right_sym"], out[1]["pair_count"]) == (
        "l", "o", 4,
    )
    assert (out[2]["left_sym"], out[2]["right_sym"], out[2]["pair_count"]) == (
        "lo", "w", 4,
    )


def test_bpe_greedy_run_semantics(spark):
    # "aaaa" as chars: pairs (a,a) count 3; after merging (a,a) greedily
    # left-to-right the word is "aa aa" (NOT "aa a a" or overlap), so step 2
    # must see pair (aa,aa) with count 1
    docs = spark.createDataFrame([(1, "aaaa")], "doc_id long, text string")
    from mysql_data_anonymizer_spark.operators import text as T

    out = {r["step"]: r for r in T.bpe_merge_steps(docs, k_merges=2).collect()}
    assert (out[1]["left_sym"], out[1]["right_sym"]) == ("a", "a")
    assert (out[2]["left_sym"], out[2]["right_sym"], out[2]["pair_count"]) == (
        "aa", "aa", 1,
    )


def test_bpe_merged_symbol_competes_next_round(spark):
    # after (e,r) merges, (er, s) must be countable as a pair
    docs = spark.createDataFrame(
        [(1, "er er er ers")], "doc_id long, text string"
    )
    from mysql_data_anonymizer_spark.operators import text as T

    out = {r["step"]: r for r in T.bpe_merge_steps(docs, k_merges=2).collect()}
    assert (out[1]["left_sym"], out[1]["right_sym"], out[1]["pair_count"]) == (
        "e", "r", 4,
    )
    assert (out[2]["left_sym"], out[2]["right_sym"], out[2]["pair_count"]) == (
        "er", "s", 1,
    )


def test_bpe_encode_applies_merges_in_rank_order(spark):
    # word "lower": chars l o w e r (5 symbols). merges [(l,o), (lo,w)]
    # -> "lo w e r" -> "low e r" = 3 tokens
    docs = spark.createDataFrame([(1, "lower lower")], "doc_id long, text string")
    from mysql_data_anonymizer_spark.operators import text as T

    out = T.bpe_encode(docs, [("l", "o"), ("lo", "w")]).collect()[0]
    assert out["n_words"] == 2
    assert out["n_sym_chars"] == 10
    assert out["n_tokens"] == 6  # 3 tokens per word


def test_bpe_encode_skips_null_merges_and_empty_docs(spark):
    docs = spark.createDataFrame(
        [(1, "ab"), (2, "   ")], "doc_id long, text string"
    )
    from mysql_data_anonymizer_spark.operators import text as T

    rows = {r["doc_id"]: r for r in T.bpe_encode(docs, [(None, None)]).collect()}
    assert rows[1]["n_tokens"] == 2  # no merge applied -> chars
    assert 2 not in rows  # whitespace-only doc has nothing to bill


# ---------------------------------------------------------------------------
# build_ivf_index / ivf_indexed_topk
# ---------------------------------------------------------------------------
def test_ivf_index_probe_matches_in_memory_and_prunes(spark, tmp_path):
    from mysql_data_anonymizer_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.train_ivf_centroids(emb, n_cells=16)
    S.build_ivf_index(emb, "t_ivf_idx_ut", cents, path=str(tmp_path / "idx"))
    q = emb.filter(F.col("vec_id") < 5)
    out, scan = S.ivf_indexed_topk(
        spark, q, "t_ivf_idx_ut", cents, k=5, nprobe=8, dim=None
    )
    base = S.ivf_topk(emb, q, k=5, nprobe=8, dim=None, centroids=cents)
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))
    # anchored gate (r8 ADVICE): the INSET must sit on THIS table's scan
    # node and enumerate strictly fewer cells than were trained
    from mysql_data_anonymizer_spark.queries import _ivf_scan_pruned

    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert _ivf_scan_pruned(plan, "t_ivf_idx_ut", n_cells=len(cents)), (
        "probe must plan static partition pruning on the cell directories, "
        "probing strictly fewer cells than trained"
    )
    assert not _ivf_scan_pruned(plan, "no_such_table", n_cells=len(cents))
    assert not _ivf_scan_pruned(plan, "t_ivf_idx_ut", n_cells=1), (
        "an INSET covering every trained cell is a full scan, not a prune"
    )
    # r9 ADVICE: simpleString truncates INSET lists past maxToStringFields
    # (default 25) appending ', ... N more fields' — the gate must fail
    # closed rather than parse the visible prefix as a small set
    truncated = (
        "FileScan parquet t_trunc[cell#1] "
        "PartitionFilters: [cell#1 INSET 0,1,2,3,4, ... 20 more fields]"
    )
    assert not _ivf_scan_pruned(truncated, "t_trunc", n_cells=100), (
        "a truncated INSET list may enumerate every cell; must fail closed"
    )


# ---------------------------------------------------------------------------
# hard_negative_topk
# ---------------------------------------------------------------------------
def test_hard_negatives_exclude_same_and_null_labels(spark):
    from mysql_data_anonymizer_spark.operators import similarity as S

    rows = [
        (1, [1.0, 0.0], 0),      # anchor
        (2, [1.0, 0.0], 0),      # same label — never a negative
        (3, [0.9, 0.1], 1),      # hard negative (closest different-label)
        (4, [0.0, 1.0], 1),      # easy negative
        (5, [1.0, 0.0], None),   # NULL label — unknown, never a negative
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = S.hard_negative_topk(df, df.where("vec_id = 1"), k=2, dim=None).collect()
    got = [(r["neighbor_id"], r["rank"]) for r in out]
    assert got == [(3, 1), (4, 2)]
    assert all(r["neighbor_label"] is not None for r in out)


def test_hard_negatives_null_anchor_label_matches_any_labeled(spark):
    from mysql_data_anonymizer_spark.operators import similarity as S

    rows = [(1, [1.0, 0.0], None), (2, [1.0, 0.0], 0), (3, [1.0, 0.0], None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = S.hard_negative_topk(df, df.where("vec_id = 1"), k=5, dim=None).collect()
    # NULL-anchor vs labeled row: labels differ null-safely -> negative;
    # NULL vs NULL: not distinct -> excluded
    assert [r["neighbor_id"] for r in out] == [2]


# ---------------------------------------------------------------------------
# mlm_mask_examples
# ---------------------------------------------------------------------------
def test_mlm_mask_deterministic_and_consistent(spark):
    from mysql_data_anonymizer_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j " * 5), (2, "   ")], "doc_id long, text string"
    )
    a = {r["doc_id"]: r for r in T.mlm_mask_examples(docs).collect()}
    b = {r["doc_id"]: r for r in T.mlm_mask_examples(docs).collect()}
    assert a[1] == b[1], "hash gate must be deterministic"
    assert 2 not in a, "empty docs have nothing to train on"
    r = a[1]
    assert r["input_text"].split().count("<mask>") == r["n_masked"]
    assert len(r["target_text"].split()) == r["n_masked"]
    assert r["n_tokens"] == 50
    # reseeding re-deals the mask (epoch re-derivation)
    c = {x["doc_id"]: x for x in T.mlm_mask_examples(docs, seed="mlm2").collect()}
    assert c[1]["input_text"] != r["input_text"] or c[1]["n_masked"] != r["n_masked"]


def test_mlm_mask_positions_not_content(spark):
    from mysql_data_anonymizer_spark.operators import text as T

    # identical tokens at different positions mask independently
    docs = spark.createDataFrame([(7, "x " * 100)], "doc_id long, text string")
    r = T.mlm_mask_examples(docs).collect()[0]
    assert 0 < r["n_masked"] < 100, "position-hashed gate, not content-hashed"


# ---------------------------------------------------------------------------
# pack_sequences (GPT-style contiguous packing)
# ---------------------------------------------------------------------------
def test_pack_sequences_interval_arithmetic(spark):
    from mysql_data_anonymizer_spark.operators import text as T

    # one shard, seq_len 10: docs of 4 + 8 + 10 tokens concatenate to 22
    # tokens -> sequences of 10, 10, 2; doc B (tokens 4..11) spans seqs
    # 0 and 1; doc C (12..21) spans seqs 1 and 2
    docs = spark.createDataFrame(
        [(1, "a " * 4), (2, "b " * 8), (3, "c " * 10)],
        "doc_id long, text string",
    )
    out = {
        (r["shard"], r["seq_no"]): r
        for r in T.pack_sequences(docs, seq_len=10, n_shards=1).collect()
    }
    assert len(out) == 3
    s0, s1, s2 = out[(0, 0)], out[(0, 1)], out[(0, 2)]
    assert (s0["n_tokens_seq"], s0["n_docs"]) == (10, 2)   # doc1(4) + doc2(6)
    assert (s1["n_tokens_seq"], s1["n_docs"]) == (10, 2)   # doc2(2) + doc3(8)
    assert (s2["n_tokens_seq"], s2["n_docs"]) == (2, 1)    # doc3 tail
    assert (s0["first_doc_id"], s0["last_doc_id"]) == (1, 2)
    # token conservation: sequence totals == corpus totals
    assert sum(r["n_tokens_seq"] for r in out.values()) == 22


def test_pack_sequences_conserves_tokens_on_fixture(spark):
    from mysql_data_anonymizer_spark.operators import text as T
    import pyspark.sql.functions as SF

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = T.pack_sequences(docs, seq_len=512, n_shards=8)
    total_seq = out.agg(SF.sum("n_tokens_seq")).collect()[0][0]
    total_docs = docs.select(
        SF.size(
            SF.filter(SF.split(SF.trim(SF.lower(SF.col("text"))), r"\s+"),
                      lambda t: t != "")
        ).alias("n")
    ).agg(SF.sum("n")).collect()[0][0]
    assert total_seq == total_docs, "packing must conserve every token"
    # every non-tail sequence is exactly full
    full = out.where("n_tokens_seq = 512").count()
    assert full >= out.count() - 8, "at most one partial tail per shard"
