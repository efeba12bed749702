"""Deduplication operators: exact, n-gram Jaccard, MinHash-LSH, SimHash,
embedding-cosine near-dup.

Design for 100 TB:
  - exact dedup is one hash-aggregate (map-side partial agg) on the dedup
    key — no sort, no window;
  - near-dup pipelines never do an all-pairs shuffle: candidates come from
    equi-joins on shingle / band / LSH-bucket keys, so the shuffle is keyed
    and AQE can split skewed buckets. Stop-shingles (document frequency cap)
    bound the worst hot key;
  - everything is Column expressions (md5 / array ops) — no Python in the
    loop; MinHash signatures are lexicographic minima of salted md5 hex
    strings, reproducible in plain SQL for the DuckDB oracle.
"""

from __future__ import annotations

import logging

import numpy as np
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.operators import bloom
from mysql_data_anonymizer_spark.session import observed_metrics, pin

# sentinel: "caller did not choose a dot-product form" (distinct from an
# explicit dim=None, which selects the compile-cheap higher-order form)
_DIM_DEFAULT: object = object()

_log = logging.getLogger(__name__)


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------
def exact_dedup(df: DataFrame, key_cols: list[str], id_col: str) -> DataFrame:
    """Keep one deterministic survivor (min id) per duplicate group.

    One hash aggregate: partial min per map task, final min after a keyed
    shuffle — the cheapest possible distributed dedup."""
    survivors = df.groupBy(*key_cols).agg(F.min(id_col).alias(id_col))
    return survivors.select(id_col, *key_cols)


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------
def shingle_expr(toks: Column, n: int = 3) -> Column:
    """Distinct n-word shingles over a *materialized* token-array column.

    Pass a column reference, not the split() expression itself: a lambda
    body re-evaluates captured expressions per array element, turning the
    tokenization into O(len^2) work (measured ~100x slowdown). Documents
    shorter than n tokens yield an empty array (guard needed:
    sequence(0, negative) would generate a DESCENDING sequence).
    Per-shingle access is O(1) element_at, not an O(len) slice."""
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)]),
    )
    return F.array_distinct(grams)


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs, distinct per document."""
    toks_df = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks"),
    )
    return (
        toks_df.select("__id", F.explode(shingle_expr(F.col("__toks"), n)).alias("sh"))
        .where(F.col("sh") != "")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with Jaccard(shingle sets) >= threshold.

    Candidate generation is a POSTING-LIST expansion, not a self-join: one
    groupBy collects each shingle's sorted doc list, pairs explode map-side
    from every list, and a second keyed aggregate counts per-pair shingle
    intersections. One shuffle of the (shingle, id) stream replaces the
    self-join's two copies plus the separate stop-shingle aggregate.
    ``max_shingle_df`` (stop-shingles) filters ON the same aggregate for
    free and bounds BOTH the hot-key skew and the per-list pair explosion
    (<= cap^2/2 pairs per shingle) — at corpus scale the cap is mandatory:
    one boilerplate shingle shared by 1M docs would otherwise emit 5*10^11
    pairs. Returns (id_a, id_b, jaccard)."""
    out = _pair_intersections(df, id_col, text_col, n, max_shingle_df).withColumn(
        # raw double of an int/int division: bit-identical in any IEEE
        # engine, so the DuckDB oracle hash-matches without rounding
        "jaccard",
        F.col("__inter").cast("double")
        / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
    ).where(F.col("jaccard") >= threshold)
    return out.select("id_a", "id_b", "jaccard")


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.9,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Pairs (id_a < id_b) with CONTAINMENT >= threshold, where containment
    = |A ∩ B| / min(|A|, |B|) over the n-gram shingle sets (Broder 1997's
    asymmetric resemblance): a short document quoted wholesale inside a
    long one scores ~1.0 here but a LOW Jaccard (the union is dominated by
    the long doc), so this is the dedup family member that catches
    subset/quotation duplication — press-release bodies inside news
    articles, license boilerplate inside source files, chunk-level copies
    inside aggregator pages. Same posting-list plan shape (and the same
    mandatory ``max_shingle_df`` cap) as ``ngram_jaccard_pairs`` — only the
    final score expression differs. Returns (id_a, id_b, containment)."""
    out = _pair_intersections(df, id_col, text_col, n, max_shingle_df).withColumn(
        "containment",
        F.col("__inter").cast("double")
        / F.least(F.col("__na"), F.col("__nb")).cast("double"),
    ).where(F.col("containment") >= threshold)
    return out.select("id_a", "id_b", "containment")


def _pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    max_shingle_df: int | None,
) -> DataFrame:
    """Shared candidate machinery for the set-overlap dedup family:
    posting-list expansion -> per-pair intersection counts joined with both
    docs' (capped) set sizes. Returns (id_a, id_b, __inter, __na, __nb)."""
    sh = shingles(df, id_col, text_col, n)
    posting = sh.groupBy("sh").agg(F.sort_array(F.collect_set("__id")).alias("ids"))
    if max_shingle_df is not None:
        posting = posting.where(F.size("ids") <= max_shingle_df)
    # per-doc set sizes over the SAME (capped) aggregate — df=1 shingles
    # still count toward their doc's set size
    sizes = (
        posting.select(F.explode("ids").alias("__id"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) ->"
        " transform(slice(ids, i + 2, size(ids)), y -> struct(x AS id_a, y AS id_b))))"
    )
    inter = (
        posting.where(F.size("ids") >= 2)
        .select(F.explode(pair_expr).alias("p"))
        .groupBy(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"), "id_b")
    )


def incremental_near_dup_filter(
    corpus: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Keep only the NEW documents that are not near-duplicates (n-gram
    Jaccard >= threshold) of anything in the EXISTING corpus — the operator
    a recurring ingestion pipeline runs on every crawl increment.

    Bipartite posting lists: one groupBy over the tagged (shingle, id)
    stream collects each shingle's corpus and new doc lists; candidate
    pairs explode map-side only ACROSS sides (|corpus_list| x |new_list|
    per shingle, bounded by the df cap), never within a side — the
    quadratic self-join term of full-corpus dedup disappears, cost scales
    with the increment. Set sizes reuse the same aggregate. Returns the
    surviving new docs (anti-join against the tiny drop list)."""
    sh_c = shingles(corpus, id_col, text_col, n).withColumn("__new", F.lit(False))
    sh_n = shingles(new_docs, id_col, text_col, n).withColumn("__new", F.lit(True))
    both = sh_c.unionByName(sh_n)
    posting = both.groupBy("sh").agg(
        F.sort_array(F.collect_set(F.when(~F.col("__new"), F.col("__id")))).alias("cids"),
        F.sort_array(F.collect_set(F.when(F.col("__new"), F.col("__id")))).alias("nids"),
    )
    if max_shingle_df is not None:
        posting = posting.where(F.size("cids") + F.size("nids") <= max_shingle_df)
    sizes = (
        posting.select(F.explode(F.concat("cids", "nids")).alias("__id"))
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    cross = F.expr(
        "flatten(transform(nids, nid -> transform(cids, cid ->"
        " struct(nid AS new_id, cid AS corpus_id))))"
    )
    inter = (
        posting.where((F.size("cids") >= 1) & (F.size("nids") >= 1))
        .select(F.explode(cross).alias("p"))
        .groupBy(F.col("p.new_id").alias("new_id"), F.col("p.corpus_id").alias("corpus_id"))
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    dup_new = (
        inter.join(
            sizes.withColumnRenamed("__id", "new_id").withColumnRenamed("__n", "__nn"), "new_id"
        )
        .join(
            sizes.withColumnRenamed("__id", "corpus_id").withColumnRenamed("__n", "__nc"),
            "corpus_id",
        )
        .where(
            F.col("__inter").cast("double")
            / (F.col("__nn") + F.col("__nc") - F.col("__inter")).cast("double")
            >= threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    return new_docs.join(F.broadcast(dup_new), id_col, "left_anti")


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: drop training documents sharing at least
    ``min_hits`` distinct word n-grams with ANY benchmark document — the
    surface-form overlap filter of the GPT-3/PaLM data pipelines (Brown et
    al. 2020, appendix C uses 13-grams).

    100 TB design: the benchmark n-gram set is tiny (eval sets are MBs
    against a 100 TB corpus), so it BROADCASTS — the corpus-side shingle
    stream is probed map-side with no fact shuffle; the only keyed
    aggregate (per-doc hit count) runs over the rare matching rows, and the
    final anti-join broadcasts the contaminated-id list. Cost scales with
    corpus size x 1 map pass, independent of benchmark count."""
    bsh = shingles(bench, id_col, text_col, n).select("sh").distinct()
    tsh = shingles(train, id_col, text_col, n)
    # shingles() emits distinct (doc, gram) pairs, so count == distinct hits
    contaminated = (
        tsh.join(F.broadcast(bsh), "sh")
        .groupBy("__id")
        .agg(F.count(F.lit(1)).alias("__hits"))
        .where(F.col("__hits") >= min_hits)
        .select(F.col("__id").alias(id_col))
    )
    return train.join(F.broadcast(contaminated), id_col, "left_anti")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
def minhash_signatures(
    sh: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """Per-doc MinHash signature: for hash i, min over shingles of
    md5(i ':' shingle) — lexicographic min of hex strings is a uniform
    min-hash, and (unlike murmur) is reproducible in DuckDB SQL."""
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("__id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 8,
    bands: int = 4,
    threshold: float = 0.7,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, Jaccard-verified.

    shingle -> minhash signature -> band keys -> bucket equi-join for
    candidates -> exact Jaccard verify on candidates only. The all-pairs
    explosion never happens: candidate generation is |bands| keyed joins and
    verification touches only bucket collisions. ``max_shingle_df`` drops
    stop-shingles (document frequency above the cap) BEFORE signatures and
    verify — at corpus scale boilerplate shingles otherwise both skew the
    verify join and poison every signature they touch."""
    assert num_hashes % bands == 0, "num_hashes must divide evenly into bands"
    rows_per_band = num_hashes // bands
    # shingles feed signature, sizes and the verify join — compute once
    sh = shingles(df, id_col, text_col, n)
    if max_shingle_df is not None:
        rare = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df")).where(
            F.col("__df") <= max_shingle_df
        )
        sh = sh.join(rare.select("sh"), "sh")
    sh = sh.cache()
    sig = minhash_signatures(sh, num_hashes)

    # all band keys in ONE pass over the signature: a union of per-band
    # frames would re-execute the signature aggregation once per band
    # (bands x the most expensive stage); explode multiplies rows AFTER the
    # single aggregate instead
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    "|", *[f"mh{i}" for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
                )
            ).alias("bkey"),
        )
        for b in range(bands)
    ]
    banded = sig.select("__id", F.explode(F.array(*band_structs)).alias("__b")).select(
        "__id", F.col("__b.band").alias("band"), F.col("__b.bkey").alias("bkey")
    )

    a = banded.select(F.col("__id").alias("id_a"), "band", "bkey")
    b2 = banded.select(F.col("__id").alias("id_b"), "band", "bkey")
    cand = (
        a.join(b2, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )

    # exact Jaccard verification restricted to candidates
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__n"))
    sa = sh.select(F.col("__id").alias("id_a"), "sh")
    sb = sh.select(F.col("__id").alias("id_b"), "sh")
    inter = (
        cand.join(sa, "id_a")
        .join(sb, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__n", "__na"), "id_a")
        .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__n", "__nb"), "id_b")
        .withColumn(
            # raw double of an int/int division: bit-identical in any IEEE
            # engine, so the DuckDB oracle hash-matches without rounding
            "jaccard",
            F.col("__inter").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document: bit j of the fingerprint is the sign of
    sum over tokens of (2*bit_j(xxhash64(token)) - 1), token-frequency
    weighted (bit 63 kept clear so fingerprints stay non-negative).

    Computed entirely per row with array higher-order functions — hash each
    token once, fold the per-bit sign contributions into a 64-long
    accumulator, then pack the signs into one long. ZERO shuffle: simhash is
    embarrassingly parallel per document, so at 100 TB this is a pure map
    stage. (A previous explode + 64-column groupBy version shuffled every
    token AND blew up whole-stage codegen with a 63-deep Add tree — minutes
    per 500 docs; this form is sub-second.)"""
    return _simhash_impl(df, id_col, text_col, "xxhash64(t)", n_bits=64, pack_bits=63)


def simhash_md5(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit SimHash whose token hash (the first 15 hex digits of md5) is
    reproducible in DuckDB SQL — the oracle-checkable twin of ``simhash``.
    15 hex digits = 60 bits fits a signed long exactly in both engines; use
    the xxhash64 variant in production (~3x cheaper hash), this one when the
    fingerprints themselves must be value-verified cross-engine."""
    return _simhash_impl(
        df,
        id_col,
        text_col,
        "cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)",
        n_bits=60,
        pack_bits=60,
    )


# spread-multiply: for a nibble v, (v * _SPREAD) & _LANES puts bit k of v at
# bit position 16k — copies of v at shifts 0/15/30/45 are disjoint (no
# carries), and masking bits {0,16,32,48} selects exactly bit k from copy k.
_SPREAD = (1 << 45) + (1 << 30) + (1 << 15) + 1  # 35185445863425
_LANES = (1 << 48) + (1 << 32) + (1 << 16) + 1  # 281479271743489
_LANE_CAP = 65535  # 16-bit per-position counters: exact up to 65535 tokens


def _packed_fold_sql(n_bits: int, pack_bits: int) -> str:
    """Per-doc fingerprint via a struct of n_bits/4 packed-long counters.

    Per token: 16 multiply+mask+add field updates on a flat struct — no
    array allocation (the naive fold builds two 64-element arrays per
    token; this form measured ~4x faster on the documents corpus). Lane k
    of acc.s{i} counts tokens with hash bit (4i+k) set; the finisher turns
    counts into sign bits (2*count > n <=> the +/-1 sum is positive) and
    packs them. shiftrightunsigned everywhere: lane 3 occupies bits 48..63,
    so a half-full top lane sets the sign bit of the accumulator long."""
    nn = n_bits // 4
    init = ", ".join(f"'s{i}', 0L" for i in range(nn))
    merge = ", ".join(
        f"'s{i}', acc.s{i} + "
        f"(((shiftrightunsigned(h, {4 * i}) & 15) * {_SPREAD}L) & {_LANES}L)"
        for i in range(nn)
    )
    accs = ", ".join(f"acc.s{i}" for i in range(nn))
    return (
        f"aggregate(__hashes, named_struct({init}),"
        f" (acc, h) -> named_struct({merge}),"
        " acc -> aggregate(zip_with("
        f"   transform(sequence(0, {pack_bits - 1}), j ->"
        f"     shiftrightunsigned(element_at(array({accs}), cast(j div 4 as int) + 1),"
        "       (j % 4) * 16) & 65535),"
        f"   transform(sequence(0, {pack_bits - 1}), j -> shiftleft(1L, j)),"
        "   (c, p) -> if(2 * c > size(__hashes), p, 0L)),"
        " 0L, (a, x) -> a + x))"
    )


def _naive_fold_sql(n_bits: int, pack_bits: int) -> str:
    """Unpacked +/-1 fold over a 64-long accumulator array — exact for any
    token count; the packed path's fallback for docs beyond _LANE_CAP."""
    return (
        "aggregate(aggregate(__hashes,"
        f" array_repeat(0L, {n_bits}),"
        " (acc, h) -> zip_with(acc,"
        f"   transform(sequence(0, {n_bits - 1}),"
        "     j -> cast(shiftright(h, j) & 1 as long) * 2L - 1L),"
        "   (a, b) -> a + b),"
        f" acc -> zip_with(slice(acc, 1, {pack_bits}),"
        f"   transform(sequence(0, {pack_bits - 1}), j -> shiftleft(1L, j)),"
        "   (s, p) -> if(s > 0, p, 0L))),"
        " 0L, (a, x) -> a + x)"
    )


def _simhash_impl(
    df: DataFrame, id_col: str, text_col: str, hash_sql: str, n_bits: int, pack_bits: int
) -> DataFrame:
    hashed = df.select(
        F.col(id_col).alias("__id"),
        F.expr(
            f"transform(filter(split(trim(lower({text_col})), '\\\\s+'), t -> t != ''),"
            f" t -> {hash_sql})"
        ).alias("__hashes"),
    # docs with zero tokens have no fingerprint (an all-zero fingerprint
    # would spuriously pair every empty doc at hamming 0)
    ).where(F.expr("size(__hashes) > 0"))
    # packed-counter fold for normal documents, exact-any-length fold past
    # the 16-bit lane capacity — both compute sign(sum over tokens of +/-1
    # per bit), so the branch is invisible in the output
    fp = F.expr(
        f"if(size(__hashes) <= {_LANE_CAP},"
        f" {_packed_fold_sql(n_bits, pack_bits)},"
        f" {_naive_fold_sql(n_bits, pack_bits)})"
    )
    return hashed.select(F.col("__id").alias(id_col), fp.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    band_bits: int = 16,
    variant: str = "xxhash64",
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidates via banding (pigeonhole: distance <= k pairs share at least
    one of k+1 bands; 64/16 = 4 bands covers max_hamming 3) then exact
    popcount verify. bit_count is a JVM builtin — no UDF. ``variant='md5'``
    uses the 60-bit md5-derived fingerprint (``simhash_md5``, band_bits 15)
    whose whole pipeline has an exact DuckDB SQL twin."""
    if variant == "md5":
        fp, total_bits = simhash_md5(df, id_col, text_col), 60
    else:
        fp, total_bits = simhash(df, id_col, text_col), 64
    # the banding self-join reads the fingerprint frame twice; without a
    # cache each side re-tokenizes + re-folds the entire corpus (measured
    # ~2.5x the whole query at sf0.1). Fingerprints are (id, long) — 100+ x
    # smaller than the text — so caching them is the scale-correct trade.
    fp = fp.cache()
    nbands = total_bits // band_bits
    # one pass: explode band keys from the fingerprint instead of a union of
    # per-band frames (which would recompute the simhash fold per band)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftrightunsigned(F.col("simhash"), b * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .alias("bkey"),
        )
        for b in range(nbands)
    ]
    banded = fp.select(
        F.col(id_col).alias("__id"), "simhash", F.explode(F.array(*band_structs)).alias("__b")
    ).select("__id", "simhash", F.col("__b.band").alias("band"), F.col("__b.bkey").alias("bkey"))
    a = banded.select(F.col("__id").alias("id_a"), F.col("simhash").alias("__sa"), "band", "bkey")
    b2 = banded.select(F.col("__id").alias("id_b"), F.col("simhash").alias("__sb"), "band", "bkey")
    cand = (
        a.join(b2, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "__sa", "__sb")
        .distinct()
    )
    out = cand.withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
    return out.where(F.col("hamming") <= max_hamming).select("id_a", "id_b", "hamming")


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------
def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int | None = None,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold — exact all-pairs, fully
    distributed via a triangle block join (NO driver collect, NO broadcast).

    Rows hash into ``B`` blocks; every unordered block pair (i <= j) becomes
    one reduce group that receives block i as its 'A' side and block j as its
    'B' side (each row is shuffled to ~B groups — the classic O(n*sqrt(T))
    all-pairs replication). The group computes its score matrix with one
    float64 BLAS product and emits only the above-threshold (id_a < id_b)
    cells, so the O(n^2) score matrix is never materialized beyond one block
    pair. Task memory is bounded by 2*|block| rows REGARDLESS of corpus size
    — pick B ~ sqrt-of-task-budget (default sizes B so there are ~2x
    defaultParallelism groups). Exact all-pairs is inherently O(n^2) compute;
    when that quadratic term (not memory) is the binding constraint, use the
    approximate scale path ``similarity.lsh_bucketed_pairs`` (bucketed
    candidates + verify) instead.

    Scores are rounded to 4 dp — matmul accumulation differs from sequential
    summation by ~1 ulp, which the rounding absorbs (same discipline as
    ``similarity.matmul_topk``), keeping the DuckDB oracle hash-stable.

    An expression-only variant (unrolled dot product over a broadcast
    nested-loop theta-join) is kept as ``embedding_near_dup_pairs_expr`` —
    ~10x slower: 2M pairs x 64 interpreted multiplies vs one BLAS call."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    B = n_blocks or max(4, int((4 * par) ** 0.5))  # ~B^2/2 groups ~ 2*par tasks
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).cast("int").alias("__b"),
    )
    # a row in block b is the A side of pairs (b, j>=b) and the B side of
    # pairs (i<=b, b); the diagonal group (b, b) sees it on both sides
    a_side = base.select(
        "__id",
        "__v",
        F.col("__b").alias("pi"),
        F.explode(F.sequence(F.col("__b"), F.lit(B - 1))).alias("pj"),
        F.lit(0).alias("__side"),
    )
    b_side = base.select(
        "__id",
        "__v",
        F.explode(F.sequence(F.lit(0), F.col("__b"))).alias("pi"),
        F.col("__b").alias("pj"),
        F.lit(1).alias("__side"),
    )

    def score_block_pair(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        a = pdf[pdf["__side"] == 0]
        b = pdf[pdf["__side"] == 1]
        if not len(a) or not len(b):
            return empty
        a_ids = a["__id"].to_numpy(dtype=np.int64)
        b_ids = b["__id"].to_numpy(dtype=np.int64)
        a_mat = np.stack([np.asarray(v, dtype=np.float64) for v in a["__v"]])
        b_mat = np.stack([np.asarray(v, dtype=np.float64) for v in b["__v"]])
        a_norms = np.maximum(np.linalg.norm(a_mat, axis=1), 1e-300)
        b_norms = np.maximum(np.linalg.norm(b_mat, axis=1), 1e-300)
        scores = np.round((a_mat @ b_mat.T) / np.outer(a_norms, b_norms), 4)
        if pdf["pi"].iloc[0] == pdf["pj"].iloc[0]:
            # diagonal group: both sides hold the SAME block, so each pair
            # shows up in both orientations — keep exactly one
            ii, jj = np.nonzero((scores >= threshold) & (a_ids[:, None] < b_ids[None, :]))
            id_a, id_b = a_ids[ii], b_ids[jj]
        else:
            # disjoint blocks: each pair is evaluated once, in whichever
            # orientation the block hash gave it — normalize to (min, max)
            ii, jj = np.nonzero(scores >= threshold)
            id_a = np.minimum(a_ids[ii], b_ids[jj])
            id_b = np.maximum(a_ids[ii], b_ids[jj])
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "cosine": scores[ii, jj]})

    both = a_side.unionByName(b_side)
    return both.groupBy("pi", "pj").applyInPandas(
        score_block_pair, "id_a long, id_b long, cosine double"
    )


def semantic_dedup_sign_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_sign_bits: int = 6,
    dim: int | None = _DIM_DEFAULT,
) -> DataFrame:
    """SemDeDup-style cluster-local semantic dedup (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space into clusters, then
    drop near-duplicates only WITHIN each cluster — trading cross-cluster
    recall for a pair count bounded by cluster occupancy instead of O(n^2).

    This variant makes the clustering deterministic and oracle-reproducible:
    the cluster key is the sign pattern of the first ``n_sign_bits``
    embedding dimensions (2^b buckets; a fixed random rotation upstream
    de-correlates dimensions if the embedding space needs it). The paper's
    keep-policy (retain the member closest to the centroid) is replaced by
    a deterministic survivor rule — a row is dropped iff a LOWER-ID member
    of its bucket is within ``threshold`` cosine — so the output is
    run/partitioning-invariant and the DuckDB twin can replay it exactly.

    Plan shape: one shuffle of each side on the bucket key, equi-join on
    bucket with the (id_a < id_b) theta as a rider predicate (hash join,
    never BNLJ), JVM-side unrolled dot product per candidate pair, one
    distinct on dropped ids, one anti join. At 100 TB swap the sign buckets
    for trained IVF centroids (``similarity.train_ivf_centroids`` +
    ``ivf_assign_expr``) and raise the bucket count so per-bucket pair work
    stays bounded; the dedup join is unchanged.

    ``dim`` chooses the dot-product form exactly as in
    ``semantic_dedup_ivf``: default = unrolled ``DEFAULT_DIM`` chain
    (execution-optimal at production pair volumes); explicit ``dim=None`` =
    higher-order aggregate (bit-identical, ~2 s less Catalyst compile —
    for bounded certification runs)."""
    from mysql_data_anonymizer_spark.operators.similarity import (
        DEFAULT_DIM,
        dot_expr,
        norm_expr,
    )

    if dim is _DIM_DEFAULT:
        dim = DEFAULT_DIM
    bucket = sum(
        (F.element_at(F.col(vec_col), i + 1) >= 0).cast("long") * (1 << i)
        for i in range(n_sign_bits)
    )
    e = df.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        norm_expr(vec_col, dim).alias("__n"),
        bucket.alias("bucket"),
    )
    a = e.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "bucket",
    )
    b = e.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "bucket",
    )
    pairs = a.join(b, ["bucket"]).where(F.col("id_a") < F.col("id_b"))
    # ROUND(.., 4) absorbs the ~1 ulp accumulation-order drift vs the oracle
    cos = F.round(dot_expr("__va", "__vb", dim) / (F.col("__na") * F.col("__nb")), 4)
    dropped = pairs.where(cos >= threshold).select(F.col("id_b").alias("__id")).distinct()
    return e.join(dropped, ["__id"], "left_anti").select(
        F.col("__id").alias(id_col), F.col("bucket").cast("long").alias("bucket")
    )


def semantic_dedup_ivf(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_cells: int = 16,
    seed: int = 42,
    dim: int | None = _DIM_DEFAULT,
    centroids=None,
) -> DataFrame:
    """SemDeDup with TRAINED IVF cells as the clusters — the corpus-scale
    swap documented in ``semantic_dedup_sign_buckets``: data-adaptive
    k-means centroids (``similarity.train_ivf_centroids``, bounded
    driver-side sample) replace the fixed sign pattern, so occupancy tracks
    the actual embedding distribution and per-cell pair work stays bounded
    as ``n_cells`` scales with the corpus. Assignment is ONE Arrow-batched
    matmul per row (``ivf_assign_expr`` with nprobe=1); the survivor rule
    and the cluster-local dedup join are identical to the sign-bucket
    variant (dropped iff a LOWER-ID same-cell member is within
    ``threshold`` cosine), so results stay deterministic GIVEN the
    centroids. Returns survivors as (id_col, cell).

    The assignment frame is consumed by THREE branches (both join sides +
    the final anti-join); without materialization Spark re-runs the Arrow
    assignment UDF once per branch, so it is pinned and the corpus is
    assigned exactly once — at scale this is the deliberate persist point
    of (id, vec, norm, cell), the same frame the dedup join shuffles
    anyway.

    ``dim`` picks the dot-product FORM for the pair scoring: the default
    unrolls to ``DEFAULT_DIM`` element_at terms (execution-optimal — at
    production pair volumes the per-pair win dominates), while an explicit
    ``dim=None`` uses the higher-order ``aggregate`` form, whose plan
    compiles ~2 s faster at identical (bit-for-bit) values — the right
    trade for bounded certification slices where Catalyst analysis, not
    execution, is the cost (measured r7: 3.2 s -> 1.2 s on the sf0.1
    half-slice)."""
    from mysql_data_anonymizer_spark.operators.similarity import (
        DEFAULT_DIM,
        dot_expr,
        ivf_assign_expr,
        norm_expr,
        train_ivf_centroids,
    )

    if dim is _DIM_DEFAULT:
        dim = DEFAULT_DIM
    cents = (
        centroids
        if centroids is not None
        else train_ivf_centroids(df, vec_col, n_cells=n_cells, seed=seed)
    )
    e = pin(
        df.select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__v"),
            norm_expr(vec_col, dim).alias("__n"),
            F.element_at(ivf_assign_expr(vec_col, cents, 1), 1).cast("long").alias("cell"),
        )
    )
    a = e.select(
        F.col("__id").alias("id_a"), F.col("__v").alias("__va"),
        F.col("__n").alias("__na"), "cell",
    )
    b = e.select(
        F.col("__id").alias("id_b"), F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"), "cell",
    )
    pairs = a.join(b, ["cell"]).where(F.col("id_a") < F.col("id_b"))
    cos = F.round(dot_expr("__va", "__vb", dim) / (F.col("__na") * F.col("__nb")), 4)
    dropped = pairs.where(cos >= threshold).select(F.col("id_b").alias("__id")).distinct()
    return e.join(dropped, ["__id"], "left_anti").select(
        F.col("__id").alias(id_col), "cell"
    )


def embedding_near_dup_pairs_expr(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Expression-only exact all-pairs cosine (no Python workers): broadcast
    nested-loop theta-join + unrolled JVM dot product. Kept as the
    pure-Catalyst reference implementation and for environments without
    Arrow; prefer ``embedding_near_dup_pairs`` (BLAS) in the hot path."""
    from mysql_data_anonymizer_spark.operators.similarity import dot_expr, norm_expr

    # norms are per-row: compute once per side, not once per pair
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), norm_expr(vec_col).alias("__na")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), norm_expr(vec_col).alias("__nb")
    )
    # the theta-join (id_a < id_b) is a broadcast nested-loop join; spread
    # the streaming side so the O(n^2) pair evaluation parallelizes instead
    # of landing in one task (a small parquet file reads as one partition)
    par = df.sparkSession.sparkContext.defaultParallelism
    pairs = a.repartition(par).join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    out = pairs.withColumn(
        "cosine", F.round(dot_expr("__va", "__vb") / (F.col("__na") * F.col("__nb")), 4)
    )
    return out.where(F.col("cosine") >= threshold).select("id_a", "id_b", "cosine")


# ---------------------------------------------------------------------------
# clustering: connected components over near-dup pairs
# ---------------------------------------------------------------------------
def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components of an undirected pair graph by min-label
    propagation: every node's label converges to the smallest node id in its
    component. Returns (node, component).

    This turns pairwise near-dup output (Jaccard / MinHash / SimHash /
    cosine pairs) into dedup *clusters*: keep component == node as the
    survivor, drop the rest.

    Scale design: one keyed shuffle (join + min-aggregate) per round,
    O(component diameter) rounds — near-dup clusters are shallow (chains of
    overlapping docs), so a handful of rounds suffices. Each round is
    pinned (``session.pin``): iterative self-joins otherwise stack lineage and
    re-execute the whole history every round. Convergence is an Observation
    on each round's pin, not a second probe job.
    """
    # materialize the edge list ONCE: ``sym`` is joined every round, and
    # without a checkpoint each round would re-execute the entire upstream
    # pair-finding pipeline (shingle + LSH joins) — measured ~2x the whole
    # clustering cost on the jaccard pipeline
    sym = pin(
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
    )
    labels = pin(
        sym.select(F.col("src").alias("node")).distinct().withColumn("component", F.col("node"))
    )
    for _ in range(max_iter):
        prop = sym.join(labels, sym.src == labels.node).select(
            F.col("dst").alias("node"), "component", F.lit(False).alias("__own")
        )
        # change detection folded into the same aggregate (min over own label
        # vs min over all) — one join + one shuffle per round, no second
        # labels join just to diff old vs new. The convergence probe itself
        # is an Observation riding the checkpoint materialization (guide
        # §1.2: one job per round, not checkpoint + a second limit(1) probe
        # job — the probe was pure fixed job-dispatch latency per round).
        obs = Observation()
        new = pin(
            labels.withColumn("__own", F.lit(True))
            .unionByName(prop)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("__own"), F.col("component"))).alias("__old"),
            )
            .observe(
                obs,
                F.count(
                    F.when(F.col("component") < F.col("__old"), 1)
                ).alias("improved"),
            )
        )
        labels = new.drop("__old")
        # same predicate the old probe filtered on; nonzero iff any label fell
        if observed_metrics(obs, "connected_components loop")["improved"] == 0:
            break
    else:
        # an unconverged result is otherwise indistinguishable from a
        # correct one: some nodes may carry intermediate non-minimum labels
        _log.warning(
            "connected_components: max_iter=%d exhausted before fixpoint; "
            "labels may be partial (raise max_iter; a long-chain graph "
            "needs one round per hop of its longest shortest path)",
            max_iter,
        )
    return labels


# ---------------------------------------------------------------------------
# semantic (embedding) benchmark decontamination
# ---------------------------------------------------------------------------
def semantic_decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    round_digits: int = 4,
    max_bench: int = 100_000,
) -> DataFrame:
    """Embedding-space benchmark decontamination — the semantic complement
    of n-gram ``decontaminate``: annotate every corpus vector with its max
    cosine against ANY benchmark vector (paraphrased eval leakage that
    surface n-grams miss). Returns ``(id_col, max_bench_cosine,
    contaminated)`` for every corpus row; callers drop ``contaminated``.

    100 TB design: eval benchmarks are tiny by contract (MBs against the
    corpus), so the benchmark matrix is collected once and BROADCAST; the
    corpus side is a single Arrow-batched ``mapInPandas`` pass computing a
    blocked C @ B^T — ZERO shuffles, cost = one corpus scan x |bench| BLAS
    columns (same shape as ``similarity.matmul_topk``). ``max_bench`` guards
    the contract: a benchmark too large to broadcast raises instead of
    silently building an O(N*M) driver matrix. Per-pair cosines are rounded
    to ``round_digits`` BEFORE the max so the result is bit-reproducible
    against a sequential oracle (float64 matmul summation-order ulps)."""
    import pandas as pd

    n_bench = bench.count()
    if n_bench == 0:
        raise ValueError("semantic_decontaminate: empty benchmark set")
    if n_bench > max_bench:
        raise ValueError(
            f"benchmark has {n_bench} vectors > max_bench={max_bench}; "
            "a benchmark that size cannot broadcast — shard it or raise the cap"
        )
    b_rows = bench.select(vec_col).collect()
    b_mat = np.array([r[0] for r in b_rows], dtype=np.float64)
    b_norm = np.maximum(np.linalg.norm(b_mat, axis=1), 1e-12)
    b = corpus.sparkSession.sparkContext.broadcast((b_mat, b_norm))

    out_schema = f"{id_col} long, max_bench_cosine double"

    def part_maxcos(batches):
        b_mat_l, b_norm_l = b.value
        for pdf in batches:
            if not len(pdf):
                continue
            ids = pdf[id_col].to_numpy(dtype=np.int64)
            c = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            c_norm = np.maximum(np.linalg.norm(c, axis=1), 1e-12)
            scores = np.round((c @ b_mat_l.T) / np.outer(c_norm, b_norm_l), round_digits)
            # + 0.0 canonicalizes IEEE -0.0 (tiny negative dots round to
            # -0.0; the oracle does the same) so the hash comparison cannot
            # split on the zero sign
            yield pd.DataFrame({id_col: ids, "max_bench_cosine": scores.max(axis=1) + 0.0})

    scored = corpus.select(id_col, vec_col).mapInPandas(part_maxcos, out_schema)
    return scored.select(
        id_col,
        "max_bench_cosine",
        (F.col("max_bench_cosine") >= threshold).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# chunk-level exact dedup with document reconstruction (C4/CCNet line dedup)
# ---------------------------------------------------------------------------
def _doc_chunks(
    docs: DataFrame, id_col: str, text_col: str, chunk_tokens: int
) -> DataFrame:
    """(id, chunk_idx, chunk) fixed-token spans — shared chunking for the
    sub-document dedup family. Whole-stage-codegen array algebra
    (sequence/slice/array_join), zero Python; empty documents are dropped
    before ``sequence`` (sequence(0, -1, n) raises)."""
    toks = docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
        ).alias("__t"),
    ).where(F.size("__t") > 0)  # sequence(0, -1, n) raises on empty docs
    return (
        toks.select(
            id_col,
            F.expr(
                f"explode(transform(sequence(0, size(__t) - 1, {chunk_tokens}), "
                f"s -> struct(CAST(s AS LONG) AS chunk_idx, "
                f"array_join(slice(__t, s + 1, {chunk_tokens}), ' ') AS chunk)))"
            ).alias("c"),
        )
        .select(id_col, "c.chunk_idx", "c.chunk")
        .where(F.col("chunk") != "")
    )


def chunk_dedup_reconstruct(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
) -> DataFrame:
    """Corpus-wide exact dedup at sub-document granularity with document
    RECONSTRUCTION — the C4 "three-sentence span" / CCNet line-dedup shape:
    split every document into fixed ``chunk_tokens`` spans, keep only the
    globally FIRST occurrence of each span (ordered by ``(doc_id,
    chunk_offset)``), and reassemble each document from its surviving spans
    in order. Documents whose every span appeared earlier vanish entirely
    (C4 drops emptied docs). Returns ``(id_col, total_chunks, kept_chunks,
    dedup_text)``.

    100 TB design: first-occurrence is computed as a ``min(struct(doc,
    offset))`` AGGREGATE per span — partial map-side combine absorbs hot
    boilerplate spans (the skew case that would break a window
    ``row_number`` over the span key), then one equi-join on the span text
    marks keepers and one keyed aggregate per doc rebuilds the text. Two
    shuffle keys total (span, doc), both hash-partitioned; chunking itself
    is codegen'd array algebra (sequence/slice/array_join), zero Python."""
    chunks = _doc_chunks(docs, id_col, text_col, chunk_tokens)
    firsts = chunks.groupBy("chunk").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("chunk_idx").alias("i"))).alias("__first")
    )
    marked = chunks.join(firsts, "chunk").withColumn(
        "__keep",
        (F.col("__first.d") == F.col(id_col)) & (F.col("__first.i") == F.col("chunk_idx")),
    )
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).cast("long").alias("kept_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return out.where(F.col("kept_chunks") > 0)


def boilerplate_chunk_removal(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 16,
    max_df: int = 2,
) -> DataFrame:
    """Corpus-frequency boilerplate removal with document RECONSTRUCTION —
    the RefinedWeb / CCNet "remove frequent lines" rule, the complement of
    ``chunk_dedup_reconstruct``: spans that occur in MORE than ``max_df``
    distinct documents are boilerplate (nav bars, license headers, cookie
    banners) and are removed from EVERY document — including the first
    occurrence, which first-occurrence chunk dedup would keep. Documents
    reassemble from their surviving spans in order; fully-emptied docs are
    dropped. Returns ``(id_col, total_chunks, kept_chunks, clean_text)``.

    100 TB design: span document-frequency is one hash aggregate
    (``count(distinct doc)`` per span — spans are distinct per doc by
    construction here, so it is a plain count with map-side partial), the
    boilerplate verdict joins back on the span key, and one keyed aggregate
    per doc rebuilds the text. Same two shuffle keys (span, doc) as
    chunk-dedup; hot boilerplate spans are absorbed by partial aggregation
    rather than skewing a window sort. Reference parity: the anonymizer has
    no sub-document ops (src/Anonymizer.php is row-oriented); this is part
    of the training-data curation surface."""
    chunks = _doc_chunks(docs, id_col, text_col, chunk_tokens)
    span_df = chunks.groupBy("chunk").agg(
        F.count_distinct(F.col(id_col)).alias("__df")
    )
    marked = chunks.join(span_df, "chunk").withColumn(
        "__keep", F.col("__df") <= F.lit(max_df)
    )
    out = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("total_chunks"),
        F.sum(F.when(F.col("__keep"), 1).otherwise(0)).cast("long").alias("kept_chunks"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("__keep"), F.struct("chunk_idx", "chunk"))
                    )
                ),
                lambda x: x["chunk"],
            ),
            " ",
        ).alias("clean_text"),
    )
    return out.where(F.col("kept_chunks") > 0)


# ---------------------------------------------------------------------------
# Bloom-filter decontamination (the no-broadcast-of-raw-shingles scale path)
# ---------------------------------------------------------------------------
def decontaminate_bloom_hits(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    m_bits: int = 1 << 20,
    num_hashes: int = 4,
) -> DataFrame:
    """Per-document count of distinct n-gram shingles that HIT a Bloom
    filter built over the benchmark's shingles — the decontamination path
    for when the benchmark is too large to broadcast raw (``decontaminate``
    caps its broadcast hard): the filter is a CONSTANT-SIZE bitset
    (m_bits/8 bytes) regardless of benchmark size, built in one distributed
    pass (per-partition bitsets OR-combined) and broadcast to a map-only
    corpus probe. Bloom guarantees no false negatives, so per doc
    bloom_hits >= exact_hits always — the theorem the certification query
    gates on. Returns ``(id_col, bloom_hits)`` for every train doc (docs
    with no shingles count 0).

    100 TB design: both passes are map-shaped. Build: shingle -> xxhash64
    JVM-side, bitset OR per partition, bounded driver collect (see
    ``bloom.bits_from_hashes``). Probe: per-doc-distinct shingles ->
    xxhash64 pairs JVM-side -> Arrow-batched vectorized bit test (numpy
    gather, no per-row Python) -> one keyed count per doc. No shuffle ever
    carries shingle strings to a join; the only wide exchange is the final
    per-doc count."""
    bsh = shingles(bench, id_col, text_col, n).select("sh").distinct()
    bits = bloom.bits_from_hashes(
        bsh.select(*bloom.hash_pair(F.col("sh"))), m_bits, num_hashes
    )
    bc = train.sparkSession.sparkContext.broadcast(bits)
    _bloom_hit = bloom.hit_udf(bc, m_bits, num_hashes)

    tsh = shingles(train, id_col, text_col, n)
    probed = (
        tsh.select(F.col("__id"), *bloom.hash_pair(F.col("sh")))
        .withColumn("__hit", _bloom_hit("h1", "h2"))
        .groupBy("__id")
        .agg(F.sum(F.col("__hit").cast("long")).alias("bloom_hits"))
    )
    base = train.select(F.col(id_col).alias("__id")).distinct()
    return (
        base.join(probed, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("bloom_hits"), F.lit(0)).cast("long").alias("bloom_hits"),
        )
    )


def exact_substring_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 12,
) -> DataFrame:
    """Exact-substring dedup — the suffix-array family of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better"): every
    token span of ``min_tokens`` that occurs more than once ANYWHERE in the
    corpus is removed from every occurrence except the globally first
    (ordered by ``(doc, position)``); documents reassemble from their
    surviving tokens, fully-emptied documents vanish. Returns
    ``(id_col, total_tokens, kept_tokens, dedup_text)``.

    Distributed formulation (vs a monolithic suffix array): enumerate
    every ``min_tokens``-gram at every token position — detection is EXACT
    for duplicated substrings of length >= ``min_tokens``: a duplicate of
    L >= W tokens contributes all of its L - W + 1 windows, so the union of
    its non-first duplicated windows covers every token of every non-first
    occurrence, exactly the tokens a suffix-array pass removes. Divergences from the paper, both inherent
    to distribution: (a) "first occurrence" is decided PER WINDOW, so when
    two long duplicates interleave, surviving tokens may be stitched from
    different occurrences — the guarantee is every duplicated W-gram
    survives at least once, not that one contiguous occurrence survives
    whole; (b) substrings shorter than ``min_tokens`` are untouched (the
    paper's 50-BPE-token threshold plays the same role).

    100 TB shape: window count ~= corpus token count (NO pair join and no
    quadratic anywhere): one hash aggregate on the gram key (min-struct
    first-occurrence; map-side partial combine absorbs hot boilerplate
    grams — the skew that breaks a row_number window), one 1:1 join back,
    then removal coverage fans out W positions per duplicated window only
    (the W x cliff is on DUPLICATED volume, not the corpus), one
    (doc, pos) anti-join and one per-doc rebuild aggregate. The shuffle
    key is the gram string itself, bit-exact with the oracle. Reference
    parity: none (src/Anonymizer.php is row-oriented); this is the
    LLM-curation surface.
    """
    toks = docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
        ).alias("__t"),
    ).where(F.size("__t") > 0)
    w = min_tokens
    windows = (
        toks.where(F.size("__t") >= w)
        .select(
            F.col(id_col),
            F.expr(
                f"explode(transform(sequence(0, size(__t) - {w}, 1), "
                f"s -> struct(CAST(s AS LONG) AS pos, "
                f"array_join(slice(__t, s + 1, {w}), ' ') AS gram)))"
            ).alias("c"),
        )
        .select(id_col, "c.pos", "c.gram")
    )
    firsts = windows.groupBy("gram").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("i"))).alias(
            "__first"
        )
    )
    dup_occ = (
        windows.join(firsts, "gram")
        .where(
            ~(
                (F.col("__first.d") == F.col(id_col))
                & (F.col("__first.i") == F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )
    removed = dup_occ.select(
        id_col,
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))).alias("__p"),
    ).distinct()
    tokens = toks.select(
        id_col, F.posexplode(F.col("__t")).alias("__p", "__tk")
    ).withColumn("__p", F.col("__p").cast("long"))
    marked = tokens.join(removed, [id_col, "__p"], "left_anti").withColumn(
        "__keep", F.lit(True)
    )
    # total_tokens must count ALL tokens (kept + removed): rebuild from the
    # kept side joined against per-doc totals, not from the anti-join alone
    totals = toks.select(id_col, F.size("__t").cast("long").alias("total_tokens"))
    kept = marked.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("kept_tokens"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__p", "__tk"))),
                lambda x: x["__tk"],
            ),
            " ",
        ).alias("dedup_text"),
    )
    return totals.join(kept, id_col).select(
        id_col, "total_tokens", "kept_tokens", "dedup_text"
    )


def build_near_dup_index(
    corpus: DataFrame,
    postings_table: str,
    sizes_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_shingle_df: int = 100,
    num_buckets: int = 8,
    postings_path: str | None = None,
    sizes_path: str | None = None,
) -> None:
    """Build the PERSISTED corpus-side index for incremental near-dup
    filtering — the 100 TB fix for ``incremental_near_dup_filter``, which
    recomputes corpus posting lists on every crawl increment (r7 verdict
    item 3): shingle the corpus ONCE, drop shingles whose corpus document
    frequency exceeds ``max_shingle_df`` (the stop-shingle cap, applied at
    BUILD time — the index cannot know future increments, so the cap is a
    property of the index, and candidate fan-out per probe shingle is
    bounded by the cap forever), and persist

      * ``postings_table``: (sh, corpus_id), BUCKETED by ``sh`` — every
        later probe join on ``sh`` plans with NO Exchange on this (the
        big) side; only the small increment shuffles;
      * ``sizes_table``: (corpus_id, n_sh) where n_sh counts the doc's
        shingles THAT SURVIVED the cap — the denominators must live in the
        same universe as the intersections the probe can observe.

    Incremental maintenance is an append of the new crawl's postings into
    the same bucket layout after each accepted batch (bucketBy append
    keeps per-file bucket hashing); rebuild only to re-cap."""
    from mysql_data_anonymizer_spark.sources import bucketing

    sh = shingles(corpus, id_col, text_col, n)
    keep = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") <= max_shingle_df)
        .select("sh")
    )
    post = sh.join(keep, "sh").select("sh", F.col("__id").alias("corpus_id"))
    bucketing.write_bucketed(
        post, postings_table, ["sh"], num_buckets=num_buckets, path=postings_path
    )
    sizes = post.groupBy("corpus_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_sh")
    )
    w = sizes.write.mode("overwrite")
    if sizes_path:
        w = w.option("path", sizes_path)
    w.format("parquet").saveAsTable(sizes_table)


def probe_near_dup_index(
    spark,
    new_docs: DataFrame,
    postings_table: str,
    sizes_table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame]:
    """Probe a persisted near-dup index with a crawl increment: shingle the
    INCREMENT ONLY, equi-join the bucketed postings on ``sh`` (corpus side
    scans its buckets in place — the only Exchange is the increment's),
    count per-(new, corpus) shared shingles, and drop new docs whose
    Jaccard against any indexed doc reaches ``threshold``. Jaccard uses
    the increment doc's FULL distinct-shingle count and the indexed doc's
    capped count from ``sizes_table`` (same universe as the intersections).

    Returns ``(survivors, probe_join)`` — the join DataFrame is exposed so
    callers can assert the co-location property on its executed plan (the
    certified query gates on exactly one Exchange under the join)."""
    post = spark.table(postings_table)
    nsh = shingles(new_docs, id_col, text_col, n).withColumnRenamed("__id", "new_id")
    # merge hint pins the sort-merge co-bucket plan: a broadcast of the
    # increment would also leave the corpus unshuffled, but the gate
    # asserts the layout property, so keep the plan deterministic
    probe_join = post.hint("merge").join(nsh, "sh")
    inter = probe_join.groupBy("new_id", "corpus_id").agg(
        F.count(F.lit(1)).alias("__inter")
    )
    nsize = nsh.groupBy("new_id").agg(F.count(F.lit(1)).alias("__nn"))
    csize = spark.table(sizes_table)
    dup_new = (
        inter.join(nsize, "new_id")
        .join(csize, "corpus_id")
        .where(
            F.col("__inter").cast("double")
            / (F.col("__nn") + F.col("n_sh") - F.col("__inter")).cast("double")
            >= threshold
        )
        .select(F.col("new_id").alias(id_col))
        .distinct()
    )
    survivors = new_docs.join(F.broadcast(dup_new), id_col, "left_anti")
    return survivors, probe_join
