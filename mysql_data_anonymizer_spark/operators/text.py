"""Text-analysis operators for LLM training-data pipelines.

All hot-path logic is built-in Column expressions (JVM-side, codegen'd) —
no Python UDFs — so these run at scan speed on 100 TB: each is a pure
per-row map, no shuffle, filters/projections push down to the parquet scan.

Every operator here has a DuckDB-SQL twin in ``__spark_entry__.oracle_sql``
(functions restricted to the common subset: split/regexp/md5/length).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mysql_data_anonymizer_spark.session import pin

# marker stopwords per language for the n-gram/stopword language heuristic;
# chosen to be unambiguous across the fixture languages
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "is"],
    "de": ["der", "und", "die", "nicht"],
    "es": ["el", "que", "los", "una"],
    "fr": ["le", "les", "une", "est"],
    "zh": ["de", "shi", "bu", "le"],
}

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "for"]


def _let(val: Column, body) -> Column:
    """Evaluate ``val`` exactly once per row and feed it to ``body`` as a
    cheap lambda variable — a poor-man's let-binding.

    Why this exists: Catalyst's PushPredicateThroughNonJoin substitutes a
    projected alias's *expression* into a pushed filter unconditionally
    (no cost check, unlike CollapseProject). A predicate like
    ``dup_ngram_fraction(split(text), 3) <= t`` therefore ends up with the
    ``split`` inlined into every ``element_at`` inside the n-gram lambda —
    re-tokenizing the document once per gram reference, O(tokens^2) per
    row (measured 70x on the curation pipeline). Wrapping the expensive
    array as the INPUT of a single-element ``transform`` forces one
    evaluation; the body only touches the bound lambda variable."""
    return F.element_at(F.transform(F.array(F.struct(val.alias("v"))), lambda s: body(s["v"])), 1)


def tokens(text: Column) -> Column:
    """Whitespace tokenization (lowercased)."""
    return F.split(F.lower(text), r"\s+")


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank text."""
    trimmed = F.trim(text)
    return F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: runs of word chars, digits, or single
    punctuation — a cheap regex proxy for BPE token counts."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0))


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are sentence punctuation."""
    n_punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    return n_punct / F.greatest(F.length(text), F.lit(1))


def stopword_count(text: Column, words: list[str] | None = None) -> Column:
    pat = r"\b(" + "|".join(words or EN_STOPWORDS) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))


def quality_score(text: Column) -> Column:
    """Heuristic [0,1] quality: length band + stopword presence - punctuation
    excess. Mirrors the length/punct/stopword-ratio features used in web-scale
    corpus filtering (e.g. C4/Gopher rules)."""
    n_tok = token_count(text).cast("double")
    sw_ratio = stopword_count(text).cast("double") / F.greatest(n_tok, F.lit(1.0))
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_penalty = F.least(punct_ratio(text) * F.lit(4.0), F.lit(1.0))
    raw = F.lit(0.5) * len_score + F.lit(0.5) * F.least(
        sw_ratio * F.lit(5.0), F.lit(1.0)
    ) - F.lit(0.25) * punct_penalty
    return F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0))


HASHED_QUALITY_DIM = 1 << 18  # feature-hashing buckets (the fasttext default ballpark)


def _hex_u32(digest: Column, start: int = 1) -> Column:
    """8 hex digits of an md5 hex ``digest`` (positions ``start`` ..
    ``start+7``) as a long in [0, 2^32) — the engine-side twin of
    queries._sql_md5_u32."""
    return F.conv(F.substring(digest, start, 8), 16, 10).cast("long")


def _md5_u32(col: Column) -> Column:
    """First 8 hex digits of md5(col) as a long in [0, 2^32)."""
    return _hex_u32(F.md5(col))


def hashed_quality_features(
    text: Column, dim: int = HASHED_QUALITY_DIM, seed: str = "qw9"
) -> Column:
    """Hashed-linear quality scoring — the MODEL-BASED corpus filter shape
    (fastText / DCLM / fineweb-edu classifiers) that complements the
    heuristic ``quality_score``: tokens hash into ``dim`` buckets (the
    hashing trick — colliding tokens SHARE a weight, which is what makes
    the feature space bounded at any vocabulary size) and the document
    score is the mean bucket weight.

    Weights here are a DETERMINISTIC keyed stand-in, w(f) =
    (u32(md5(seed:f)) mod 2001) - 1000 in [-1000, 1000] (no labeled data
    ships with this repo, and a real model's .bin is an artifact, not
    code); production swaps the w() lambda for a broadcast weight array
    loaded from a trained model — every other part of the plan (tokenize,
    hash, aggregate, threshold) is exactly what the real filter runs.

    Returns a struct (n_tokens long, w_sum long): the weight sum is EXACT
    integer arithmetic (the repo's cross-engine discipline — the score is
    one IEEE division of exact ints done by the caller), and the keep
    decision can be taken on integers alone (w_sum >= 0). Map-only: one
    whole-stage-codegen projection per row, zero shuffle, zero Python —
    at 100 TB this is a pure scan stage riding whatever else reads the
    corpus."""
    def _features(tk: Column) -> Column:
        def w(t: Column) -> Column:
            f = _md5_u32(t) % F.lit(dim)
            return (
                _md5_u32(F.concat(F.lit(f"{seed}:"), f.cast("string"))) % F.lit(2001)
            ) - F.lit(1000)

        return F.struct(
            F.size(tk).cast("long").alias("n_tokens"),
            F.aggregate(
                F.transform(tk, w), F.lit(0).cast("long"), lambda a, v: a + v
            ).alias("w_sum"),
        )

    # trim+lower+split+drop-empties: the corpus-wide tokenization contract
    # every oracle in this repo replays (vocab_top_terms etc.)
    toks = F.filter(
        F.split(F.trim(F.lower(text)), r"\s+"), lambda t: F.length(t) > 0
    )
    # _let: bind the token array once — predicate pushdown would otherwise
    # inline the split() into every lambda reference (see _let docstring)
    return _let(toks, _features)


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-vote score per candidate language."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        pat = r"\b(" + "|".join(markers) + r")\b"
        out[lang] = F.size(F.regexp_extract_all(F.lower(text), F.lit(pat), 0))
    return out


def lang_pred_from_scores(scores: dict[str, Column]) -> Column:
    """argmax over per-language score columns; earliest language in dict
    order wins ties; all-zero -> 'und'.

    IMPORTANT: pass cheap *column references* (precompute the scores in a
    prior projection). Building this directly over regexp expressions
    duplicates them combinatorially in the CASE chain — measured 400x
    slower (the when/otherwise fold doubles each referenced expression)."""
    langs = list(scores)
    all_zero = None
    for s in scores.values():
        all_zero = (s == 0) if all_zero is None else (all_zero & (s == 0))
    expr = F.lit(langs[-1])
    for i in range(len(langs) - 2, -1, -1):
        lang = langs[i]
        cond = None
        for rest in langs[i + 1 :]:
            c = scores[lang] >= scores[rest]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return F.when(all_zero, F.lit("und")).otherwise(expr)


def lang_id(text: Column) -> Column:
    """Standalone predicted-language expression. For bulk profiling prefer
    ``analyze`` (phased projection; see lang_pred_from_scores)."""
    return lang_pred_from_scores(lang_scores(text))


def fingerprint(text: Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted set of
    lowercased tokens — the classic 'fingerprint' key for clustering
    near-identical documents that differ only in token order/duplication."""
    toks = F.array_sort(F.array_distinct(F.split(F.trim(F.lower(text)), r"\s+")))
    return F.md5(F.concat_ws(" ", toks))


def winnowing_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al.): hash every k-gram shingle,
    slide a window of ``window`` consecutive shingle hashes, keep each
    window's minimum — the distinct minima are the document's fingerprint
    set. Robust to local edits (an edit only perturbs nearby windows), the
    standard scheme behind plagiarism/near-dup detection at corpus scale.

    All JVM-side: shingle positions come from posexplode, window minima from
    a (doc, position)-ordered sliding frame — partitioned by doc, so the
    window parallelizes across documents. Hashes are md5-hex (lexicographic
    min == uniform min), reproducible in the DuckDB oracle."""
    toks_df = df.select(
        F.col(id_col).alias("__id"),
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__toks"),
    )
    pos = toks_df.select(
        "__id", F.posexplode(_ordered_shingles(F.col("__toks"), k)).alias("pos", "sh")
    )
    hashed = pos.select("__id", "pos", F.md5(F.col("sh")).alias("h"))
    w = (
        Window.partitionBy("__id")
        .orderBy("pos")
        .rowsBetween(0, window - 1)
    )
    mins = hashed.select(
        "__id",
        F.min("h").over(w).alias("fp"),
        F.col("pos"),
        F.count(F.lit(1)).over(Window.partitionBy("__id")).alias("__n_sh"),
    ).where(F.col("pos") <= F.col("__n_sh") - window)  # only full windows
    return mins.select(F.col("__id").alias(id_col), "fp").distinct()


def _ordered_shingles(toks, n: int):
    """Positional (non-distinct) n-gram shingles of a token-array column."""
    idx = F.when(F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)])
    )


def analyze(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Text profile: tokens, quality, lang, fingerprint.

    Two-phase projection: phase 1 evaluates each regexp feature exactly once
    per row; phase 2 combines them (quality score, lang argmax) from column
    references. Catalyst keeps the split because the phase-1 outputs are
    referenced repeatedly (CollapseProject skips non-cheap multi-use exprs).
    Doubles are left unrounded: the DuckDB oracle mirrors the exact op
    sequence, so values are bit-identical; rounding is what would diverge."""
    t = F.col(text_col)
    feat = df.select(
        F.col(id_col),
        token_count(t).cast("long").alias("n_tokens"),
        bpe_ish_token_count(t).cast("long").alias("n_subword_tokens"),
        punct_ratio(t).alias("punct_ratio"),
        stopword_count(t).cast("long").alias("__n_stop"),
        *[expr.alias(f"__s_{lang}") for lang, expr in lang_scores(t).items()],
        fingerprint(t).alias("fingerprint"),
    )
    n_tok = F.col("n_tokens").cast("double")
    sw_ratio = F.col("__n_stop").cast("double") / F.greatest(n_tok, F.lit(1.0))
    len_score = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_penalty = F.least(F.col("punct_ratio") * F.lit(4.0), F.lit(1.0))
    raw = (
        F.lit(0.5) * len_score
        + F.lit(0.5) * F.least(sw_ratio * F.lit(5.0), F.lit(1.0))
        - F.lit(0.25) * punct_penalty
    )
    quality = F.greatest(F.least(raw, F.lit(1.0)), F.lit(0.0))
    lang_pred = lang_pred_from_scores({lang: F.col(f"__s_{lang}") for lang in LANG_MARKERS})
    return feat.select(
        F.col(id_col),
        "n_tokens",
        "n_subword_tokens",
        "punct_ratio",
        quality.alias("quality"),
        lang_pred.alias("lang_pred"),
        "fingerprint",
    )


def _word_grams(toks: Column, n: int) -> Column:
    """ALL word n-grams (with repeats — repetition metrics need the
    multiset; ``dedup.shingle_expr`` is the distinct variant). Same
    element_at pattern: O(1) per gram, empty array below n tokens."""
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(0), F.size(toks) - F.lit(n))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + F.lit(j + 1)) for j in range(n)]),
    )


def dup_ngram_fraction(toks: Column, n: int) -> Column:
    """``1 - distinct_ngrams/total_ngrams`` over a token-array column
    (0.0 below n tokens) — the per-row repetition predicate, usable
    directly in a filter without materializing the stats frame."""
    def frac(g: Column) -> Column:
        total = F.size(g)
        return F.when(
            total > 0,
            F.lit(1.0)
            - F.size(F.array_distinct(g)).cast("double") / total.cast("double"),
        ).otherwise(F.lit(0.0))

    # double let-binding: tokenization evaluated once even when an upstream
    # alias is inlined by predicate pushdown, and the gram array evaluated
    # once even though the fraction references it twice (size + distinct).
    return _let(toks, lambda t: _let(_word_grams(t, n), frac))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Within-document repetition signals in the style of the Gopher data
    pipeline (Rae et al. 2021, "Scaling Language Models", Table A1):
    fraction of duplicate word n-grams per document. Boilerplate, scraped
    navigation, and degenerate generations all show up as high duplicate
    fractions; training pipelines threshold on them.

    ``dup_{n}gram_frac = 1 - distinct_ngrams / total_ngrams`` (0.0 for
    documents with fewer than n tokens). Everything is array HOFs on the
    token array — a pure per-row map stage, NO shuffle, so at 100 TB this
    runs at scan speed like the rest of this module. Ratios are raw doubles
    of exact int/int divisions (IEEE-identical cross-engine, same
    discipline as the jaccard operators)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    out = df.select(F.col(id_col), toks.alias("__toks"))
    return out.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        dup_ngram_fraction(F.col("__toks"), 1).alias("dup_word_frac"),
        dup_ngram_fraction(F.col("__toks"), 2).alias("dup_2gram_frac"),
        dup_ngram_fraction(F.col("__toks"), 3).alias("dup_3gram_frac"),
    )


def nfc_normalize(text: Column) -> Column:
    """Unicode NFC normalization — the canonical-composition prep step
    BEFORE any hash-keyed dedup/fingerprinting: 'cafe\\u0301' (decomposed)
    and 'café' (composed) are byte-different, so they evade exact dedup,
    shingle hashing, and MinHash signatures while being the same text to a
    reader. Real crawl corpora mix both forms freely.

    Spark has no built-in Unicode normalizer, so this is an Arrow-batched
    pandas UDF over Python's unicodedata (the reference NFC
    implementation); DuckDB's nfc_normalize implements the same Unicode
    standard, which is what makes the operator exactly oracle-able. NULL
    passes through as NULL."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        import pandas as pd

        return pd.Series(
            [None if v is None else unicodedata.normalize("NFC", v) for v in s]
        )

    return _nfc(text)


# ---------------------------------------------------------------------------
# BPE tokenizer training (merge-step iteration)
# ---------------------------------------------------------------------------
_BPE_SENTINEL = "\x01"  # below every post-ASCII-projection symbol char


def _bpe_apply_merge(w: Column, left: Column, right: Column) -> Column:
    """Apply ONE BPE merge (left, right) greedily left-to-right over a
    space-separated symbol string — the exact single-pass semantics of
    Sennrich et al. 2016's reference implementation: scanning resumes
    AFTER a merged pair, so in a run ``a a a`` only the first pair merges
    (``aa a``). Implemented as a string fold (``aggregate`` with a VARCHAR
    accumulator seeded by a sentinel symbol) because the accumulator and
    elements share a type in both engines — DuckDB's ``list_reduce`` has
    no initial-value form, so the DuckDB oracle replays the IDENTICAL
    sentinel construction. The sentinel (chr 1) cannot collide: symbols
    are ASCII-projected to [space..tilde] upstream."""

    def step(acc: Column, x: Column) -> Column:
        last = F.regexp_extract(acc, "([^ ]*)$", 1)
        return F.when(
            (last == left) & (x == right),
            F.concat(
                acc.substr(F.lit(1), F.length(acc) - F.length(last)), left, right
            ),
        ).otherwise(F.concat(acc, F.lit(" "), x))

    folded = F.aggregate(F.split(w, " "), F.lit(_BPE_SENTINEL), step)
    return folded.substr(F.lit(3), F.length(folded))


def bpe_merge_steps(
    docs: DataFrame,
    text_col: str = "text",
    k_merges: int = 6,
) -> DataFrame:
    """Distributed BPE tokenizer training, the first ``k_merges`` merge
    steps (Sennrich et al. 2016): word counts -> symbols start as
    characters -> repeat K times {count adjacent symbol pairs weighted by
    word frequency; merge the most frequent pair everywhere}. Returns the
    trained merge table ``(step, left_sym, right_sym, pair_count)`` — the
    artifact a tokenizer ships. Deterministic tie-break: highest count,
    then (left, right) lexicographic — encoded as one ``min(struct(-cnt,
    left, right))`` aggregate so ties never depend on partitioning.

    Same unrolled-iteration shape as PageRank: all counts are exact
    BIGINTs; each step is one keyed shuffle (pair-count aggregate over
    the WORD table, which is vocabulary-sized — the corpus itself is
    touched once, by the word-count aggregate) plus a 1-row broadcast
    crossJoin carrying the chosen pair into the merge application (a
    codegen string fold, no Python). The small word table is pinned
    (``session.pin``) before each step — K nested HOF folds otherwise stack
    into one deep Catalyst plan (the r7 plan-compile lesson). Words are
    ASCII-projected so char splitting is codepoint-identical in both
    engines. 100 TB shape: the iteration runs on the word-count dict
    (|vocab| rows), never on the corpus."""
    words = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                    lambda t: t != "",
                )
            ).alias("__word")
        )
        .select(F.regexp_replace("__word", "[^ -~]", "?").alias("__word"))
        .groupBy("__word")
        .agg(F.count(F.lit(1)).cast("long").alias("__freq"))
        .select(
            F.array_join(F.split("__word", ""), " ").alias("__w"), "__freq"
        )
    )
    merges = []
    for k in range(1, k_merges + 1):
        words = pin(words)
        syms = F.split(F.col("__w"), " ")
        pair_structs = F.when(
            F.size(syms) >= 2,
            F.transform(
                F.sequence(F.lit(0), F.size(syms) - 2),
                lambda i: F.struct(
                    F.element_at(syms, i + 1).alias("pl"),
                    F.element_at(syms, i + 2).alias("pr"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<pl:string,pr:string>>"))
        pairs = (
            words.select(F.explode(pair_structs).alias("p"), "__freq")
            .groupBy("p.pl", "p.pr")
            .agg(F.sum("__freq").cast("long").alias("cnt"))
        )
        best = pairs.agg(
            F.min(
                F.struct((-F.col("cnt")).alias("nc"), F.col("pl"), F.col("pr"))
            ).alias("b")
        ).select(
            F.lit(k).cast("long").alias("step"),
            F.col("b.pl").alias("left_sym"),
            F.col("b.pr").alias("right_sym"),
            (-F.col("b.nc")).cast("long").alias("pair_count"),
        )
        merges.append(best)
        words = words.crossJoin(F.broadcast(best)).select(
            _bpe_apply_merge(
                F.col("__w"), F.col("left_sym"), F.col("right_sym")
            ).alias("__w"),
            "__freq",
        )
    out = merges[0]
    for m in merges[1:]:
        out = out.unionByName(m)
    return out


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a TRAINED BPE merge list to a corpus — the tokenization pass
    of a pretraining pipeline (the artifact `bpe_merge_steps` produces,
    consumed): every word splits into characters and the merges replay in
    rank order with the same greedy left-to-right fold as training.
    Returns per-document ``(id_col, n_words, n_sym_chars, n_tokens)`` —
    words, pre-merge symbol count, and post-merge token count (the number
    a token-budget packer bills).

    Scale shape: the fold runs per DISTINCT word (one distinct + one
    keyed join-back — vocabulary-sized fold work, not corpus-sized), the
    merge list itself is a tiny driver-side literal list (K rows by
    construction, the ANN query-set precedent). Documents with no tokens
    are dropped (nothing to bill). ASCII projection keeps char splitting
    codepoint-identical across engines."""
    wd = docs.select(
        F.col(id_col),
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("__word"),
    ).select(id_col, F.regexp_replace("__word", "[^ -~]", "?").alias("__word"))
    dw = wd.select("__word").distinct()
    w: Column = F.array_join(F.split("__word", ""), " ")
    for a, b in merges:
        if a is None or b is None:
            continue  # degenerate training input (no pairs) trains no merge
        w = _bpe_apply_merge(w, F.lit(a), F.lit(b))
    enc = dw.select(
        "__word",
        F.size(F.split(w, " ")).cast("long").alias("__n_tok"),
    )
    return (
        wd.join(enc, "__word")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(F.length("__word")).cast("long").alias("n_sym_chars"),
            F.sum("__n_tok").cast("long").alias("n_tokens"),
        )
    )


def mlm_mask_examples(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    mask_pct: int = 15,
    seed: str = "mlm1",
    mask_token: str = "<mask>",
) -> DataFrame:
    """MLM training-example construction (BERT-style): a DETERMINISTIC
    ``mask_pct``% of each document's token positions are replaced by
    ``mask_token`` in the input; the masked originals (in position order)
    become the target. The mask decision is the repo's standard hash gate
    — ``u32(md5(seed:doc:pos)) % 100 < pct`` — so examples are
    reproducible, partitioning-invariant, and re-derivable for any epoch
    by changing ``seed`` (a seeded RNG would re-deal on every repartition;
    the r5 sampling lesson). Position, not content, is hashed: repeated
    tokens mask independently.

    Scale shape: pure per-row Column algebra over the token array
    (transform/filter/array_join) — zero Python, zero shuffle, runs at
    scan speed; this is a map stage of the pretraining input pipeline.
    Returns ``(id_col, n_tokens, n_masked, input_text, target_text)``;
    docs with no tokens are dropped (nothing to train on)."""
    toks = docs.select(
        F.col(id_col),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
        ).alias("__t"),
    ).where(F.size("__t") > 0)

    def gate(i: Column) -> Column:
        return (
            _md5_u32(
                F.concat(
                    F.lit(f"{seed}:"),
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                )
            )
            % 100
            < F.lit(mask_pct)
        )

    idx = F.sequence(F.lit(1), F.size("__t"))
    return toks.select(
        id_col,
        F.size("__t").cast("long").alias("n_tokens"),
        F.size(F.filter(idx, gate)).cast("long").alias("n_masked"),
        F.array_join(
            F.transform(
                idx,
                lambda i: F.when(gate(i), F.lit(mask_token)).otherwise(
                    F.element_at(F.col("__t"), i)
                ),
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.transform(F.filter(idx, gate), lambda i: F.element_at(F.col("__t"), i)),
            " ",
        ).alias("target_text"),
    )


def pack_sequences(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_len: int = 512,
    n_shards: int = 8,
    seed: str = "pack1",
) -> DataFrame:
    """GPT-style contiguous sequence packing: documents are concatenated
    (deterministic order) and sliced into fixed ``seq_len``-token training
    sequences, documents SPLITTING across sequence boundaries — the
    standard causal-LM input layout (vs ``pack_docs_token_bins``' whole-doc
    bin packing). Packing is per SHARD (hash gate on the doc id, the
    shard_training_corpus discipline) because a single global concatenation
    order is a serial scan by definition; within a shard docs concatenate
    in ``id_col`` order. Returns one row per (shard, seq_no):
    ``n_tokens_seq`` (== seq_len except each shard's tail), ``n_docs``
    contributing, and the first/last contributing doc ids.

    100 TB shape: NO token materialization — each doc computes its token
    interval [offset, offset+n) from one per-shard cumulative-sum window
    (ordered by id, rows-preceding frame), then fans out one row per
    TOUCHED sequence (interval arithmetic: ceil(n/seq_len)+1 rows per doc,
    not n rows), and one keyed aggregate per (shard, seq_no) — map-side
    combinable. The per-shard window is the only sort; shards bound its
    width, and n_shards is the parallelism knob."""
    base = docs.select(
        F.col(id_col),
        F.size(
            F.filter(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
            )
        )
        .cast("long")
        .alias("__n"),
    ).where(F.col("__n") > 0)
    shard = (
        _md5_u32(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
        % n_shards
    ).alias("shard")
    base = base.select(id_col, "__n", shard)
    w = Window.partitionBy("shard").orderBy(F.col(id_col).asc())
    off = F.coalesce(
        F.sum("__n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0).cast("long"),
    )
    spans = base.select(
        id_col,
        "shard",
        "__n",
        off.alias("__off"),
    ).select(
        id_col,
        "shard",
        "__n",
        "__off",
        # BIGINT `DIV`, not floor(double /): double division flattens above
        # 2^53 tokens per shard, silently mis-numbering sequences (r8 ADVICE)
        F.explode(
            F.sequence(
                F.expr(f"__off DIV {int(seq_len)}").cast("long"),
                F.expr(f"(__off + __n - 1) DIV {int(seq_len)}").cast("long"),
            )
        ).alias("seq_no"),
    )
    tokens_here = F.least(
        F.lit(seq_len).cast("long") * (F.col("seq_no") + 1),
        F.col("__off") + F.col("__n"),
    ) - F.greatest(F.lit(seq_len).cast("long") * F.col("seq_no"), F.col("__off"))
    return (
        spans.withColumn("__tok", tokens_here)
        .groupBy("shard", "seq_no")
        .agg(
            F.sum("__tok").cast("long").alias("n_tokens_seq"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).alias("first_doc_id"),
            F.max(id_col).alias("last_doc_id"),
        )
    )


_SOUNDEX_FROM = "AEIOUYBFPVCGJKQSXZDTLMNR"
_SOUNDEX_TO = "000000111122222222334556"


def soundex_expr(col: Column) -> Column:
    """American Soundex as explicit Column algebra — deliberately NOT
    Spark's builtin ``F.soundex``: the oracle engine has no soundex, so
    both engines run THIS construction and the code is certified
    bit-for-bit rather than trusted to two implementations' edge cases.
    Standard rules including the H/W transparency (same-code letters
    separated by H or W merge; separated by a vowel they do not): the
    first letter is kept, the tail drops H/W then maps through the code
    table, the first letter's own code is prepended so a same-code run
    crossing it collapses (Pfister -> P236), adjacent duplicate digits
    collapse, the leading code group is dropped, vowel zeros vanish, and
    the result pads to letter + 3 digits. Verified against the classic
    vectors (Robert/Rupert R163, Ashcraft A261, Tymczak T522, Honeyman
    H555, Washington W252). Non-ASCII/non-alpha strips first; empty ->
    NULL. Pure codegen string ops, zero Python."""
    up = F.upper(F.regexp_replace(col.cast("string"), "[^A-Za-z]", ""))
    first = F.substring(up, 1, 1)
    tail = F.substr(up, F.lit(2), F.length(up))
    coded = F.concat(
        F.translate(first, _SOUNDEX_FROM, _SOUNDEX_TO),
        F.translate(F.translate(tail, "HW", ""), _SOUNDEX_FROM, _SOUNDEX_TO),
    )
    collapsed = F.regexp_replace(coded, r"(\d)\1+", "$1")
    rest = F.substr(collapsed, F.lit(2), F.length(collapsed))
    digits = F.translate(rest, "0", "")
    sx = F.concat(first, F.rpad(F.substring(digits, 1, 3), 3, "0"))
    return F.when(F.length(up) > 0, sx)
