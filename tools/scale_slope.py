"""Scaling-slope harness: measure the heaviest operator families at two
scale points ABOVE the bench sf (sf0.1) and record wall-clock growth.

The driver fixtures stop at sf0.1 (5k documents / 2k embeddings), which is
enough for correctness but says nothing about the *slope* — whether a family
grows ~linearly (healthy: scan/shuffle-bound with bounded per-key work) or
super-linearly (a 100 TB red flag). This tool derives 5x and 10x slices from
the sf0.1 tables (under .scaledata/, inside the repo — /root/testdata is
read-only) and times each family exactly like bench.py: on ``get_spark``'s
default master, sf0.001 warm-up first, cache cleared between runs, and the
median of ``bench._REPS`` runs reported per family and scale point.

Derivation preserves workload shape instead of inflating it:
  - documents: K copies; copy k>0 prefixes every token with ``c<k>·`` so the
    within-copy duplicate/shingle structure is replicated exactly while NO
    cross-copy shingles collide -> dup pairs, posting lists, and signature
    work all scale by K, not K^2.
  - embeddings: K copies; copy k>0 deterministically flips the sign of
    every dim where (dim + k) % 5 == 0 — norms preserved, directions
    de-correlated, so the near-dup pair population stays ~K-proportional
    (a handful of cross-copy pairs may still cross the 0.4 threshold;
    fine — the workload just has to stay pair-bounded).

Usage: python tools/scale_slope.py [--families f1,f2] [--scales 5,10]
Emits a markdown table on stdout (paste into SCALE.md).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import _REPS, _host_snapshot  # noqa: E402
from mysql_data_anonymizer_spark.session import get_spark, release  # noqa: E402

BASE = "/root/testdata/sf0.1"
WARM = "/root/testdata/sf0.001"
OUT_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaledata")

# the families the 100 TB story leans on (VERDICT r3 'Next round' #4)
FAMILIES = [
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_clusters",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "semdedup_embeddings",
    "dedup_embedding_cosine",
    "knn_brute_force",
    "knn_matmul",
    "knn_lsh",
    "knn_ivf",
    "knn_pq",
    "dedup_chunks_reconstruct",
    "decontaminate_semantic_embeddings",
    "curate_corpus_pipeline",
    "text_winnowing",
    "pretraining_pipeline_e2e",
    # production IVF SemDeDup path (no exact twin), n_cells grown with the
    # corpus — the remedy SCALE.md prescribes for sign-bucket SemDeDup's
    # fixed-bucket quadratic growth, measured instead of claimed
    # (VERDICT r4 #5): x1 -> 16 cells, x5 -> 80, x10 -> 160.
    "semdedup_ivf_prod",
    # round-6 additions (documents/embeddings-only, so slice-compatible)
    "dedup_ngram_containment",
    "dedup_boilerplate_chunks",
    "decontaminate_bloom_ngrams",
    "split_leakage_safe",
    "knn_sq8",
    # round-6 additions
    "knn_ivfpq",
    "bm25_term_scores",
    # round-7 additions (VERDICT r6 #5): the streaming family. The Kx
    # events slice multiplies USER cardinality at unchanged time range, so
    # what is being measured is exactly the 100 TB streaming question —
    # does watermarked state (keys x windows) grow linearly in keys while
    # wall-clock stays scan-bound? Micro-batch machinery is a fixed cost,
    # so healthy rows show slope << K.
    "streaming_tumbling_agg",
    "streaming_session_agg",
    "streaming_stateful_user_totals",
    "streaming_ohlc_window_agg",
    "streaming_update_mode_agg",
    "streaming_stream_left_join",
    # round-7 additions (documents/embeddings-only, slice-compatible):
    # model-shaped quality scoring (map-only — slope should be ~K of scan),
    # temperature mix (tiny agg + broadcast gate), hybrid RRF (two
    # broadcast-query rankers + bounded fusion), quality-aware dedup
    # (pairs + CC + one keyed window), CCNet LM bucketing (two ref aggs +
    # count-table joins over the exploded bigram stream)
    "quality_classifier_scores",
    "mix_temperature_sample",
    "hybrid_search_rrf",
    "dedup_keep_best_quality",
    "ccnet_perplexity_buckets",
    # lineitem slice (K disconnected co-purchase graphs): iterative graph
    # centrality — K x nodes and edges, per-copy structure unchanged
    "pagerank_copurchase_parts",
    # round-9 additions: skip-gram pair counts + KN continuation counts
    # (documents — token explode + keyed aggs, slope should be ~K of scan),
    # degree-ordered triangle counting (lineitem — K disconnected graphs,
    # wedge work per copy unchanged), greedy k-center (embeddings — k
    # distributed argmax passes, slope ~K), exact-integer EWMA (events —
    # K x users at unchanged window width, one bounded keyed window)
    "skipgram_pairs_docs",
    "kneser_ney_bigram_counts",
    "triangle_count_copurchase",
    "kcenter_coreset_embeddings",
    "ewma_user_events",
    # events — x B map-side explode + keyed aggs; slope should be ~K
    "bootstrap_ci_events",
    # documents — novelty: bigram explode + first-occurrence agg, slope ~K
    "doc_novelty_bigrams",
    # documents — incremental CC: pairs + two label propagations; slope ~K
    "cc_incremental_merge",
    # round-10 additions: KN-smoothed document scoring (documents — ref
    # count aggs + keyed SMJs over the corpus bigram stream; slope ~K of
    # the explode, count tables Heaps-sub-linear) and temperature mixture
    # weights (documents — one keyed token agg, |domains|-row tail; slope
    # ~K of scan)
    "kn_perplexity_docs",
    "mixture_alpha_weights",
    # token-count aggs + vocab-keyed drift joins; slope ~K of the explode
    "corpus_drift_tvd",
    # lineitem slice (K disconnected graphs): 6 peel rounds, per-round
    # keyed agg + 2 semi-joins over the shrinking edge set; slope ~K
    "kcore_copurchase_parts",
    # increment-only text scan + vocab-sized count merge; slope ~K of the
    # increment (the base index is amortized by memoization)
    "drift_incremental_merge",
    # round-11 additions: full Lloyd loop (embeddings — per round one
    # broadcast-K crossJoin assignment + one (cluster, dim) keyed mean agg
    # over the pinned quantized vectors; slope ~K per round) and the ANN
    # recall report (all six method pipelines back to back over the same
    # slice; slope tracks the knn family's)
    "kmeans_lloyd_embeddings",
    "knn_recall_report",
    # persisted-centroid incremental assignment: one broadcast-K pass over
    # the increment only; slope ~K of the increment scan
    "kmeans_incremental_assign",
    # round-12 additions: unified-trainer IVF (embeddings — index build is
    # one assignment pass + partitioned write, probe reads |Q|*nprobe
    # cells + the exact matmul twin; slope tracks the knn family), the
    # hashed-ngram logistic scorer (documents — ~2x-token explode + 64-row
    # broadcast join + per-doc agg; slope ~K of the scan), and the
    # watermarked streaming twins (events/documents — micro-batch fixed
    # cost + watermark-bounded state; healthy rows show slope << K)
    "knn_ivf_kmeans_indexed",
    "quality_score_docs",
    "streaming_ewma_user_wm",
    "streaming_dedup_index_probe_wm",
]


def _semdedup_ivf_prod(spark, sf_dir: str, k: int):
    """Run dedup.semantic_dedup_ivf directly (cluster-local pairs only, no
    certification twin) with n_cells proportional to the corpus slice."""
    from mysql_data_anonymizer_spark.operators import dedup
    from mysql_data_anonymizer_spark.sources import files

    emb = files.read_table(spark, f"{sf_dir}/embeddings.parquet", table_name="embeddings")
    return dedup.semantic_dedup_ivf(emb, threshold=0.4, n_cells=16 * k)


def build_slice(spark, k: int) -> str:
    """Materialize the Kx slice (documents + embeddings only — these
    families touch no other table). Idempotent: skips if present."""
    out = os.path.join(OUT_ROOT, f"x{k}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        # events were added in r7: upgrade pre-existing slices in place
        if not os.path.exists(os.path.join(out, "_COMPLETE_EVENTS")):
            _build_events_slice(k, out)
        if not os.path.exists(os.path.join(out, "_COMPLETE_LINEITEM")):
            _build_lineitem_slice(k, out)
        return out
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_docs = docs.agg(F.max("doc_id")).first()[0] + 1
    n_vecs = emb.agg(F.max("vec_id")).first()[0] + 1

    doc_parts = []
    for c in range(k):
        d = docs.select(
            (F.col("doc_id") + F.lit(c * n_docs)).alias("doc_id"),
            (
                F.col("text")
                if c == 0
                else F.regexp_replace(F.col("text"), r"(\S+)", f"c{c}·$1")
            ).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
        doc_parts.append(d)
    big_docs = doc_parts[0]
    for d in doc_parts[1:]:
        big_docs = big_docs.unionByName(d)
    big_docs.repartition(32).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    emb_parts = []
    for c in range(k):
        flip = F.expr(
            "transform(embedding, (v, i) -> "
            f"CASE WHEN (i + {c}) % 5 = 0 AND {c} > 0 THEN -v ELSE v END)"
        )
        e = emb.select(
            (F.col("vec_id") + F.lit(c * n_vecs)).alias("vec_id"),
            flip.alias("embedding"),
            "label",
        )
        emb_parts.append(e)
    big_emb = emb_parts[0]
    for e in emb_parts[1:]:
        big_emb = big_emb.unionByName(e)
    big_emb.repartition(32).write.mode("overwrite").parquet(f"{out}/embeddings.parquet")
    _build_events_slice(k, out)
    _build_lineitem_slice(k, out)
    open(marker, "w").close()
    return out


def _build_lineitem_slice(k: int, out: str) -> None:
    """lineitem: K copies with l_orderkey AND l_partkey offset by the copy
    index — the co-purchase graph becomes K disconnected copies (K x the
    nodes and edges, per-order pair structure unchanged), so the PageRank
    slope measures linear graph growth, not quadratic cross-copy
    collisions."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{BASE}/lineitem.parquet")
    n_ord = 1 + pc.max(tbl.column("l_orderkey")).as_py()
    n_part = 1 + pc.max(tbl.column("l_partkey")).as_py()
    copies = []
    for c in range(k):
        t = tbl
        if c > 0:
            t = t.set_column(
                t.schema.get_field_index("l_orderkey"),
                "l_orderkey",
                pc.add(t.column("l_orderkey"), c * n_ord),
            )
            t = t.set_column(
                t.schema.get_field_index("l_partkey"),
                "l_partkey",
                pc.add(t.column("l_partkey"), c * n_part),
            )
        copies.append(t)
    pq.write_table(pa.concat_tables(copies), f"{out}/lineitem.parquet")
    open(os.path.join(out, "_COMPLETE_LINEITEM"), "w").close()


def _build_events_slice(k: int, out: str) -> None:
    """events: K copies with user_id/event_id offset by the copy index and
    the TIME RANGE UNCHANGED — streaming state (keys x open windows) and
    shuffle width scale by K while the watermark frontier and window
    structure stay identical per copy. Written as ONE parquet FILE
    (pyarrow, not a Spark dir) because the streaming queries symlink
    {sf_dir}/events.parquet as a single file into their staging dir."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{BASE}/events.parquet")
    n_users = 1 + pc.max(tbl.column("user_id")).as_py()
    n_events = 1 + pc.max(tbl.column("event_id")).as_py()
    copies = []
    for c in range(k):
        t = tbl
        if c > 0:
            t = t.set_column(
                t.schema.get_field_index("event_id"),
                "event_id",
                pc.add(t.column("event_id"), c * n_events),
            )
            t = t.set_column(
                t.schema.get_field_index("user_id"),
                "user_id",
                pc.add(t.column("user_id"), c * n_users),
            )
        copies.append(t)
    pq.write_table(pa.concat_tables(copies), f"{out}/events.parquet")
    open(os.path.join(out, "_COMPLETE_EVENTS"), "w").close()


def time_family(spark, name: str, sf_dir: str, k: int = 1) -> tuple[float, int]:
    import mysql_data_anonymizer_spark.queries as Q

    t0 = time.time()
    if name == "semdedup_ivf_prod":
        n = _semdedup_ivf_prod(spark, sf_dir, k).count()
    else:
        n = Q.QUERIES[name](spark, sf_dir).count()
    dt = time.time() - t0
    # pins survive clearCache(): without the release, a graph family's x10
    # row measures the x1+x5 leftovers' memory squeeze, not the operator —
    # kcore measured 115 s leaked vs ~25 s in a fresh session
    release(spark)
    return round(dt, 3), n


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--families", default=",".join(FAMILIES))
    ap.add_argument("--scales", default="5,10")
    args = ap.parse_args()
    families = args.families.split(",")
    scales = [int(s) for s in args.scales.split(",")]

    spark = get_spark("mda-scale-slope")
    import mysql_data_anonymizer_spark.queries as Q  # noqa: F401

    dirs = {1: BASE}
    for k in scales:
        print(f"# building x{k} slice ...", file=sys.stderr)
        dirs[k] = build_slice(spark, k)

    # warm-up: same rationale as bench.py (JIT/codegen priming)
    for name in families:
        try:
            time_family(spark, name, WARM)
        except Exception as exc:
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    ks = [1] + scales
    results: dict[str, dict[int, tuple[float, int]]] = {}
    for name in families:
        results[name] = {}
        for k in ks:
            # median of _REPS runs, as bench.py: one run per point read
            # kcore_copurchase_parts x5 at 16.32 s and 13.75 s on unchanged code
            samples = [time_family(spark, name, dirs[k], k) for _ in range(_REPS)]
            secs = sorted(dt for dt, _ in samples)
            results[name][k] = (secs[len(secs) // 2], samples[-1][1])
            print(f"# {name} x{k}: {results[name][k]} of {secs}", file=sys.stderr)

    # self-qualifying load stamp (r10 verdict item 1): a slope row recorded
    # in a slow window is unfalsifiable after the fact without this
    print(f"host at table emit: {_host_snapshot()}")
    print()
    hdr = "| family | " + " | ".join(f"x{k} s (rows)" for k in ks)
    hdr += " | slope x%d/x1 | slope x%d/x%d |" % (scales[0], scales[-1], scales[0])
    print(hdr)
    print("|" + "---|" * (len(ks) + 3))
    for name in families:
        r = results[name]
        cells = " | ".join(f"{r[k][0]} ({r[k][1]})" for k in ks)
        s1 = r[scales[0]][0] / max(r[1][0], 1e-9)
        s2 = r[scales[-1]][0] / max(r[scales[0]][0], 1e-9)
        print(f"| {name} | {cells} | {s1:.2f}x | {s2:.2f}x |")


if __name__ == "__main__":
    main()
