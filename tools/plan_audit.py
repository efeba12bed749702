"""Physical-plan audit: run every registered query's plan through scale
invariants and emit PLANS.md.

Checks per query (over the sf0.01 fixtures — plan SHAPE, not timing):
  - global-window hazard: a WindowExec with an empty partition spec moves
    ALL rows to one task (the 100 TB killer). Allowed only where the window
    input is provably tiny (documented allowlist, e.g. the per-partition
    offset table in rownum.py: |rows| == |partitions|).
  - shuffle count (Exchange nodes) — not a failure, but reported so fat
    pipelines are visible.
  - join strategies in use (broadcast vs sort-merge vs BNL) — BNL flagged
    unless the build side is an intentionally-broadcast bounded set.
  - scan column pruning: FileScan ReadSchema listed per query so a scan
    reading every column for a narrow projection is visible.

Usage: python tools/plan_audit.py [sf_dir] [--out PLANS.md] [--queries a,b,c]

Safety (r10 verdict item 5 — a stray first argument used to be treated as
the sf dir and the tool OVERWROTE PLANS.md with 240 ERROR rows):
  - the sf_dir positional is validated to be a directory containing the
    fixture parquet tables; anything else aborts before any Spark work;
  - the gate artifact is refused (written to <out>.rejected instead) when
    more than 5% of audited rows error out;
  - --queries runs a subset (bench.py parity) and prints the table to
    stdout WITHOUT touching PLANS.md unless --out is given explicitly.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_data_anonymizer_spark.session import get_spark  # noqa: E402

# queries where a partition-less window is provably bounded:
#   - rownum.py's cumulative-offset window runs over ONE ROW PER PARTITION
#     (32 rows at 32k partitions), broadcast-joined back — documented design.
GLOBAL_WINDOW_OK = {
    "mask_row_template",  # offset table window (|partitions| rows)
    "mask_guarded",
    "mask_chain_fields",
    "mask_global_where",
    "mask_synchro_remap",
    "mask_static",
    "mask_generator_email",
    "mask_unique_uuid",
    # PRAM: the row_number window runs over the POST-DISTINCT category
    # domain (|distinct categories| rows — 5 market segments), not the fact
    # table; bounded by domain cardinality regardless of input size
    "mask_pram_mktsegment",
    # synthetic marginals: the cumulative-frequency windows run over the
    # POST-AGG value domains (5 segments / 25 nations) — PRAM class
    "synthesize_marginals_customers",
    # KN tercile cuts: the cumulative window runs over the per-score count
    # table, whose key is a millionths mean — BOUNDED domain [0, 1e6]
    # regardless of corpus size (<= 1e6+1 rows; PRAM class, r11 exact-cut
    # rework of the former float percentile)
    "kn_perplexity_docs",
}

# streaming queries whose STATEFUL operator legitimately runs without an
# event-time watermark (the default is a violation: state that nothing
# evicts grows without bound on a real stream):
STREAM_STATE_OK = {
    # complete-mode candidate-count aggregate in the bounded-replay
    # certification harness; the docstring prescribes the production
    # variant (arrival-time window or per-batch foreachBatch filter)
    "streaming_dedup_index_probe",
    # flatMapGroupsWithState / applyInPandasWithState manage their own
    # eviction via timeouts — watermark not applicable
    "streaming_stateful_user_totals",
    "streaming_ewma_user",
}

# queries whose broadcast-nested-loop join is over an intentionally bounded
# broadcast side: brute-force knn streams the corpus against a BROADCAST
# handful of query vectors with a != predicate — the textbook
# small-side-broadcast theta join; the corpus side never shuffles. The
# embedding-cosine expr variant (not the default) has the same shape.
BNL_OK: set[str] = {
    "knn_brute_force",
    # hybrid RRF's dense ranker IS brute_force_topk (broadcast query
    # vectors, != theta join) — same bounded-broadcast class
    "hybrid_search_rrf",
    # RAG e2e: corpus chunks stream against the BROADCAST query-chunk set
    # (chunks of 2 docs) — same bounded-broadcast class
    "rag_pipeline_e2e",
    # skew report: the per-key table crossJoins BROADCAST 1-row stats —
    # q11 threshold class
    "skew_report_lineitem",
    # knn_lsh / knn_ivf / knn_pq / knn_sq8 certify against a pinned 25-row
    # exact twin (matmul_topk: mapInPandas against a broadcast query block)
    # for their recall gate; the global-gate ones and dedup_simhash
    # crossJoin 1-row broadcast gate aggregates — bounded by construction,
    # same class as q11's threshold
    "knn_lsh",
    "knn_ivf",
    "knn_pq",
    "knn_sq8",
    "dedup_simhash",
    "semdedup_ivf",
    # q11: the global threshold is a BROADCAST 1-row aggregate cross-joined
    # onto the 25-row per-nation table — bounded by construction
    "q11_important_nations",
    # Kneser-Ney counts: the global bigram-type total is a BROADCAST 1-row
    # aggregate cross-joined onto the (vocabulary-sized) frequent-bigram
    # table — q11 threshold class
    "kneser_ney_bigram_counts",
    # t-closeness: the N scalar is a BROADCAST 1-row aggregate cross-joined
    # onto the post-aggregation (QI x category) table — bounded by
    # construction, same class as q11's threshold
    "t_closeness_audit_customers",
    # gap-fill: hour-grid x event-type crossJoin, both post-aggregation tiny
    # (#hours x #types rows regardless of input size)
    "timeseries_gapfill_hourly",
    # linear interpolation: same hour-grid x types crossJoin as gap-fill
    "interpolate_hourly_values",
    # recursive-CTE gap-fill: day-spine x type-dim crossJoin, both tiny by
    # construction (#days x #types)
    "gapfill_recursive_days",
    # synthetic marginals: fact stream theta-joined against BROADCAST
    # post-agg CDF bound tables (5/25 rows) + a 1-row N crossJoin
    "synthesize_marginals_customers",
    # lsh pair certification: three 1-row BROADCAST stat scalars (counts +
    # subset-violation count) cross-joined onto the exact pair rows — q11
    # threshold class, bounded by construction
    "dedup_embedding_lsh_pairs",
    # r8 — ccnet prod twin: SAME 1-row vocab/cutoff scalars as the base
    # query (the LM count tables themselves are keyed SMJs, gate-asserted)
    "ccnet_perplexity_buckets_prod",
    # knn_ivf_indexed certifies against the same pinned matmul_topk exact
    # twin + the 1-row hit count gate — same bounded-broadcast class as knn_ivf
    "knn_ivf_indexed",
    # hard negatives: corpus streams against the BROADCAST anchor set with
    # a (!= id AND label-differs) theta condition — knn_brute_force class
    "hard_negatives_embeddings",
    # epoch expand: per-domain totals crossJoin a 1-row BROADCAST budget
    # scalar (post-agg, bounded by construction — q11 threshold class)
    "epoch_expand_mixture",
    # k-anonymity enforcement: the merged-'*'-group total is a 1-row
    # BROADCAST aggregate cross-joined onto the tiny group dim (r7 ADVICE
    # fix) — q11 threshold class
    "enforce_k_anonymity_customers",
    # ccnet buckets: vocab size and tercile cutoffs are 1-row BROADCAST
    # aggregates cross-joined — bounded by construction, q11 class
    "ccnet_perplexity_buckets",
    # temperature mix: the 1-row n_min aggregate is BROADCAST cross-joined
    # onto the per-lang counts (bounded by #langs) — same class as q11
    "mix_temperature_sample",
    # collocations: the corpus-total (t_uni, t_bi) scalars are a BROADCAST
    # 1-row aggregate cross-joined onto the bigram table — bounded by
    # construction, same class as q11's threshold
    "bigram_collocations",
    # k-means assignment: the K-row centroid table is the broadcast build
    # side of the fact crossJoin — bounded by K, same class as
    # knn_brute_force's query set
    "kmeans_assign_step",
    # r11 — full Lloyd loop: same K-row broadcast centroid crossJoin per
    # round + the 1-row convergence-count scalar (q11 threshold class)
    "kmeans_lloyd_embeddings",
    # r11 — incremental assignment: one broadcast-K centroid crossJoin
    # over the increment (same bounded-build class)
    "kmeans_incremental_assign",
    # r12 — unified-trainer IVF: query-side broadcast-K centroid crossJoin
    # (probe assignment) + the exact matmul twin's bounded broadcast theta
    # join + the 1-row hit-count scalar — knn_ivf_indexed class
    "knn_ivf_kmeans_indexed",
    # r12 — the recall report now embeds the ivf_kmeans probe, whose
    # query-side K-row centroid crossJoin is the same bounded-build class
    # (plus the per-method 1-row hit-count scalars it always had)
    "knn_recall_report",
    # r12 — incremental index append: same probe machinery + exact twin +
    # 1-row hit scalar as knn_ivf_kmeans_indexed
    "knn_ivf_kmeans_append",
    # heavy hitters: the 1-row sketch aggregate cross-joined onto the k-row
    # exact table — bounded scalar, same class as q11's threshold
    "approx_top_terms",
    # mixture rebalance: the 1-row achievable-total scalar cross-joined onto
    # the per-language count table (|langs| rows) — bounded by construction
    "rebalance_corpus_mix",
    "pretraining_pipeline_e2e",  # same rebalance scalar inside the composition
    # bloom decontamination: the 1-row global-FPR scalar cross-joined onto
    # the per-doc table — bounded by construction, same class as q11
    "decontaminate_bloom_ngrams",
    # DP release: the 1-row noise-calibration scalar cross-joined onto the
    # 125-group histogram — bounded by construction, same class as q11
    "dp_noised_counts_customers",
    # PRAM calibration: the 1-row empirical-change-rate scalar cross-joined
    # onto the release — bounded by construction, same class as q11
    "mask_pram_mktsegment",
    # Benford: the 1-row N-total scalar cross-joined onto the 9-row digit
    # histogram — bounded by construction, same class as q11
    "benford_first_digit_audit",
    # CMS: the 1-row N scalar cross-joined onto the per-key estimates for
    # the accuracy gate — bounded by construction, same class as q11
    "cms_frequency_parts",
    # BM25: the 1-row (n_docs, tot_toks) corpus stats scalar cross-joined
    # onto the scored rows — bounded by construction, same class as q11
    "bm25_term_scores",
    # IVFPQ: the 1-row recall hit count cross-joined onto the exact twin —
    # same class as knn_pq/knn_sq8
    "knn_ivfpq",
    # DP bounded sum: the 1-row noise-calibration scalar cross-joined onto
    # the per-type release — bounded by construction, same class as q11
    "dp_bounded_sum_events",
    # streaming update mode: the 1-row batch-count gate scalar cross-joined
    # onto the reconstructed state — bounded by construction
    "streaming_update_mode_agg",
    # HLL intersection: |types|^2 pair join over the tiny per-type sketch
    # aggregate — bounded by the event-type domain
    "hll_intersection_users",
    # r10 — KN scoring: SAME 1-row type-total/cutoff scalars as ccnet
    # (the LM count tables themselves are keyed SMJs, gate-asserted by
    # keyed_join_ok)
    "kn_perplexity_docs",
    # r10 — temperature mixture: the 1-row (sum_w, budget) scalar
    # crossJoins the |domains|-row weight table — q11 threshold class
    "mixture_alpha_weights",
    # r10 — corpus drift: the |sources|-row dim crossJoins the ref vocab
    # (bounded by source count, the corpus_overlap_matrix class) and the
    # 1-row N_r scalar crossJoins — both bounded by construction
    "corpus_drift_tvd",
    # r10 — incremental drift: same bounded crossJoins via the shared
    # _drift_from_counts tail
    "drift_incremental_merge",
}


def audit(name: str, df, plan: str | None = None) -> dict:
    # collect() executes THIS df's own QueryExecution (count() would build a
    # new one), so its AdaptiveSparkPlan finalizes and the string carries the
    # real runtime plan: codegen stage markers *(n), AQEShuffleRead coalesce,
    # runtime-demoted joins. Result sets at sf0.01 are small.
    # When `plan` is given (streaming: the last micro-batch's executed plan
    # harvested by queries._await_stream) it is audited INSTEAD of the
    # result df's plan — the memory-sink result table plans as a bare
    # LocalTableScan and would read 0 in every column (r10 verdict item 6).
    if plan is None:
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    if "== Final Plan ==" in plan:  # audit the final plan, not the initial
        plan = plan.split("== Initial Plan ==")[0]
    lines = plan.splitlines()
    res = {
        "name": name,
        "exchanges": len(re.findall(r"\bExchange\b|ShuffleExchange", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "bnl": plan.count("BroadcastNestedLoopJoin"),
        # codegen stages print as "*(n) Operator" in the final executed plan
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "scans": [],
        "global_window": False,
    }
    # global-window detection: windowspecdefinition(<partition exprs>,
    # <order exprs ASC|DESC ...>, specifiedwindowframe(...)). If every arg
    # before the frame is an ORDER expr (carries ASC/DESC) the partition
    # spec is empty -> all rows land in one task.
    for m in re.finditer(r"windowspecdefinition\((.*?)specifiedwindowframe", plan):
        args = [a.strip() for a in m.group(1).split(",") if a.strip()]
        if args and all(("ASC" in a or "DESC" in a) for a in args):
            res["global_window"] = True
    for ln in lines:
        m = re.search(r"FileScan parquet \[([^\]]*)\]", ln)
        if m:
            cols = [c.split("#")[0] for c in m.group(1).split(",") if c]
            res["scans"].append(cols)
    # streaming state audit (r11): stateful operators without an event-time
    # watermark accumulate state nothing evicts — the streaming twin of the
    # global-window hazard. Only meaningful on harvested streaming plans.
    res["stateful"] = bool(
        re.search(
            r"StateStoreSave|SessionWindowStateStoreSave"
            r"|StreamingSymmetricHashJoin|StreamingDeduplicate"
            r"|FlatMapGroupsWithState|FlatMapGroupsInPandasWithState"
            r"|TransformWithState",
            plan,
        )
    )
    res["watermarked"] = "EventTimeWatermark" in plan
    return res


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Audit every registered query's executed plan against "
        "scale invariants and write PLANS.md."
    )
    ap.add_argument(
        "sf_dir",
        nargs="?",
        default="/root/testdata/sf0.01",
        help="fixture directory (must contain lineitem.parquet etc.)",
    )
    ap.add_argument(
        "--out",
        default=None,
        help="output markdown path (default PLANS.md for full runs; "
        "subset runs print to stdout unless --out is given)",
    )
    ap.add_argument(
        "--queries",
        default=None,
        help="comma-separated subset of registry queries (bench.py parity)",
    )
    ap.add_argument(
        "--force",
        action="store_true",
        help="allow a --queries subset run to overwrite the default gate "
        "artifact (PLANS.md) — normally refused (r11 ADVICE)",
    )
    args = ap.parse_args()

    if not os.path.isdir(args.sf_dir) or not os.path.exists(
        os.path.join(args.sf_dir, "lineitem.parquet")
    ):
        ap.error(
            f"sf_dir {args.sf_dir!r} is not a fixture directory "
            "(no lineitem.parquet) — refusing to run"
        )

    spark = get_spark("plan-audit", master="local[4]")
    import mysql_data_anonymizer_spark.queries as Q

    names = list(Q.QUERIES)
    subset = None
    if args.queries:
        subset = args.queries.split(",")
        unknown = [q for q in subset if q not in Q.QUERIES]
        if unknown:
            ap.error(f"not in registry: {unknown}")
        names = subset

    rows, violations = [], []
    for name in names:
        fn = Q.QUERIES[name]
        try:
            df = fn(spark, args.sf_dir)
            # streaming queries run to completion inside fn and stash the
            # last micro-batch's executed plan via queries._await_stream —
            # audit THAT plan, not the memory-sink result table's
            stream_plan = getattr(spark, "_mda_stream_plans", {}).get(name)
            r = audit(name, df, plan=stream_plan)
            if stream_plan is not None:
                r["streaming"] = True
            rows.append(r)
        except Exception as exc:  # pragma: no cover
            rows.append({"name": name, "error": str(exc)[:120]})

    md = [
        "# PLANS — physical-plan audit (generated by tools/plan_audit.py)",
    ]
    if subset is not None:
        # subset outputs are self-declaring so a partial table can never
        # masquerade as the full gate artifact (r11 ADVICE)
        md.append(
            f"\n**PARTIAL ({len(names)}/{len(Q.QUERIES)} registry queries"
            " — NOT the gate artifact)**"
        )
    md += [
        "",
        f"Fixtures: `{args.sf_dir}`. Plan *shape* audit — the scale invariants",
        "the engine promises (no unbounded single-partition stages, keyed",
        "shuffles only, broadcast small sides, pruned scans). Regenerate after",
        "operator changes. Rows marked ⟲ audit the STREAMING query's last",
        "micro-batch executed plan (harvested post-run via",
        "queries._await_stream), not the memory-sink result table.",
        "",
        "| query | shuffles | BHJ | SMJ | BNLJ | codegen spans | global window | scan columns |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for r in rows:
        if "error" in r:
            md.append(f"| {r['name']} | ERROR: {r['error']} | | | | | | |")
            continue
        if "skipped" in r:
            md.append(f"| {r['name']} | skipped: {r['skipped']} | | | | | | |")
            continue
        gw = "yes" if r["global_window"] else "-"
        if r["global_window"] and r["name"] not in GLOBAL_WINDOW_OK:
            violations.append(f"{r['name']}: partition-less window over unbounded input")
            gw = "**UNBOUNDED**"
        elif r["global_window"]:
            gw = "bounded (offset table)"
        if r["bnl"] and r["name"] not in BNL_OK:
            violations.append(f"{r['name']}: BroadcastNestedLoopJoin")
        scans = "; ".join(",".join(s) for s in r["scans"][:4]) or "-"
        label = r["name"]
        if r.get("streaming"):
            if r["stateful"] and r["watermarked"]:
                label += " ⟲ wm"
            elif r["stateful"] and r["name"] in STREAM_STATE_OK:
                label += " ⟲ state-no-wm (timeout-evicted / certification harness)"
            elif r["stateful"]:
                label += " ⟲ **STATE-NO-WM**"
                violations.append(
                    f"{r['name']}: stateful streaming operator without "
                    "an event-time watermark (unbounded state)"
                )
            else:
                label += " ⟲ stateless"
        md.append(
            f"| {label} | {r['exchanges']} | {r['bhj']} | {r['smj']} | {r['bnl']} "
            f"| {r['codegen']} | {gw} | {scans[:100]} |"
        )
    md += ["", "## Violations", ""]
    md += [f"- {v}" for v in violations] if violations else ["(none)"]

    n_err = sum(1 for r in rows if "error" in r)
    text = "\n".join(md) + "\n"
    if subset is not None and args.out is None:
        # subset mode: inspect, don't touch the gate artifact
        print(text)
    else:
        out_md = args.out or "PLANS.md"
        if (
            subset is not None
            and os.path.basename(out_md) == "PLANS.md"
            and not args.force
        ):
            ap.error(
                f"--queries subset targeting the gate artifact {out_md!r} "
                "would replace the full 244-row table with a partial one; "
                "pass --force if you really mean it (r11 ADVICE)"
            )
        # the >5% error-rate refusal is meaningless on tiny subsets
        # (max(1, n//20) degrades to 'half the rows may error'); only the
        # full-registry run may write through the error gate
        if rows and n_err > max(1, len(rows) // 20):
            rej = out_md + ".rejected"
            open(rej, "w").write(text)
            print(
                f"REFUSED to write {out_md}: {n_err}/{len(rows)} rows errored "
                f"(>5%) — wrote {rej} instead; the gate artifact is untouched",
                file=sys.stderr,
            )
            sys.exit(2)
        open(out_md, "w").write(text)
        print(f"{len(rows)} plans audited; {len(violations)} violations -> {out_md}")
    for v in violations:
        print("VIOLATION:", v)
    if violations:
        sys.exit(1)


if __name__ == "__main__":
    main()
