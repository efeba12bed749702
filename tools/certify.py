"""Registry certifier: build every registered query ONCE, run it once
(``toPandas()``, the driver's own route, which executes the query's own
QueryExecution) and check three properties of that one result.

Values: the rows equal the DuckDB oracle's, compared as sorted rows of
canonical cells (``norm_cell``) over name-sorted columns.

Driver dtypes: the driver's CORRECTNESS gate hashes both result sets
through pandas, so value-identical results still fail it when their
dtypes diverge:
  - DuckDB widens SUM(int)/SUM(bigint) to HUGEINT (int128); pandas has no
    int128, so the column lands as float64 ("3.0") while Spark emits int64
    ("3") -> hash mismatch.
  - DECIMAL outputs become `object` columns of decimal.Decimal with
    engine-specific trailing-zero forms -> hash mismatch.
  - list/array cells are unhashable -> the canonicalizer CRASHES
    (pandas sort_values -> factorize -> TypeError).
  Both frames must have no hazardous object column, and each column's
  dtype kind (int, float, bool, string, datetime) must match. Rows-only
  queries (no oracle) get the Spark-side cell check.

Plan shape (over the sf0.01 fixtures — SHAPE, not timing), written to
PLANS.md:
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
  - the most FileScans of any one file (report only): a DataFrame consumed
    N times without an eager localCheckpoint re-runs its lineage per
    consumer, and column pruning keeps ReuseExchange from merging the
    copies (how triangle_count_copurchase once scanned lineitem 12x).
  - streaming state: a stateful operator without an event-time watermark
    (unbounded state) fails unless allowlisted.

Usage: python tools/certify.py [sf_dir] [--out PLANS.md] [--queries a,b,c]

Exit 1 when any query fails any check, with one FAIL line per query
naming what failed. Safety (a stray first argument once made the tool
overwrite PLANS.md with 240 ERROR rows):
  - the sf_dir positional is validated to be a directory containing the
    fixture parquet tables; anything else aborts before any Spark work;
  - the gate artifact is refused (written to <out>.rejected instead) when
    more than 5% of certified queries error out;
  - only a full run over the sf0.01 fixtures writes PLANS.md (the sf0.01
    audit); --queries subsets and other scales print the table to stdout
    WITHOUT touching PLANS.md unless --out is given explicitly.
"""

from __future__ import annotations

import argparse
import datetime as _dt
import decimal
import math
import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from mysql_data_anonymizer_spark.anonymizer import TABLE_NAMES  # noqa: E402
from mysql_data_anonymizer_spark.session import get_spark, release  # noqa: E402

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


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """One DuckDB connection with a view per fixture table. A table Spark
    wrote is a directory of part files, which the glob reads."""
    con = duckdb.connect()
    for t in TABLE_NAMES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):
            path += "/*.parquet"
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def norm_cell(v) -> str:
    """Canonical text of one result cell: exact double repr (catches any
    bit difference), NaN, Decimal in plain notation, a date or timestamp
    in ISO form (pandas gives a Spark DATE as datetime.date but a DuckDB
    DATE as Timestamp), everything else through str."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, _dt.date):
        return pd.Timestamp(v).isoformat()
    return str(v)


def canon_rows(df: pd.DataFrame) -> list[tuple]:
    """The frame as sorted rows of canonical cells over name-sorted columns."""
    cols = sorted(df.columns)
    return sorted(tuple(norm_cell(v) for v in row) for row in df[cols].itertuples(index=False))


def value_problems(spd: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    if sorted(spd.columns) != sorted(odf.columns):
        return [f"columns spark={sorted(spd.columns)} oracle={sorted(odf.columns)}"]
    a, b = canon_rows(spd), canon_rows(odf)
    if len(a) != len(b):
        return [f"rows spark={len(a)} oracle={len(b)}"]
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:3]
        return [f"value mismatch; first diffs: {diffs}"]
    return []


def _kind(series: pd.Series) -> str:
    """Collapse a column to the equivalence class the driver's hash cares
    about. Object columns are classified by their first non-null cell so a
    Spark DATE column (object-of-datetime.date) pairs with DuckDB's
    datetime64."""
    k = getattr(series.dtype, "kind", "O")
    if k in ("i", "u"):
        return "int"
    if k == "f":
        return "float"
    if k == "b":
        return "bool"
    if k == "M":
        return "datetime"
    for v in series:
        if v is None or (isinstance(v, float) and np.isnan(v)):
            continue
        if isinstance(v, (_dt.date, _dt.datetime)):
            return "datetime"
        break
    return "object"


def _object_cell_problem(series: pd.Series) -> str | None:
    """For an object column, identify a non-string cell type that would
    break or destabilize the driver's hash. Strings are fine; so are
    datetime.date cells — Spark DATE columns land in pandas as object-of-
    date and the driver hashes them green (mask_generator_profile, r2)."""
    for v in series:
        if v is None or (isinstance(v, float) and np.isnan(v)):
            continue
        if isinstance(v, decimal.Decimal):
            return "decimal.Decimal cell (decimal output column)"
        if isinstance(v, (list, np.ndarray, dict, set, bytearray)):
            return f"unhashable {type(v).__name__} cell (canonicalizer crash)"
        if isinstance(v, (_dt.date, _dt.datetime)):
            return None
        if not isinstance(v, (str, bytes)):
            return f"non-string object cell: {type(v).__name__}"
        return None  # first real cell is a string -> column is fine
    return None


def _frame_problems(df: pd.DataFrame, side: str) -> list[str]:
    out = []
    for c in df.columns:
        if _kind(df[c]) == "object":
            prob = _object_cell_problem(df[c])
            if prob:
                out.append(f"{side}.{c}: {prob}")
    return out


def dtype_problems(spd: pd.DataFrame, odf: pd.DataFrame) -> list[str]:
    problems = _frame_problems(odf, "oracle")
    if sorted(spd.columns) != sorted(odf.columns):
        return problems  # value_problems names the column mismatch
    for c in sorted(spd.columns):
        ks, ko = _kind(spd[c]), _kind(odf[c])
        # All-NULL or nullable-int columns surface as float64/object on one
        # side; only flag when both sides have data and still disagree.
        if ks != ko and len(spd) and len(odf):
            problems.append(
                f"dtype kind mismatch on '{c}': spark={spd[c].dtype}({ks}) "
                f"oracle={odf[c].dtype}({ko})"
                + (" [HUGEINT trap: CAST(SUM(...) AS BIGINT) in the oracle]"
                   if {ks, ko} == {"int", "float"} else "")
            )
    return problems


def scan_counts(plan: str) -> Counter:
    """FileScans per scanned file name in one plan."""
    c: Counter = Counter()
    for m in re.finditer(r"FileScan parquet[^\n]*?Location[^\[]*\[([^\]]*)\]", plan):
        c[m.group(1).rsplit("/", 1)[-1]] += 1
    return c


def final_plan(plan: str) -> str:
    """``plan`` as the audit counts it: without its AQE "== Initial Plan =="
    sections, at any depth, and with each cached relation's plan once.
    A cached relation's plan is an AdaptiveSparkPlan of its own, printed
    under every reader of the cache: the first initial plan in the string
    need not be the top-level one, and a cache built once would count once
    per reader. A dropped section ends at the first line no deeper than
    the line that opened it."""
    lines = plan.splitlines()
    depths = [len(ln) - len(ln.lstrip(" :|")) for ln in lines]
    keep, cut, seen = [], -1, set()
    for i, (ln, depth) in enumerate(zip(lines, depths)):
        if 0 <= cut < depth:
            continue
        cut = ln.find("+- == Initial Plan ==")
        if cut >= 0:
            continue
        keep.append(ln)
        if "InMemoryRelation " in ln:
            end = i + 1
            while end < len(lines) and depths[end] > depth:
                end += 1
            # the relation's own line names the reader's attributes, which a
            # self-join renames; the cached plan below it is the same text
            cached = tuple(x[depth:] for x in lines[i + 1:end])
            if cached in seen:
                cut = depth
            seen.add(cached)
    return "\n".join(keep)


def audit(name: str, plan: str) -> dict:
    """Plan-shape facts of one executed plan string. For a batch query the
    plan is read after the query ran, so its AdaptiveSparkPlan carries the
    real runtime plan: codegen stage markers *(n), AQEShuffleRead coalesce,
    runtime-demoted joins. For a streaming query it is the last
    micro-batch's executed plan harvested by queries._await_stream — the
    memory-sink result table plans as a bare LocalTableScan and would read
    0 in every column (r10 verdict item 6)."""
    plan = final_plan(plan)
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
        "hot_scan": scan_counts(plan).most_common(1),
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


def certify(spark, con, name: str, fn, oracle: str | None, sf_dir: str) -> tuple[dict, list[str]]:
    """Build and run one query once; returns its plan row and its failed
    checks, each prefixed by the property it failed."""
    df = fn(spark, sf_dir)
    spd = df.toPandas()
    # streaming queries run to completion inside fn and stash the last
    # micro-batch's executed plan via queries._await_stream — audit THAT
    # plan, not the memory-sink result table's
    stream_plan = getattr(spark, "_mda_stream_plans", {}).get(name)
    if stream_plan is None:
        r = audit(name, df._jdf.queryExecution().executedPlan().toString())  # noqa: SLF001
    else:
        r = audit(name, stream_plan)
        r["streaming"] = True
    problems = [f"dtypes: {p}" for p in _frame_problems(spd, "spark")]
    if oracle is not None:
        try:
            odf = con.sql(oracle).df()
        except Exception as exc:  # noqa: BLE001
            return r, problems + [f"values: oracle error: {str(exc)[:120]}"]
        problems += [f"values: {p}" for p in value_problems(spd, odf)]
        problems += [f"dtypes: {p}" for p in dtype_problems(spd, odf)]
    return r, problems


def plan_row(r: dict) -> tuple[str, list[str]]:
    """The PLANS.md table row of one audited plan and its plan violations."""
    problems = []
    gw = "yes" if r["global_window"] else "-"
    if r["global_window"] and r["name"] not in GLOBAL_WINDOW_OK:
        problems.append("partition-less window over unbounded input")
        gw = "**UNBOUNDED**"
    elif r["global_window"]:
        gw = "bounded (offset table)"
    if r["bnl"] and r["name"] not in BNL_OK:
        problems.append("BroadcastNestedLoopJoin")
    scans = "; ".join(",".join(s) for s in r["scans"][:4]) or "-"
    label = r["name"]
    if r.get("streaming"):
        if r["stateful"] and r["watermarked"]:
            label += " ⟲ wm"
        elif r["stateful"] and r["name"] in STREAM_STATE_OK:
            label += " ⟲ state-no-wm (timeout-evicted / certification harness)"
        elif r["stateful"]:
            label += " ⟲ **STATE-NO-WM**"
            problems.append(
                "stateful streaming operator without an event-time watermark (unbounded state)"
            )
        else:
            label += " ⟲ stateless"
    hot = "; ".join(f"{n}x {f}" for f, n in r["hot_scan"]) or "-"
    return (
        f"| {label} | {r['exchanges']} | {r['bhj']} | {r['smj']} | {r['bnl']} "
        f"| {r['codegen']} | {gw} | {scans[:100]} | {hot} |"
    ), [f"plan: {p}" for p in problems]


def plans_target(sf_dir: str, out: str | None, subset: list[str] | None) -> str | None:
    """Where the plan table is written: ``out`` when given, else PLANS.md
    (the sf0.01 audit) for a full run over the sf0.01 fixtures, else
    nowhere (None: the table is printed)."""
    if out is not None:
        return out
    if subset is None and os.path.basename(os.path.normpath(sf_dir)) == "sf0.01":
        return "PLANS.md"
    return None


def main() -> None:
    ap = argparse.ArgumentParser(description="Build and run every registered query once; "
                                 "check its oracle values, driver dtypes and plan shape.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01",
                    help="fixture directory (must contain lineitem.parquet etc.)")
    ap.add_argument("--out", help="output markdown path (default PLANS.md for full sf0.01 "
                    "runs; other runs print to stdout unless --out is given)")
    ap.add_argument("--queries", help="comma-separated subset of registry queries")
    ap.add_argument("--force", action="store_true",
                    help="allow a --queries subset run to overwrite PLANS.md (r11 ADVICE)")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(args.sf_dir, "lineitem.parquet")):
        ap.error(f"sf_dir {args.sf_dir!r} is not a fixture directory "
                 "(no lineitem.parquet) — refusing to run")

    # fixed, not get_spark's default: PLANS.md is the sf0.01 audit at
    # local[4], and plan shape follows the cores (shuffle partitions,
    # queries._replay_conf, the scan's split packing)
    spark = get_spark("certify", master="local[4]")
    import mysql_data_anonymizer_spark.queries as Q

    subset = args.queries.split(",") if args.queries else None
    names = subset or list(Q.QUERIES)
    unknown = [q for q in names if q not in Q.QUERIES]
    if unknown:
        ap.error(f"not in registry: {unknown}")

    con = duck_views(args.sf_dir)
    failures = {}
    md = ["# PLANS — physical-plan audit (generated by tools/certify.py)"]
    if subset is not None:
        # subset outputs are self-declaring so a partial table can never
        # masquerade as the full gate artifact (r11 ADVICE)
        md.append(f"\n**PARTIAL ({len(names)}/{len(Q.QUERIES)} registry queries"
                  " — NOT the gate artifact)**")
    md += [
        "",
        f"Fixtures: `{args.sf_dir}`. Plan *shape* audit — the scale invariants",
        "the engine promises (no unbounded single-partition stages, keyed",
        "shuffles only, broadcast small sides, pruned scans). Regenerate after",
        "operator changes. Rows marked ⟲ audit the STREAMING query's last",
        "micro-batch executed plan (harvested post-run via",
        "queries._await_stream), not the memory-sink result table. The last",
        "column (report only) is the most FileScans of any one file.",
        "",
        "| query | shuffles | BHJ | SMJ | BNLJ | codegen spans | global window | scan columns"
        " | most scans of one file |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    n_err = 0
    for name in names:
        try:
            r, problems = certify(spark, con, name, Q.QUERIES[name], Q.ORACLES.get(name), args.sf_dir)
            line, violations = plan_row(r)
            problems += violations
        except Exception as exc:  # noqa: BLE001
            n_err += 1
            err = str(exc)[:120]
            line, problems = f"| {name} | ERROR: {err} | | | | | | | |", [f"error: {err}"]
        release(spark)
        md.append(line)
        if problems:
            failures[name] = problems
    fail_lines = [f"{n}: {'; '.join(p)}" for n, p in failures.items()]
    md += ["", "## Failures", ""] + ([f"- {f}" for f in fail_lines] or ["(none)"])

    def failed(check: str) -> set[str]:
        return {n for n, ps in failures.items() if any(p.startswith((check, "error")) for p in ps)}

    n_oracle = sum(n in Q.ORACLES for n in names)
    summary = (
        f"{len(names)} queries certified: "
        f"{n_oracle - len(failed('values') & set(Q.ORACLES))}/{n_oracle} matched the oracle, "
        f"{len(names) - len(failed('dtypes'))} dtype-clean, "
        f"{sum(p.startswith('plan') for ps in failures.values() for p in ps)} plan violations, "
        f"{n_err} errors"
    )
    text = "\n".join(md) + "\n"
    out_md = plans_target(args.sf_dir, args.out, subset)
    if out_md is None:
        print(text)  # inspect, don't touch the gate artifact
        print(summary)
    else:
        if subset is not None and os.path.basename(out_md) == "PLANS.md" and not args.force:
            ap.error(f"--queries subset targeting the gate artifact {out_md!r} would replace "
                     "the full table with a partial one; pass --force if you really mean it")
        # the >5% error-rate refusal is meaningless on tiny subsets
        # (max(1, n//20) degrades to 'half the rows may error'); only the
        # full-registry run may write through the error gate
        if n_err > max(1, len(names) // 20):
            rej = out_md + ".rejected"
            open(rej, "w").write(text)
            print(f"REFUSED to write {out_md}: {n_err}/{len(names)} queries errored (>5%) — "
                  f"wrote {rej} instead; the gate artifact is untouched", file=sys.stderr)
            sys.exit(2)
        open(out_md, "w").write(text)
        print(f"{summary} -> {out_md}")
    for f in fail_lines:
        print("FAIL", f)
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
