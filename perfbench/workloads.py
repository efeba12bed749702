"""Workload definitions and the checksum every op is consumed with.

An op is one registry query, ``queries.QUERIES[name](spark, data_dir)``. A
workload is a fixed list of ops plus how their results are consumed:

- ``sink=False``: the op's DataFrame is reduced to a checksum (row count plus
  an order-independent hash over every output column), so Catalyst cannot
  prune any column the op produces.
- ``sink=True``: the op's DataFrame is written with
  ``sources.sinks.write_parquet``; the checksum (row count plus a sum of
  per-row hashes) is then taken over the files read back with pyarrow,
  outside the timed region.
"""

from __future__ import annotations

from dataclasses import dataclass

# inputs: perfbench/datagen.py at this scale factor and seed
DATA_SF = 0.01
DATA_SEED = 42


@dataclass(frozen=True)
class Workload:
    name: str
    ops: tuple[str, ...]
    sink: bool
    why: str
    # timed passes after the warm-up pass; fixed, so that a parent and a
    # faster child measure the same stage of warming (ops still speed up for
    # about three passes after the warm-up)
    passes: int = 3


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "mask_etl",
            (
                "mask_static",
                "mask_synchro_remap",
                "mask_faker_profile",
                "enforce_k_anonymity_customers",
                "rtbf_forget_cascade",
                # the corpus side of the job: exact dedup, nearest neighbours
                # and text fingerprints reach operators.dedup, .similarity
                # and .text, which no masking op calls
                "dedup_exact",
                "knn_brute_force",
                "text_fingerprint_groups",
            ),
            sink=True,
            why="the paper's job: masks, key cascade, k-anonymity and RTBF ops, "
            "plus corpus dedup, knn and text fingerprints, each result written "
            "to parquet; short ops expose per-op overhead",
        ),
        Workload(
            "stream_replay",
            (
                "streaming_mask_pseudonymize",
                "streaming_tumbling_agg",
            ),
            sink=False,
            why="bounded availableNow replays: nearly all time is construction, "
            "and only here do the streaming module and state stores run",
            # two ops of about equal cost, so each pass is short and five of
            # them fit in a run; with three passes each op's median rested on
            # three samples and op_p50_s on one op
            passes=5,
        ),
        Workload(
            "relational_scan",
            (
                "q1_pricing_summary",
                "q3_top_revenue_orders",
                "q5_nation_revenue",
                "q6_forecast_revenue",
                "q9_profit_by_nation_year",
                "q13_order_distribution",
                "q18_large_orders",
                "q21_waiting_suppliers",
            ),
            sink=False,
            why="TPC-H shapes bound by scan, join and shuffle with no Python "
            "UDFs: the control for construction and Python-boundary changes",
        ),
        Workload(
            "corpus_dedup_ann",
            (
                "dedup_exact",
                "dedup_minhash_lsh",
                "semdedup_embeddings",
                "knn_brute_force",
                "knn_ivf",
            ),
            sink=False,
            why="the LLM-pipeline extensions: eager pins and index builds, then "
            "Python-heavy minhash and knn execution",
        ),
    ]
}


def checksum_frame(df):
    """One-row DataFrame ``(n, h)``: the row count and the sum of a 64-bit
    hash of every row over all columns (map columns hashed via JSON, since
    Spark refuses to hash maps). Summing in decimal keeps it exact and
    independent of row order and partitioning."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        if f.dataType.typeName() == "map":
            c = F.to_json(c)
        cols.append(c)
    h = F.xxhash64(*cols) if cols else F.lit(0)
    return df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(h.cast("decimal(38,0)")), F.lit(0).cast("decimal(38,0)")).alias("h"),
    )


def checksum_value(row) -> list:
    """The collected checksum row as a JSON-friendly ``[rows, hash]``."""
    return [int(row["n"]), str(row["h"])]


def checksum_files(path: str) -> list:
    """``[rows, hash]`` of a parquet directory written by Spark: the row
    count and the sum of a 64-bit hash of each row's values, read with
    pyarrow so verifying a sink starts no Spark job."""
    import hashlib

    import pyarrow.parquet as pq

    table = pq.read_table(path)
    h = 0
    for row in table.to_pylist():
        digest = hashlib.blake2b(repr(sorted(row.items())).encode(), digest_size=8).digest()
        h += int.from_bytes(digest, "little")
    return [table.num_rows, str(h)]
