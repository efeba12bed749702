"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten tables the registry queries read (``region nation customer
supplier part orders lineitem events documents embeddings``), one parquet
file each, with the column names, types and value domains documented in the
repository's FIXTURES.md. Row counts follow the scale factor ``sf`` the same
way the fixture set does (lineitem = 6M x sf, documents/embeddings floored at
500). The same ``(sf, seed)`` always writes the same rows.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a the join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window spark part group big sort query fast"
).split()
# a flag file written last, so a half-written directory is never reused
DONE = "_GENERATED.json"


def _day_us(year: int, month: int, day: int) -> int:
    return int(np.datetime64(f"{year:04d}-{month:02d}-{day:02d}", "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    # INT64 TIMESTAMP(MICROS) not adjusted to UTC, as in the repository's
    # fixture files (events.ts too, whatever the engine's comments say about
    # nanos): Spark reads it as timestamp_ntz, and normalize_nanos_ts takes
    # the same cast branch on these inputs as on the fixtures
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_li = max(int(6_000_000 * sf), 2_000)
    n_ev = max(int(1_000_000 * sf), 1_000)
    n_doc = max(int(50_000 * sf), 500)
    n_emb = max(int(20_000 * sf), 500)
    day = 86_400_000_000
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    pk = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(ADJECTIVES, n_part), rng.choice(NOUNS, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
        }
    )
    o_start, o_end = _day_us(1995, 1, 1), _day_us(2001, 8, 1)
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(o_start + rng.integers(0, (o_end - o_start) // day + 1, n_ord) * day),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    l_start, l_end = _day_us(1995, 1, 2), _day_us(2001, 11, 4)
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(l_start + rng.integers(0, (l_end - l_start) // day + 1, n_li) * day),
        }
    )
    e_start = _day_us(2024, 1, 1)
    ts = np.sort(e_start + rng.integers(0, 30 * day, n_ev))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, max(n_cust // 10, 1), n_ev, dtype=np.int64)),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )
    # one document in twenty is a near-duplicate: an earlier text plus a token
    texts: list[str] = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(_text(rng, int(rng.integers(10, 100))))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": rng.choice(LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def generate(out_dir: str, sf: float, seed: int) -> str:
    """Write the tables under ``out_dir`` unless a complete set is there."""
    stamp = {"sf": sf, "seed": seed}
    done = os.path.join(out_dir, DONE)
    if os.path.exists(done):
        with open(done) as f:
            if json.load(f) == stamp:
                return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as f:
        json.dump(stamp, f)
    return out_dir

