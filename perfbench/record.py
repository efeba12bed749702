#!/usr/bin/env python3
"""Record the expected checksum of every benchmark op into expected.json.

    python3 perfbench/record.py [op ...]

For each op of every workload (or only the named ops, in every workload
that holds them), on the benchmark inputs:

1. its rows are compared with its DuckDB oracle (``queries.ORACLES``):
   same column names, same row count, and the same sorted values, doubles
   compared by exact ``repr``;
2. it is consumed twice the way ``run.py`` consumes it; when the two
   checksums differ the op is checked by row count alone (``rows_only``).

Checksums are kept per workload, because a sink workload consumes an op
differently from a collecting one. Ops whose rows do not match their oracle
are recorded with the mismatch and no checksum, so ``run.py`` counts them as
failed.
"""

from __future__ import annotations

import decimal
import json
import math
import os
import shutil
import sys
import tempfile

import duckdb

import run
from workloads import DATA_SEED, DATA_SF, WORKLOADS


def norm(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    return str(v)


def sorted_rows(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


def oracle_check(spark, con, name: str, data_dir: str) -> str:
    from mysql_data_anonymizer_spark.queries import ORACLES, QUERIES

    sdf = QUERIES[name](spark, data_dir)
    scols, srows = sdf.columns, sdf.collect()
    res = con.sql(ORACLES[name])
    dcols, drows = res.columns, res.fetchall()
    if sorted(scols) != sorted(dcols):
        return f"columns differ: spark={sorted(scols)} duckdb={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"row count differs: spark={len(srows)} duckdb={len(drows)}"
    a, b = sorted_rows(scols, srows), sorted_rows(dcols, drows)
    if a != b:
        diff = next((x, y) for x, y in zip(a, b) if x != y)
        return f"values differ, first: spark={diff[0]} duckdb={diff[1]}"
    return "match"


def main() -> None:
    only = set(sys.argv[1:])
    path = os.path.join(run.HERE, "expected.json")
    doc = {"data": {"sf": DATA_SF, "seed": DATA_SEED}, "workloads": {}}
    if os.path.exists(path):
        with open(path) as f:
            old = json.load(f)
        if old.get("data") == doc["data"]:
            for wl in WORKLOADS.values():
                prev = old["workloads"].get(wl.name, {})
                doc["workloads"][wl.name] = {k: v for k, v in prev.items() if k in wl.ops}

    data_dir = run.datagen.generate(
        os.path.join(run.WORK, f"data-sf{DATA_SF}-seed{DATA_SEED}"), DATA_SF, DATA_SEED
    )
    run_dir = tempfile.mkdtemp(prefix="record-", dir=run.WORK)
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.makedirs(os.environ["TMPDIR"])
    tempfile.tempdir = None
    sess = run.Session(run_dir, len(os.sched_getaffinity(0)), trace=False)
    con = duckdb.connect()
    for t in run.datagen.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")

    for wl in WORKLOADS.values():
        for name in wl.ops:
            if only and name not in only:
                continue
            sums = []
            for k in range(2):
                sink = os.path.join(run_dir, "sink", name) if wl.sink else None
                res = sess.run_op(name, data_dir, sink, f"record{k}", run.OP_DEADLINE_S)
                sess.reset()
                if not res["ok"]:
                    break
                sums.append(res["checksum"])
            if len(sums) < 2:
                entry = {"checksum": None, "oracle": f"op failed: {res.get('error')}"}
            else:
                try:
                    verdict = oracle_check(sess.spark, con, name, data_dir)
                except Exception as e:  # noqa: BLE001
                    verdict = f"oracle run failed: {type(e).__name__}: {str(e).split(chr(10), 1)[0]}"
                sess.reset()
                entry = {
                    "checksum": sums[0] if verdict == "match" else None,
                    "oracle": verdict,
                }
                if verdict == "match" and sums[0] != sums[1]:
                    entry["rows_only"] = True
            doc["workloads"].setdefault(wl.name, {})[name] = entry
            print(f"{wl.name:16s} {name:32s} {entry}", flush=True)
            with open(path, "w") as f:
                json.dump(doc, f, indent=1, sort_keys=True)
                f.write("\n")
    sess.spark.stop()
    shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
