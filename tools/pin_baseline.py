"""Pin a bench.py run as the per-query baseline (BASELINE_BENCH.json).

bench.py prints one JSON line with per-query medians; this tool stores it
with provenance (git head, cpu count, sf) so later rounds diff a change's
`bench.py --queries <subset>` numbers against a PINNED snapshot instead of
the previous round's noisy tail (VERDICT r5 #7).

Usage:
    python bench.py > /tmp/bench.json
    python tools/pin_baseline.py /tmp/bench.json
    python tools/pin_baseline.py --check /tmp/bench.json   # report >2x regressions
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(REPO, "BASELINE_BENCH.json")


def _load_bench(path: str) -> dict:
    # bench.py emits exactly one JSON object line (queries-first); take the
    # last non-empty line so stray logging above it is harmless
    lines = [ln for ln in open(path).read().splitlines() if ln.strip()]
    return json.loads(lines[-1])


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--check"]
    check = "--check" in sys.argv
    if not args:
        sys.exit(__doc__)
    bench = _load_bench(args[0])
    if check:
        if not os.path.exists(OUT):
            sys.exit("no BASELINE_BENCH.json pinned yet")
        base = json.load(open(OUT))["queries"]
        regressions = []
        for q, sec in bench["queries"].items():
            ref = base.get(q)
            if ref is not None and ref > 0.05 and sec > 2.0 * ref:
                regressions.append(f"{q}: {ref:.2f}s -> {sec:.2f}s ({sec / ref:.1f}x)")
        for r in regressions:
            print("REGRESSION", r)
        print(f"{len(regressions)} regressions vs pinned baseline "
              f"({len(bench['queries'])} queries compared)")
        sys.exit(1 if regressions else 0)
    head = subprocess.run(
        ["git", "rev-parse", "--short", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()
    snapshot = {
        "pinned_at_head": head,
        "sf": bench.get("sf"),
        "reps": bench.get("reps"),
        "cpus": len(os.sched_getaffinity(0)),
        "total_sec": bench.get("value"),
        "queries": bench["queries"],
    }
    json.dump(snapshot, open(OUT, "w"), indent=1, sort_keys=True)
    print(f"pinned {len(bench['queries'])} query medians at {head} -> {OUT}")


if __name__ == "__main__":
    main()
