"""Diff-driven certification: figure out which registry queries are affected
by the working-tree / recent-commit changes and print the exact gate commands
for just that subset — so a growing registry (~250 queries) doesn't crowd
out per-change certification time (VERDICT r3, next-round #6).

The gates are ``tools/certify.py --queries <affected>`` at sf0.01 (the
PLANS.md scale) and at sf0.001 (the test scale), then the affected queries'
``bench.py --queries`` timing. Only a global-file change certifies the whole
registry at sf0.01, which regenerates PLANS.md.

Resolution rules (conservative — over-select rather than miss):
  - a changed line inside a top-level ``def`` in queries.py selects every
    query whose registered callable IS that function, plus every query whose
    source calls it;
  - a changed ``_register(fn, oracle)`` line selects the query ``fn``;
  - a changed top-level SQL constant (NAME_SQL / _gen_*_sql) selects every
    query whose source references it or whose ``_register`` call names it;
  - a change in an engine module (operators/, functions/, sources/, plans/,
    streaming/, multimodal/) selects every query whose source references the
    module's import name (e.g. ``dedup.`` for operators/dedup.py);
  - a change in session.py / __spark_entry__ / conftest / tools/certify.py
    selects EVERYTHING.

Usage:
    python tools/certify_changed.py [base_ref]      # default: HEAD
    python tools/certify_changed.py --run [base_ref]  # also execute gates

The diff is ``git diff <base_ref>`` (working tree vs base_ref), so the
default certifies uncommitted work; pass e.g. HEAD~3 to certify the last
three commits too.
"""

from __future__ import annotations

import ast
import os
import re
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

QUERIES_PATH = "mysql_data_anonymizer_spark/queries.py"
GLOBAL_PATHS = (
    "mysql_data_anonymizer_spark/session.py",
    "__spark_entry__.py",
    "tests/conftest.py",
    "tools/certify.py",
)


def git_diff_files(base: str) -> dict[str, set[int]]:
    """Changed file -> set of new-side line numbers (working tree vs base)."""
    out = subprocess.run(
        ["git", "diff", "-U0", base, "--", "*.py"],
        cwd=REPO, capture_output=True, text=True, check=True,
    ).stdout
    files: dict[str, set[int]] = {}
    cur = None
    for line in out.splitlines():
        if line.startswith("+++ b/"):
            cur = line[6:]
            files.setdefault(cur, set())
        elif line.startswith("@@") and cur is not None:
            m = re.search(r"\+(\d+)(?:,(\d+))?", line)
            if m:
                start = int(m.group(1))
                n = int(m.group(2)) if m.group(2) is not None else 1
                files[cur].update(range(start, start + max(n, 1)))
    return files


def _toplevel(tree: ast.Module):
    """Module-level statements, including those under a top-level ``if``
    (the runtime-gated registrations)."""
    for node in tree.body:
        yield node
        if isinstance(node, ast.If):
            yield from node.body + node.orelse


def toplevel_spans(tree: ast.Module) -> list[tuple[str, int, int]]:
    """(name, first_line, last_line) for every top-level def/assign."""
    spans = []
    for node in _toplevel(tree):
        name = None
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            name = node.name
        elif isinstance(node, ast.Assign) and len(node.targets) == 1 and isinstance(
            node.targets[0], ast.Name
        ):
            name = node.targets[0].id
        if name:
            spans.append((name, node.lineno, node.end_lineno or node.lineno))
    return spans


def registrations(tree: ast.Module) -> list[tuple[str, int, int, set[str]]]:
    """(query, first_line, last_line, names its oracle refers to) for every
    ``_register(fn, oracle)`` statement."""
    regs = []
    for node in _toplevel(tree):
        call = node.value if isinstance(node, ast.Expr) else None
        if isinstance(call, ast.Call) and getattr(call.func, "id", None) == "_register":
            refs = {n.id for arg in call.args[1:] for n in ast.walk(arg) if isinstance(n, ast.Name)}
            regs.append((call.args[0].id, node.lineno, node.end_lineno or node.lineno, refs))
    return regs


def affected_queries(base: str) -> tuple[list[str], bool]:
    import inspect

    import mysql_data_anonymizer_spark.queries as Q

    changed = git_diff_files(base)
    if any(p in changed for p in GLOBAL_PATHS):
        return sorted(Q.QUERIES), True

    # source text of each registered callable (queries share helpers, so we
    # match on referenced symbol names)
    qsrc = {}
    for name, fn in Q.QUERIES.items():
        try:
            qsrc[name] = inspect.getsource(fn)
        except (OSError, TypeError):
            qsrc[name] = ""

    hits: set[str] = set()

    # 1. queries.py line-level mapping
    if QUERIES_PATH in changed and changed[QUERIES_PATH]:
        lines = changed[QUERIES_PATH]
        tree = ast.parse(open(os.path.join(REPO, QUERIES_PATH)).read())
        regs = registrations(tree)
        hits.update(q for q, lo, hi, _ in regs if any(lo <= ln <= hi for ln in lines))
        for sym, lo, hi in toplevel_spans(tree):
            if not any(lo <= ln <= hi for ln in lines):
                continue
            if sym in Q.QUERIES:
                hits.add(sym)
            # function or SQL constant referenced by other queries' sources
            for name, src in qsrc.items():
                if re.search(rf"\b{re.escape(sym)}\b", src):
                    hits.add(name)
            # oracle strings are built from constants at import time: map a
            # constant to every registration whose oracle names it
            hits.update(q for q, _, _, used in regs if sym in used)

    # 2. engine-module mapping by import name
    for path in changed:
        if path == QUERIES_PATH or not path.startswith("mysql_data_anonymizer_spark/"):
            continue
        mod = os.path.splitext(os.path.basename(path))[0]
        for name, src in qsrc.items():
            if re.search(rf"\b{re.escape(mod)}\b", src):
                hits.add(name)

    return sorted(hits), False


def main() -> None:
    args = [a for a in sys.argv[1:] if a != "--run"]
    run = "--run" in sys.argv[1:]
    base = args[0] if args else "HEAD"
    names, everything = affected_queries(base)
    if not names:
        print("# no registry queries affected by the diff vs", base)
        return
    scope = "ALL (global file touched)" if everything else f"{len(names)} affected"
    print(f"# {scope} queries vs {base}:")
    print("#   " + " ".join(names))
    subset = ["--queries", ",".join(names)]
    cmds = [
        ["python3", "tools/certify.py", "/root/testdata/sf0.01", *([] if everything else subset)],
        ["python3", "tools/certify.py", "/root/testdata/sf0.001", *subset],
        # perf attribution (VERDICT r4 #7): time ONLY the affected queries,
        # so a regression shows up against the same entries in the last
        # BENCH_r*.json instead of hiding inside a full-sweep total
        ["python3", "bench.py", "--queries", ",".join(names)],
    ]
    for c in cmds:
        print("$ " + " ".join(c))
    if run:
        for c in cmds:
            rc = subprocess.run(c, cwd=REPO).returncode
            if rc != 0:
                sys.exit(rc)


if __name__ == "__main__":
    main()
