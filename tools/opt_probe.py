"""Optimization probe (guide §1): time one query in isolation and capture
its plan.

For each named query: builds the DataFrame (plan-construction timed
separately), times `reps` executions with the noop sink (computes every
column, no sink cost) AND with the bench's `.count()` consumer (the
driver-comparable number), and writes `.explain("formatted")` to
plans/<round>/<query>_<tag>.txt (default round: r13).

Usage:
    python tools/opt_probe.py [--sf SF_DIR] [--tag before|after] [--reps N]
        [--round rNN] [--no-plan] query [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mysql_data_anonymizer_spark.session import get_spark, release  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]

    def opt(name, default):
        if name in argv:
            i = argv.index(name)
            v = argv[i + 1]
            del argv[i : i + 2]
            return v
        return default

    sf_dir = opt("--sf", "/root/testdata/sf0.1")
    tag = opt("--tag", "probe")
    reps = int(opt("--reps", "3"))
    rnd = opt("--round", "r13")
    want_plan = "--no-plan" not in argv
    if not want_plan:
        argv.remove("--no-plan")
    names = argv

    spark = get_spark("mda-opt-probe")
    import mysql_data_anonymizer_spark.queries as Q

    plan_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", rnd)
    os.makedirs(plan_dir, exist_ok=True)

    for name in names:
        fn = Q.QUERIES[name]
        # warmup (JIT/codegen) on sf0.001 like bench.py
        warm = sf_dir.replace("sf0.1", "sf0.001")
        if os.path.isdir(warm):
            try:
                fn(spark, warm).count()
            except Exception as exc:  # noqa: BLE001
                print(f"# warmup {name} failed: {exc}", file=sys.stderr)
        release(spark)

        noop_t, count_t, build_t = [], [], []
        for r in range(reps):
            spark.sparkContext.setJobDescription(f"{name} [{tag}] rep{r}")
            t0 = time.time()
            df = fn(spark, sf_dir)
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
            build_t.append(t1 - t0)
            noop_t.append(t2 - t1)
            release(spark)
            t0 = time.time()
            n = fn(spark, sf_dir).count()
            count_t.append(time.time() - t0)
            release(spark)
        if want_plan:
            df = fn(spark, sf_dir)
            with open(os.path.join(plan_dir, f"{name}_{tag}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                    df._jdf.queryExecution(), "formatted"
                ))
        noop_t.sort(); count_t.sort(); build_t.sort()
        med = lambda xs: xs[len(xs) // 2]  # noqa: E731
        print(
            f"{name}: rows={n} build={med(build_t):.3f}s "
            f"noop={med(noop_t):.3f}s {[round(x,3) for x in noop_t]} "
            f"count={med(count_t):.3f}s {[round(x,3) for x in count_t]}"
        )


if __name__ == "__main__":
    main()
