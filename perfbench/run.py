#!/usr/bin/env python3
"""Layered benchmark of the anonymizer engine's registry queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) from one process at
``local[nproc / 2]`` on the synthetic tables of ``datagen.py``, through the
package's public entry points only (``session.get_spark``,
``queries.QUERIES``, ``sources.sinks.write_parquet``).

Each op's wall time is split three ways:

- construction: the ``QUERIES[name](spark, data_dir)`` call;
- planning: forcing ``executedPlan`` on the Dataset that consumes the op;
- execution: the action (checksum collect, or the parquet write).

A run starts the session and makes one untimed warm-up pass, which pays each
op's first-run cost (class loading, code generation, JIT, Python workers).
The workload's fixed number of timed passes follows; ``--seconds`` is
accepted but does not size the run (see ``Workload.passes``). The seed
permutes the op order of every pass. Every op runs under its own job group
with a deadline, and its checksum is
compared with ``expected.json``. Between ops, outside the timed region, the
cache is cleared, persisted RDDs are unpersisted and leftover streams and
temp views are dropped.

The last stdout line is one JSON object ``{correct, attempted, failed,
metrics}``: the end-to-end metrics with ``--trace 0``, the per-layer metrics
with ``--trace 1`` (event log, streaming listener and module spans on; see
``tracing.py``). A full report (host stamp, per-op samples, failures) goes to
stderr as one JSON line prefixed ``perfbench-report``.

End-to-end metrics, all from the timed passes except ``setup_s``. An op's
latency is construction + planning + execution, and each op's typical
latency is its median over the timed passes:

- ``setup_s``: session start (JVM launch and ``get_spark``) plus the
  warm-up pass, up to the first timed op;
- ``pass_s``: one pass over the workload, the sum of the ops' medians;
- ``op_p50_s``: the median of the ops' medians;
- ``op_tail_s``: over the ops' medians, the highest percentile with at
  least ten ops beyond it (the slowest op when there are ten or fewer); the
  percentile and the op count go to the report;
- ``peak_rss_mb``: peak resident memory (VmHWM) of the driver JVM plus this
  Python process.

The four times are in reference-host seconds: each is the measured time
multiplied by ``PROBE_REF_S`` over the mean time of the host probe
(``host_probe``). The probe runs with the JVM and its Python workers
stopped, before the first timed pass and after each one. It is fixed work
that uses no part of the program and runs while none of it does, so a
slower program reads slower while a slower host mostly does not. The
measured times and the probes go to the report.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# generated inputs and per-run scratch live here; .gitignore names it
WORK = os.path.join(ROOT, ".perfbench")
# a fixed heap and young generation, so the JVM's resident peak follows the
# data ops keep alive rather than the collector's adaptive sizing
DRIVER_HEAP = "2g"
DRIVER_YOUNG = "512m"
OP_DEADLINE_S = 60.0
# no op starts after RUN_BUDGET_S and none runs past RUN_DEADLINE_S, so a
# run with hung ops still ends within 180 s
RUN_BUDGET_S = 150.0
RUN_DEADLINE_S = 165.0
# tail percentile: the highest one with at least this many ops beyond it
TAIL_BEYOND = 10
# host speed probe: fixed single-threaded Python work (a sort and an integer
# loop), timed PROBE_REPS times. PROBE_REF_S is its median on an idle 4-vCPU
# VM: times are reported in seconds of a host that runs the probe that fast.
# Of the probes tried (this one, parallel zlib and parallel sha256 threads),
# it tracked the drift of op_p50_s and pass_s best
PROBE_REPS = 7
PROBE_REF_S = 0.064
REPORT_KEYS = (
    "op", "tag", "ok", "construct_s", "plan_s", "exec_s", "verify_s", "reset_s", "pins", "pins_left",
)

sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
from workloads import (  # noqa: E402
    DATA_SEED,
    DATA_SF,
    WORKLOADS,
    checksum_files,
    checksum_frame,
    checksum_value,
)


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident memory of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for process {pid}")


def host_probe() -> float:
    """Median seconds of one round of the probe's fixed work."""
    rng = random.Random(0)
    xs = [rng.random() for _ in range(200_000)]
    times = []
    for _ in range(PROBE_REPS):
        t0 = time.perf_counter()
        sorted(xs)
        acc = 0
        for i in range(300_000):
            acc = (acc * 31 + i) & 0xFFFFFFFF
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def process_tree(root: int) -> list[int]:
    """``root`` and every live process descended from it."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass  # the process ended while being read
    tree = [root]
    for pid in tree:  # breadth-first; the list grows while it is walked
        tree.extend(c for c, pp in parent.items() if pp == pid)
    return tree


@contextlib.contextmanager
def frozen(root: int):
    """Stop ``root`` and its descendants (the JVM and its Python workers)
    while the block runs, so that nothing of the program runs beside it."""
    stopped = []
    try:
        for pid in process_tree(root):
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGSTOP)
                stopped.append(pid)
        yield
    finally:
        for pid in stopped:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGCONT)


def host_state() -> dict:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    psi = {}
    for res in ("cpu", "memory", "io"):
        try:
            with open(f"/proc/pressure/{res}") as f:
                psi[res] = f.read().split("\n")[0]
        except OSError:
            psi[res] = None
    # steal: ticks the hypervisor ran something else on this machine's CPUs
    return {"loadavg": list(os.getloadavg()), "psi": psi, "cpu_steal_ticks": int(cpu[8])}


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.lstat(os.path.join(dp, fn)).st_size
            except OSError:
                pass
    return total


def tail(samples: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest order statistic with at least
    TAIL_BEYOND samples above it; the maximum when there are too few."""
    xs = sorted(samples)
    n = len(xs)
    if n <= TAIL_BEYOND:
        return xs[-1], 100.0
    return xs[n - 1 - TAIL_BEYOND], 100.0 * (n - TAIL_BEYOND) / n


class Session:
    """The Spark session of one run plus the per-op execution harness."""

    def __init__(self, run_dir: str, cores: int, trace: bool):
        from mysql_data_anonymizer_spark.session import EngineConfig, get_spark

        tmp = os.path.join(run_dir, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_HEAP,
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Xmn{DRIVER_YOUNG} "
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(tmp, 'derby')}",
        }
        if trace:
            self.event_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(self.event_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                    "spark.eventLog.dir": self.event_dir,
                }
            )
        self.spark = get_spark(
            "perfbench", EngineConfig(extra_spark_conf=conf), master=f"local[{cores}]"
        )
        self.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        gateway = self.sc._gateway  # noqa: SLF001
        self.spark.stop()
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)

    def persisted(self) -> tuple[int, int]:
        """(persisted RDDs, their memory + disk bytes)."""
        jsc = self.sc._jsc  # noqa: SLF001
        ids = set(int(k) for k in jsc.getPersistentRDDs().keySet().toArray())
        size = 0
        for info in jsc.sc().getRDDStorageInfo():
            if int(info.id()) in ids:
                size += int(info.memSize()) + int(info.diskSize())
        return len(ids), size

    def reset(self) -> None:
        """Drop everything an op may have left in the session."""
        for q in self.spark.streams.active:
            q.stop()
        self.spark.streams.resetTerminated()
        self.spark.catalog.clearCache()
        for rdd in list(self.sc._jsc.getPersistentRDDs().values()):  # noqa: SLF001
            rdd.unpersist(True)
        for t in self.spark.catalog.listTables():
            if t.isTemporary:
                self.spark.catalog.dropTempView(t.name)

    def run_op(
        self, name: str, data_dir: str, sink_dir: str | None, tag: str, deadline_s: float
    ) -> dict:
        """Construct, plan and execute one op under its own job group and
        deadline. Returns timings, persisted-RDD counts and the checksum."""
        from mysql_data_anonymizer_spark.queries import QUERIES
        from mysql_data_anonymizer_spark.sources.sinks import write_parquet

        group = f"perfbench-{tag}-{name}"
        # the op thread writes only into ``out``, and the result copies it
        # only when the thread ended within the deadline: an op that finishes
        # late stays failed and its figures never reach the medians
        out: dict = {}

        def body() -> None:
            # phase -> (start, end) in epoch seconds, to attribute Spark jobs
            windows = out["windows"] = {}
            try:
                self.sc.setJobGroup(group, name, interruptOnCancel=True)
                t0, w0 = time.perf_counter(), time.time()
                df = QUERIES[name](self.spark, data_dir)
                t1, w1 = time.perf_counter(), time.time()
                windows["construct"] = (w0, w1)
                out["construct_s"] = t1 - t0
                out["pins"], out["pin_bytes"] = self.persisted()
                t1, w1 = time.perf_counter(), time.time()
                consumer = df if sink_dir else checksum_frame(df)
                consumer._jdf.queryExecution().executedPlan()  # noqa: SLF001
                t2, w2 = time.perf_counter(), time.time()
                windows["plan"] = (w1, w2)
                out["plan_s"] = t2 - t1
                if sink_dir:
                    write_parquet(df, sink_dir)
                else:
                    out["checksum"] = checksum_value(consumer.collect()[0])
                t3, w3 = time.perf_counter(), time.time()
                windows["exec"] = (w2, w3)
                out["exec_s"] = t3 - t2
                out["latency_s"] = out["construct_s"] + out["plan_s"] + out["exec_s"]
                out["pins_left"], _ = self.persisted()
                if sink_dir:
                    out["checksum"] = checksum_files(sink_dir)
                out["verify_s"] = time.perf_counter() - t3
                out["ok"] = True
            except Exception as e:  # noqa: BLE001 - any op failure is a failed op
                out["error"] = f"{type(e).__name__}: {str(e).split(chr(10), 1)[0][:300]}"

        th = threading.Thread(target=body, name=f"op-{name}", daemon=True)
        th.start()
        th.join(deadline_s)
        if not th.is_alive():
            return {"op": name, "ok": False, **out}
        self.sc.cancelJobGroup(group)
        for q in self.spark.streams.active:
            q.stop()
        th.join(5.0)
        return {"op": name, "ok": False, "error": f"deadline: no result after {deadline_s:.0f}s"}


def check(res: dict, expected: dict) -> None:
    """Mark ``res`` failed unless its checksum matches the recorded one."""
    if not res["ok"]:
        return
    want = expected.get(res["op"])
    if want is None:
        res.update(ok=False, error="no expected checksum recorded")
        return
    got = res["checksum"]
    same = got[0] == want["checksum"][0] if want.get("rows_only") else got == want["checksum"]
    if not same:
        res.update(ok=False, error=f"checksum {got} != expected {want['checksum']}")


def main() -> None:
    ap = argparse.ArgumentParser(description="anonymizer engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "mysql_data_anonymizer_spark")):
        die(f"package mysql_data_anonymizer_spark not found under {ROOT}")
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)["workloads"].get(args.workload, {})

    data_dir = datagen.generate(
        os.path.join(WORK, f"data-sf{DATA_SF}-seed{DATA_SEED}"), DATA_SF, DATA_SEED
    )
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    try:
        out = measure(WORKLOADS[args.workload], args, expected, data_dir, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))


def measure(wl, args, expected: dict, data_dir: str, run_dir: str) -> dict:
    run_start = time.perf_counter()
    host_start = host_state()
    # host probe times, taken with the program stopped before the first
    # timed pass and after each one
    probes: list[float] = []
    # half the CPUs run tasks; the rest stay free for the driver's own work
    # (planning, JIT and GC threads, py4j, the Python driver). On a 4-vCPU
    # VM, pass_s spread 17% between runs at local[4] and 7% at local[2], at
    # about the same pass time
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp_dir = os.path.join(run_dir, "tmp")
    os.makedirs(tmp_dir)
    # every temp file the engine, its JVM and its Python workers make lands
    # in this run's own directory, so what is left at the end is the leak
    os.environ["TMPDIR"] = tmp_dir
    tempfile.tempdir = None

    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        tracer.install()

    t0 = time.perf_counter()
    sess = Session(run_dir, cores, bool(args.trace))
    session_start_s = time.perf_counter() - t0
    if tracer:
        tracer.attach(sess.spark)

    sink_root = os.path.join(run_dir, "sink") if wl.sink else None
    results: list[dict] = []

    def one_pass(tag: str, order: list[str]) -> None:
        for name in order:
            elapsed = time.perf_counter() - run_start
            if elapsed > RUN_BUDGET_S:
                res = {"op": name, "ok": False, "error": "run budget exhausted"}
            else:
                sink = os.path.join(sink_root, name) if sink_root else None
                if tracer:
                    tracer.begin(tag, name)
                deadline = min(OP_DEADLINE_S, RUN_DEADLINE_S - elapsed)
                res = sess.run_op(name, data_dir, sink, tag, deadline)
                if tracer:
                    tracer.end()
                check(res, expected)
                if sink:
                    res["sink_bytes"] = dir_bytes(sink)
                    res["sink_files"] = sum(
                        1 for _, _, fs in os.walk(sink) for f in fs if f.startswith("part-")
                    )
                    shutil.rmtree(sink, ignore_errors=True)
                t0 = time.perf_counter()
                sess.reset()
                res["reset_s"] = time.perf_counter() - t0
            res["tag"] = tag
            results.append(res)

    try:
        rng = random.Random(args.seed)

        def shuffled() -> list[str]:
            order = list(wl.ops)
            rng.shuffle(order)
            return order

        # set-up ends with one untimed pass: it pays each op's first-run
        # cost (class loading, code generation, JIT, Python workers)
        t0 = time.perf_counter()
        one_pass("warmup", shuffled())
        warmup_s = time.perf_counter() - t0
        with frozen(sess.jvm_pid):
            probes.append(host_probe())
        passes: list[dict] = []
        for k in range(wl.passes):
            order = shuffled()
            t0 = time.perf_counter()
            one_pass(f"p{k}", order)
            passes.append({"order": order, "wall_s": time.perf_counter() - t0})
            with frozen(sess.jvm_pid):
                probes.append(host_probe())
        rss_mb = vm_hwm_mb(sess.jvm_pid) + vm_hwm_mb("self")
        if tracer:
            time.sleep(1.0)  # let the listener bus deliver the last progress events
    finally:
        sess.close()

    # the host's speed drifts by 2x and more within minutes, far more than a
    # run can average out; the probes around the timed passes follow that
    # drift and nothing of the program
    speed = PROBE_REF_S / statistics.mean(probes)

    tags = [f"p{k}" for k in range(len(passes))]
    timed = [r for r in results if r["tag"] in tags]
    per_op: dict[str, list[float]] = {}
    for r in timed:
        if "latency_s" in r:
            per_op.setdefault(r["op"], []).append(r["latency_s"])
    op_medians = sorted(statistics.median(v) for v in per_op.values()) or [0.0]
    tail_s, tail_pct = tail(op_medians)
    tmp_leak_mb = dir_bytes(tmp_dir) / 1e6
    failures = [
        {"op": r["op"], "tag": r["tag"], "error": r.get("error")} for r in results if not r["ok"]
    ]
    raw_s = {
        "setup_s": session_start_s + warmup_s,
        # one pass as the sum of each op's median over the timed passes
        "pass_s": sum(op_medians),
        "op_p50_s": statistics.median(op_medians),
        "op_tail_s": tail_s,
    }
    metrics = {k: (v * speed, "s") for k, v in raw_s.items()}
    metrics["peak_rss_mb"] = (rss_mb, "MB")
    baseline = os.path.join(WORK, f"untraced-{wl.name}.json")
    if tracer:
        metrics = tracer.metrics(
            results,
            tags,
            cores,
            session_start_s=session_start_s,
            warmup_s=warmup_s,
            pass_s=raw_s["pass_s"],
            tmp_leak_mb=tmp_leak_mb,
            event_dir=sess.event_dir,
            baseline_path=baseline,
            spans_path=os.path.join(WORK, f"spans-{wl.name}.json"),
        )
    else:
        with open(baseline, "w") as f:
            json.dump({"pass_s": raw_s["pass_s"]}, f)

    report = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "host": {
            "nproc": len(os.sched_getaffinity(0)),
            "master": f"local[{cores}]",
            "driver_heap": DRIVER_HEAP,
            "driver_young": DRIVER_YOUNG,
            "spark_graft_env": {k: v for k, v in os.environ.items() if k.startswith("SPARK_GRAFT_")},
            "start": host_start,
            "end": host_state(),
        },
        "data": {"sf": DATA_SF, "seed": DATA_SEED},
        "host_probe": {"probe_s": probes, "ref_s": PROBE_REF_S, "speed": speed},
        "raw_s": raw_s,
        "op_tail": {
            "rule": "highest percentile of the ops' median latencies with at least 10 ops beyond it",
            "value_s": tail_s * speed,
            "percentile": tail_pct,
            "ops": len(per_op),
        },
        "failed_op_ratio": len(failures) / len(results),
        "tmp_leak_mb": tmp_leak_mb,
        "passes": passes,
        "setup": {"session_start_s": session_start_s, "warmup_s": warmup_s},
        "ops": [
            {k: (round(v, 4) if isinstance(v, float) else v) for k, v in r.items() if k in REPORT_KEYS}
            for r in results
        ],
        "failures": failures,
        "run_s": time.perf_counter() - run_start,
    }
    print("perfbench-report " + json.dumps(report), file=sys.stderr)
    return {
        "correct": not failures,
        "attempted": len(results),
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    main()
