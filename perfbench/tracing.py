"""Per-layer tracing for ``run.py --trace 1``.

Three sources, all held in memory and folded into per-pass numbers at the
end of the run:

- module spans: thin wrappers around the public functions of the engine's
  modules (``LAYERS``). Each call records its layer, start, duration, parent
  span and self time (duration minus the time its child spans cover), and
  sets the span id as the Spark local property ``perfbench.span`` so the
  jobs it starts can be mapped back to it.
- the Spark event log (uncompressed JSON lines), read after the session
  stops: jobs, stages and task metrics, attributed to an op phase by the
  job's submission time, plus the SQL metrics of Python-boundary plan nodes.
- a ``StreamingQueryListener``: one progress record per micro-batch.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import itertools
import json
import os
import statistics
import sys
import threading
import time
from collections import defaultdict

PKG = "mysql_data_anonymizer_spark"
# layer -> (module, names); names=None wraps every public function defined
# in the module (and, for a package, in each of its submodules)
LAYERS = {
    "plans.compile_plan": ("plans.compiler", ["compile_plan"]),
    "anonymizer": ("anonymizer", ["Anonymizer.run", "remap_keys", "masking_report"]),
    "operators.dedup": ("operators.dedup", None),
    "operators.similarity": ("operators.similarity", None),
    "operators.text": ("operators.text", None),
    "operators.privacy": ("operators.privacy", None),
    "streaming.stream_ops": ("streaming.stream_ops", None),
    "sources": ("sources", None),
}
SOURCES_SUBMODULES = ["files", "jdbc", "sinks", "layout", "bucketing", "pydatasource"]
# plan nodes that cross into Python workers (pandas/Arrow UDFs, grouped and
# cogrouped maps, mapInPandas/mapInArrow, Python UDTFs)
PY_NODE_MARKERS = ("Python", "Pandas", "InArrow")


def _targets(module: str, names: list[str] | None):
    """(owner, attribute name, function) triples to wrap."""
    mod = importlib.import_module(f"{PKG}.{module}")
    if names is not None:
        for dotted in names:
            owner = mod
            *path, attr = dotted.split(".")
            for p in path:
                owner = getattr(owner, p)
            yield owner, attr, getattr(owner, attr)
        return
    mods = [mod]
    if module == "sources":
        mods = [importlib.import_module(f"{PKG}.sources.{m}") for m in SOURCES_SUBMODULES]
    for m in mods:
        for attr, fn in vars(m).items():
            if inspect.isfunction(fn) and fn.__module__ == m.__name__ and not attr.startswith("_"):
                yield m, attr, fn


def _listener(sink: list):
    """A StreamingQueryListener that appends each progress record to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


class Tracer:
    def __init__(self):
        self.sc = None
        self.tag = None
        self.op = None
        self.spans: list[tuple] = []
        self.progress: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    # -- module spans -------------------------------------------------------

    def install(self) -> None:
        """Wrap every target function, in its defining module and wherever
        the package has already bound the same object under another name."""
        importlib.import_module(f"{PKG}.queries")
        loaded = [m for n, m in list(sys.modules.items()) if n.startswith(PKG) and m]
        for layer, (module, names) in LAYERS.items():
            for owner, attr, fn in list(_targets(module, names)):
                wrapped = self._wrap(fn, layer)
                setattr(owner, attr, wrapped)
                for m in loaded:
                    for k, v in list(vars(m).items()):
                        if v is fn:
                            setattr(m, k, wrapped)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def span(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1][0] if stack else None
            sc = tracer.sc
            prev = sc.getLocalProperty("perfbench.span") if sc else None
            if sc:
                sc.setLocalProperty("perfbench.span", f"{layer}#{sid}")
            stack.append([sid, 0.0])
            w0, t0 = time.time(), time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                _, child = stack.pop()
                if stack:
                    stack[-1][1] += dt
                tracer.spans.append((tracer.tag, tracer.op, layer, sid, parent, w0, dt, dt - child))
                if sc:
                    sc.setLocalProperty("perfbench.span", prev)

        return span

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext
        spark.streams.addListener(_listener(self.progress))

    def begin(self, tag: str, op: str) -> None:
        self.tag, self.op = tag, op

    def end(self) -> None:
        self.tag = self.op = None

    # -- folding ------------------------------------------------------------

    def metrics(self, results, tags, cores, *, session_start_s, warmup_s, pass_s,
                tmp_leak_mb, event_dir, baseline_path, spans_path) -> dict:
        """Per-layer metrics: each is the median over the timed passes
        ``tags`` of its per-pass total, so the warm-up pass never counts."""
        per = {t: defaultdict(float) for t in tags}
        windows = []  # (start, end, tag, phase)
        for r in results:
            if r["tag"] not in per:
                continue
            d = per[r["tag"]]
            for k in ("construct_s", "plan_s", "exec_s", "pins", "pin_bytes", "pins_left"):
                d[k] += r.get(k, 0)
            if "sink_bytes" in r:
                d["sink.write_s"] += r.get("exec_s", 0.0)
                d["sink.bytes"] += r["sink_bytes"]
                d["sink.files"] += r["sink_files"]
            for phase, (a, b) in r.get("windows", {}).items():
                windows.append((a, b, r["tag"], phase))
        windows.sort()

        # module spans attribute construction: count those started in it
        for _, _, layer, _, _, start, _, self_s in self.spans:
            hit = _phase_at(windows, start)
            if hit and hit[1] == "construct":
                per[hit[0]][f"span.{layer}_s"] += self_s

        span_jobs = _fold_event_log(event_dir, windows, per)
        _fold_progress(self.progress, windows, per)

        for d in per.values():
            d["exec.core_util"] = d["exec.task_run_s"] / (d["exec_s"] * cores) if d["exec_s"] else 0.0
            d["exec.task_skew"] = d.pop("skew_max", 0.0)

        def med(key):
            return statistics.median(per[t].get(key, 0.0) for t in tags)

        base = None
        if os.path.exists(baseline_path):
            with open(baseline_path) as f:
                base = json.load(f)["pass_s"]
        failed = sum(1 for r in results if not r["ok"])
        with open(spans_path, "w") as f:
            json.dump(
                {
                    "fields": ["tag", "op", "layer", "id", "parent", "start", "dur_s", "self_s"],
                    "spans": self.spans,
                    "jobs_by_span_layer": span_jobs,
                },
                f,
            )

        out = {
            "session.start_s": (session_start_s, "s"),
            "session.warmup_s": (warmup_s, "s"),
            "construct_s": (med("construct_s"), "s"),
            "construct.jobs": (med("construct.jobs"), "count"),
            "construct.pins": (med("pins"), "count"),
            "construct.pin_bytes": (med("pin_bytes"), "bytes"),
            "pins_left": (med("pins_left"), "count"),
        }
        for layer in LAYERS:
            out[f"span.{layer}_s"] = (med(f"span.{layer}_s"), "s")
        out["plan_s"] = (med("plan_s"), "s")
        for key, unit in [
            ("exec_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
            ("exec.tasks", "count"), ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"),
            ("exec.gc_s", "s"), ("exec.core_util", "ratio"), ("exec.scan_bytes", "bytes"),
            ("exec.shuffle_read_bytes", "bytes"), ("exec.shuffle_write_bytes", "bytes"),
            ("exec.spill_bytes", "bytes"), ("exec.task_skew", "ratio"),
            ("py.rows", "count"), ("py.bytes_sent", "bytes"), ("py.bytes_received", "bytes"),
            ("py.worker_s", "s"),
            ("stream.batches", "count"), ("stream.trigger_s", "s"), ("stream.add_batch_s", "s"),
            ("stream.query_planning_s", "s"), ("stream.wal_commit_s", "s"),
            ("stream.state_stores", "count"), ("stream.state_rows", "count"),
            ("stream.state_mem_bytes", "bytes"),
            ("sink.write_s", "s"), ("sink.bytes", "bytes"), ("sink.files", "count"),
        ]:
            out[key] = (med(key), unit)
        out["trace.pass_s"] = (pass_s, "s")
        out["trace.overhead_s"] = (pass_s - base if base is not None else 0.0, "s")
        out["tmp.leak_mb"] = (tmp_leak_mb, "MB")
        out["failed_op_ratio"] = (failed / len(results), "ratio")
        return out


def _phase_at(windows, t):
    """(tag, phase) of the window holding epoch time ``t``, else None."""
    for a, b, tag, phase in windows:
        if a <= t <= b:
            return tag, phase
        if a > t:
            break
    return None


def _plan_accumulators(info: dict, out: dict) -> None:
    name = info.get("nodeName", "")
    if any(m in name for m in PY_NODE_MARKERS):
        for m in info.get("metrics", []):
            out[m["accumulatorId"]] = m["name"]
    for child in info.get("children", []):
        _plan_accumulators(child, out)


def _fold_event_log(event_dir: str, windows, per) -> dict:
    """Add jobs, stages and task metrics of each timed phase into ``per``;
    return the number of jobs started under each span layer."""
    paths = glob.glob(os.path.join(event_dir, "*"))
    job_phase = {}
    stage_phase = {}
    py_acc: dict[int, str] = {}
    task_times = defaultdict(list)
    span_jobs = defaultdict(int)
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    span = (ev.get("Properties") or {}).get("perfbench.span")
                    if span:
                        span_jobs[span.split("#")[0]] += 1
                    hit = _phase_at(windows, ev["Submission Time"] / 1000.0)
                    if hit is None:
                        continue
                    tag, phase = hit
                    job_phase[ev["Job ID"]] = hit
                    for sid in ev["Stage IDs"]:
                        stage_phase[sid] = hit
                    if phase in ("construct", "exec"):
                        per[tag][f"{phase}.jobs"] += 1
                elif kind == "SparkListenerStageSubmitted":
                    hit = stage_phase.get(ev["Stage Info"]["Stage ID"])
                    if hit and hit[1] == "exec":
                        per[hit[0]]["exec.stages"] += 1
                elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
                    "SparkListenerSQLAdaptiveExecutionUpdate"
                ):
                    _plan_accumulators(ev.get("sparkPlanInfo", {}), py_acc)
                elif kind == "SparkListenerTaskEnd":
                    hit = stage_phase.get(ev["Stage ID"])
                    if hit is None:
                        continue
                    tag, phase = hit
                    d = per[tag]
                    for acc in ev["Task Info"].get("Accumulables", []):
                        name = py_acc.get(acc.get("ID"))
                        if name is None:
                            continue
                        upd = float(acc.get("Update", 0) or 0)
                        if "sent to Python" in name:
                            d["py.bytes_sent"] += upd
                        elif "returned from Python" in name:
                            d["py.bytes_received"] += upd
                        elif name == "number of output rows":
                            d["py.rows"] += upd
                        elif name == "time to run Python workers":  # ms
                            d["py.worker_s"] += upd / 1000.0
                    if phase != "exec":
                        continue
                    m = ev.get("Task Metrics") or {}
                    info = ev["Task Info"]
                    d["exec.tasks"] += 1
                    d["exec.task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    d["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    d["exec.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    d["exec.scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    d["exec.shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    d["exec.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    d["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    task_times[(tag, ev["Stage ID"], ev["Stage Attempt ID"])].append(
                        info["Finish Time"] - info["Launch Time"]
                    )
    for (tag, _, _), ts in task_times.items():
        if len(ts) > 1:
            mid = statistics.median(ts)
            ratio = max(ts) / mid if mid > 0 else 1.0
            per[tag]["skew_max"] = max(per[tag].get("skew_max", 0.0), ratio)
    return dict(span_jobs)


def _epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _fold_progress(progress: list[dict], windows, per) -> None:
    last = {}
    for p in progress:
        hit = _phase_at(windows, _epoch(p["timestamp"]))
        if hit is None:
            continue
        d = per[hit[0]]
        dur = p.get("durationMs") or {}
        d["stream.batches"] += 1
        d["stream.trigger_s"] += dur.get("triggerExecution", 0) / 1000.0
        d["stream.add_batch_s"] += dur.get("addBatch", 0) / 1000.0
        d["stream.query_planning_s"] += dur.get("queryPlanning", 0) / 1000.0
        d["stream.wal_commit_s"] += dur.get("walCommit", 0) / 1000.0
        ops = p.get("stateOperators") or []
        d["stream.state_stores"] += sum(o.get("numStateStoreInstances", 0) for o in ops)
        last[(hit[0], p["runId"])] = ops
    for (tag, _), ops in last.items():
        per[tag]["stream.state_rows"] += sum(o.get("numRowsTotal", 0) for o in ops)
        per[tag]["stream.state_mem_bytes"] += sum(o.get("memoryUsedBytes", 0) for o in ops)
