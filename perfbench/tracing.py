"""Traced-run instrumentation, kept entirely in the benchmark.

``Tracer`` wraps every public function of the package's layer modules
(``core``, ``functions``, ``operators``, ``plans``, ``sources``,
``streaming``) wherever the package bound it: module attributes,
re-imports under other names, and dict values such as
``plans.catalog.QUERIES``. Each wrapped call becomes a span (name, layer,
start, end, parent span, thread, trace id of the enclosing query call).
Spans stay in memory until the session ends.

Spark-side numbers come from the session's event log (jobs, stages,
tasks, SQL plans, streaming progress) and from py4j reads of
``CodegenMetrics`` and ``queryExecution().tracker()`` around each query
call. ``layer_metrics`` turns all of it into the per-layer metrics.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import math
import os
import statistics
import sys
import threading
import time
from datetime import datetime

from workloads import tail_percentile

PKG = "big_data_analysis_of_twitter_emoji_usage_spark"
LAYERS = ("core", "functions", "operators", "plans", "sources", "streaming")
ROLL, CONSOLIDATE = "roll_recent_into_store", "consolidate_bucket_history"


def layer_of(module_name: str) -> str | None:
    parts = module_name.split(".")
    if parts[0] != PKG or len(parts) < 2:
        return None
    # schemas.py holds the declared StructTypes the core loaders use
    return "core" if parts[1] == "schemas" else (parts[1] if parts[1] in LAYERS else None)


class Span:
    __slots__ = ("sid", "parent", "trace", "layer", "name", "thread", "t0", "t1")

    def __init__(self, sid, parent, trace, layer, name, thread, t0, t1):
        self.sid, self.parent, self.trace = sid, parent, trace
        self.layer, self.name, self.thread = layer, name, thread
        self.t0, self.t1 = t0, t1


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.trace_id: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._wrappers: dict = {}  # original function -> wrapper
        self._patches: list = []  # (setter, original) to undo

    # -- wrapping ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = tracer._stack()
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                tracer.spans.append(
                    Span(sid, parent, tracer.trace_id, layer, fn.__name__,
                         threading.get_ident(), t0, time.time())
                )

        return traced

    def install(self) -> None:
        mods = [m for n, m in list(sys.modules.items()) if m is not None and layer_of(n)]
        if not self._wrappers:
            for mod in mods:
                for name, obj in vars(mod).items():
                    if (
                        inspect.isfunction(obj)
                        and not name.startswith("_")
                        and obj.__module__ == mod.__name__
                        and not inspect.isgeneratorfunction(obj)
                    ):
                        self._wrappers[obj] = self._wrap(layer_of(mod.__name__), obj)
        wrapped = self._wrappers
        for mod in mods:
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in wrapped:
                    setattr(mod, name, wrapped[obj])
                    self._patches.append((functools.partial(setattr, mod, name), obj))
                elif isinstance(obj, dict):
                    for k, v in list(obj.items()):
                        if inspect.isfunction(v) and v in wrapped:
                            obj[k] = wrapped[v]
                            self._patches.append((functools.partial(obj.__setitem__, k), v))

    def uninstall(self) -> None:
        for setter, original in reversed(self._patches):
            setter(original)
        self._patches.clear()


# -- py4j counters read around each traced query call -------------------
def codegen_counters(spark) -> tuple[int, float]:
    """(classes compiled, compile seconds) so far in this JVM."""
    jvm = spark._jvm
    hist = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    total_ms = jvm.java.util.Arrays.stream(hist.getSnapshot().getValues()).sum()
    return int(hist.getCount()), total_ms / 1000.0


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time the query's tracker saw."""
    it = df._jdf.queryExecution().tracker().phases().iterator()
    total_ms = 0
    while it.hasNext():
        total_ms += it.next()._2().durationMs()
    return total_ms / 1000.0


# -- interval helpers ----------------------------------------------------
def union(intervals) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def covered(a: float, b: float, merged) -> float:
    return sum(max(0.0, min(b, y) - max(a, x)) for x, y in merged)


def length(merged) -> float:
    return sum(b - a for a, b in merged)


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile (pct in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[max(0, min(len(s), math.ceil(pct * len(s) / 100.0)) - 1)]


# -- event log -----------------------------------------------------------
def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _plan_nodes(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_nodes(child)


def read_event_log(log_dir: str) -> dict:
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    plans: dict[int, dict] = {}
    accum_updates: list[tuple[int, int, int]] = []
    progress: list[dict] = []
    paths = [os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if not f.startswith(".")]
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                        "stages": ev.get("Stage IDs", []),
                        "site": props.get("callSite.short", ""),
                    }
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    tm = ev.get("Task Metrics") or {}
                    ti = ev.get("Task Info") or {}
                    st = stages.setdefault(ev["Stage ID"], {"durations": [], "m": {}})
                    st["durations"].append((ti.get("Finish Time", 0) - ti.get("Launch Time", 0)) / 1000.0)
                    m = st["m"]
                    sr = tm.get("Shuffle Read Metrics") or {}
                    sw = tm.get("Shuffle Write Metrics") or {}
                    for key, val in (
                        ("task_s", tm.get("Executor Run Time", 0) / 1000.0),
                        ("task_cpu_s", tm.get("Executor CPU Time", 0) / 1e9),
                        ("gc_s", tm.get("JVM GC Time", 0) / 1000.0),
                        ("input_bytes", (tm.get("Input Metrics") or {}).get("Bytes Read", 0)),
                        ("output_bytes", (tm.get("Output Metrics") or {}).get("Bytes Written", 0)),
                        ("shuffle_read_bytes",
                         sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)),
                        ("shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0)),
                        ("spill_bytes", tm.get("Disk Bytes Spilled", 0)),
                    ):
                        m[key] = m.get(key, 0) + val
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    plans[ev["executionId"]] = {"t0": ev["time"] / 1000.0, "plan": ev["sparkPlanInfo"]}
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate") and ev["executionId"] in plans:
                    plans[ev["executionId"]]["plan"] = ev["sparkPlanInfo"]
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    accum_updates += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
                elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                    p = ev["progress"]
                    start = _ts(p["timestamp"])
                    d = p.get("durationMs") or {}
                    progress.append({
                        "run": p.get("runId"),
                        "t0": start,
                        "t1": start + d.get("triggerExecution", 0) / 1000.0,
                        "d": d,
                        "rows": sum(s.get("numInputRows", 0) for s in p.get("sources", ())),
                        "state_rows": sum(s.get("numRowsTotal", 0) for s in p.get("stateOperators", ())),
                        "state_commit_ms": sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", ())),
                    })
    files_metric = {
        m["accumulatorId"]
        for p in plans.values()
        for node in _plan_nodes(p["plan"])
        for m in node.get("metrics", ())
        if m.get("name") == "number of written files"
    }
    for p in plans.values():
        nodes = [n.get("nodeName", "") for n in _plan_nodes(p["plan"])]
        p["exchanges"] = sum(1 for n in nodes if n.endswith("Exchange") and not n.startswith("Reused"))
        p["scans"] = sum(1 for n in nodes if n.startswith(("Scan", "BatchScan", "FileScan")))
        p["files"] = 0
    for eid, acc, val in accum_updates:
        if acc in files_metric and eid in plans:
            plans[eid]["files"] += val
    return {"jobs": jobs, "stages": stages, "plans": plans, "progress": progress}


# -- per-layer metrics ---------------------------------------------------
# Per-layer metrics that are sums over a pass's query calls.
SUMMED = (
    *(f"{layer}.{k}" for layer in LAYERS for k in ("calls", "self_s", "jobs")),
    "plans.catalyst_s", "plans.exchanges", "plans.scans",
    *(f"spark.{k}" for k in (
        "exec_s", "driver_s", "jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
        "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "input_bytes",
        "codegen_classes", "codegen_s",
    )),
    *(f"streaming.{k}" for k in (
        "triggers", "input_rows", "add_batch_s", "query_planning_s", "wal_commit_s",
        "commit_offsets_s", "latest_offset_s", "state_rows", "state_commit_s",
        "startup_s", "drain_s",
    )),
    *(f"sources.{k}" for k in (
        "roll_s", "consolidate_s", "maintenance_exposed_s", "bytes_written",
        "files_written", "store_bytes",
    )),
)


def _job_layer(job: dict, spans: list[Span]) -> str:
    """Layer of the package file named in the job's call site, else the
    innermost span open at submission, else 'spark' (the benchmark's own
    noop write)."""
    site = job["site"]
    if PKG + "/" in site:
        rel = site.split(PKG + "/", 1)[1].split(":", 1)[0]
        layer = layer_of(PKG + "." + rel.rsplit(".py", 1)[0].replace("/", "."))
        if layer:
            return layer
    inner = [s for s in spans if s.t0 <= job["t0"] <= s.t1]
    return max(inner, key=lambda s: s.t0).layer if inner else "spark"


def layer_metrics(calls: list[dict], tracer: Tracer, log: dict, main_thread: int,
                  cores: int, replay_bytes: dict[str, int]) -> tuple[dict, dict]:
    """Per-layer metrics averaged over the traced warm passes, plus
    per-query structural counts. ``calls`` are the traced warm query calls:
    dicts with trace, query, pass, t0, t1, codegen, catalyst, store_bytes."""
    by_trace: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_trace.setdefault(s.trace, []).append(s)
    job_list = [j for j in log["jobs"].values() if j["t1"] is not None]
    passes = sorted({c["pass"] for c in calls})
    n = max(1, len(passes))
    tot: dict[str, float] = {}
    trig_durations: list[float] = []
    skews: list[float] = []
    per_query: dict[str, dict[str, list]] = {}

    def add(key: str, val: float) -> None:
        tot[key] = tot.get(key, 0.0) + val

    pass_wall = {
        p: max(c["t1"] for c in calls if c["pass"] == p) - min(c["t0"] for c in calls if c["pass"] == p)
        for p in passes
    }
    for c in calls:
        a, b = c["t0"], c["t1"]
        spans = by_trace.get(c["trace"], [])
        jobs = [j for j in job_list if a <= j["t0"] <= b]
        job_union = union((j["t0"], min(j["t1"], b)) for j in jobs)
        add("spark.exec_s", length(job_union))
        # Driver-side self time on the query's own thread: each span's
        # interval minus its children's, minus Spark job wall time.
        children: dict = {}
        for s in spans:
            if s.thread == main_thread:
                children.setdefault(s.parent, []).append(s)
        # the query call's own remainder is the noop write's driver side
        stack = [(None, a, b, "spark.driver_s")]
        while stack:
            sid, t0, t1, layer = stack.pop()
            kids = children.get(sid, [])
            kid_union = union((k.t0, k.t1) for k in kids)
            own = (t1 - t0) - length(kid_union)
            in_jobs = covered(t0, t1, job_union) - sum(covered(x, y, job_union) for x, y in kid_union)
            add(layer if sid is None else f"{layer}.self_s", own - in_jobs)
            stack += [(k.sid, k.t0, k.t1, k.layer) for k in kids]
        for s in spans:
            add(f"{s.layer}.calls", 1)
        layers = [_job_layer(j, spans) for j in jobs]
        for layer in LAYERS:
            add(f"{layer}.jobs", layers.count(layer))
        stage_ids = {sid for j in jobs for sid in j["stages"] if sid in log["stages"]}
        add("spark.jobs", len(jobs))
        add("spark.stages", len(stage_ids))
        for sid in stage_ids:
            st = log["stages"][sid]
            add("spark.tasks", len(st["durations"]))
            for k, v in st["m"].items():
                add("sources.bytes_written" if k == "output_bytes" else f"spark.{k}", v)
            if len(st["durations"]) >= 2:
                med = statistics.median(st["durations"])
                if med > 0:
                    skews.append(max(st["durations"]) / med)
        plans = [p for p in log["plans"].values() if a <= p["t0"] <= b]
        exchanges, scans = sum(p["exchanges"] for p in plans), sum(p["scans"] for p in plans)
        add("plans.exchanges", exchanges)
        add("plans.scans", scans)
        add("sources.files_written", sum(p["files"] for p in plans))
        add("plans.catalyst_s", c["catalyst"])
        add("spark.codegen_classes", c["codegen"][0])
        add("spark.codegen_s", c["codegen"][1])
        q = per_query.setdefault(c["query"], {"jobs": [], "exchanges": [], "scans": []})
        q["jobs"].append(len(jobs))
        q["exchanges"].append(exchanges)
        q["scans"].append(scans)
        # streaming: triggers of every stream run inside the call
        trig = [p for p in log["progress"] if a <= p["t0"] <= b]
        trig_union = union((p["t0"], p["t1"]) for p in trig)
        for p in trig:
            d = p["d"]
            trig_durations.append(p["t1"] - p["t0"])
            add("streaming.triggers", 1)
            add("streaming.input_rows", p["rows"])
            add("streaming.add_batch_s", d.get("addBatch", 0) / 1000.0)
            add("streaming.query_planning_s", d.get("queryPlanning", 0) / 1000.0)
            add("streaming.wal_commit_s", d.get("walCommit", 0) / 1000.0)
            add("streaming.commit_offsets_s", d.get("commitOffsets", 0) / 1000.0)
            add("streaming.latest_offset_s", d.get("latestOffset", 0) / 1000.0)
            add("streaming.state_commit_s", p["state_commit_ms"] / 1000.0)
        for run in {p["run"] for p in trig}:
            rp = sorted((p for p in trig if p["run"] == run), key=lambda p: p["t0"])
            add("streaming.state_rows", rp[-1]["state_rows"])
            first, last = rp[0]["t0"], max(p["t1"] for p in rp)
            drive = [s for s in spans if s.layer == "streaming" and s.thread == main_thread
                     and s.t0 <= first and s.t1 >= last - 0.01]
            if drive:
                d = max(drive, key=lambda s: s.t0)
                add("streaming.startup_s", first - d.t0)
                add("streaming.drain_s", max(0.0, d.t1 - last))
        maint = [s for s in spans if s.name in (ROLL, CONSOLIDATE)]
        add("sources.roll_s", sum(s.t1 - s.t0 for s in maint if s.name == ROLL))
        add("sources.consolidate_s", sum(s.t1 - s.t0 for s in maint if s.name == CONSOLIDATE))
        mu = union((s.t0, s.t1) for s in maint)
        add("sources.maintenance_exposed_s", length(mu) - sum(covered(x, y, trig_union) for x, y in mu))
        add("sources.store_bytes", c["store_bytes"])
        add("replay_bytes", replay_bytes.get(c["query"], 0))

    m = {k: v / n for k, v in tot.items()}
    out = {k: m.get(k, 0.0) for k in SUMMED}
    replay = m.get("replay_bytes", 0.0)
    out["sources.write_amp"] = out["sources.bytes_written"] / replay if replay else 0.0
    out["sources.space_amp"] = out["sources.store_bytes"] / replay if replay else 0.0
    out["spark.core_busy"] = m.get("spark.task_s", 0.0) / (sum(pass_wall.values()) / n * cores)
    out["spark.task_skew"] = max(skews, default=0.0)
    out["streaming.trigger_p50_s"] = statistics.median(trig_durations) if trig_durations else 0.0
    out["streaming.trigger_tail_s"] = (
        percentile(trig_durations, tail_percentile(len(trig_durations))) if trig_durations else 0.0
    )
    detail = {
        q: {k: statistics.median(v) for k, v in d.items()} for q, d in per_query.items()
    }
    return out, detail
