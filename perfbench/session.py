"""One measured session of one workload, in a fresh Python process and a
fresh Spark driver JVM. ``run.py`` starts it with the run's environment
(scratch ``TMPDIR``/``SPARK_LOCAL_DIRS``, ``SPARK_GRAFT_CPUS``,
``SPARK_GRAFT_DRIVER_MEM``) and reads back the JSON it writes.

Order inside the session:

1. set-up: ``get_spark`` on the fresh session, then the cold pass, which
   calls every query once and collects its result;
2. the workload's warm-up passes, then measured warm passes, each calling
   every query once in a seed-permuted order and timing it from the
   catalog call to the end of its ``noop`` write, until ``--seconds``
   have passed and at least ``min_passes`` ran;
3. peak RSS of the driver JVM and this process;
4. the oracle check of the cold-pass results (not timed).

With ``--trace 1`` the session writes a Spark event log, and the
measured passes alternate traced and untraced so the tracing overhead is
measured inside the same session.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import random
import sys
import threading
import time
import traceback

from oracle import Oracle
from workloads import REPLAY_TABLE, WORKLOADS


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(paths) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for p in paths
        for d, _, files in os.walk(p)
        for f in files
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--root", required=True)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--java-opts", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, args.root)
    import pyspark

    from big_data_analysis_of_twitter_emoji_usage_spark import core
    from big_data_analysis_of_twitter_emoji_usage_spark.plans.catalog import ORACLE_SQL, QUERIES

    wl = WORKLOADS[args.workload]
    rng = random.Random(args.seed)
    sf, tmp = args.sf_dir, os.environ["TMPDIR"]
    extra = {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {args.java_opts}"}
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()
        event_dir = os.path.join(tmp, "eventlog")
        os.makedirs(event_dir)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{event_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    res: dict = {"attempted": 0, "failed": 0, "failures": {}, "passes": [],
                 "spark_version": pyspark.__version__}

    def fail(q: str) -> None:
        res["failed"] += 1
        res["failures"].setdefault(q, traceback.format_exc(limit=4))

    t0 = time.perf_counter()
    spark = core.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=extra)
    res["session_start_s"] = time.perf_counter() - t0
    cold_rows = {}
    order = list(wl["queries"])
    rng.shuffle(order)
    for q in order:
        res["attempted"] += 1
        try:
            df = QUERIES[q](spark, sf)
            cold_rows[q] = (df.columns, [tuple(r) for r in df.collect()])
        except Exception:
            fail(q)
    res["setup_s"] = time.perf_counter() - t0
    if tracer:
        res["cold_codegen"] = tracing.codegen_counters(spark)

    calls = []  # traced warm calls, for the per-layer analysis
    # Warm-up passes first; a traced run then alternates traced and
    # untraced measured passes, starting with a traced one.
    warmup = wl["warmup_passes"]
    n, started = 0, None
    while n < warmup + wl["min_passes"] or time.perf_counter() - started < args.seconds:
        if n == warmup:
            started = time.perf_counter()
        traced = tracer is not None and n >= warmup and (n - warmup) % 2 == 0
        if traced:
            tracer.install()
        order = list(wl["queries"])
        rng.shuffle(order)
        times = {}
        p0 = time.perf_counter()
        for q in order:
            res["attempted"] += 1
            if traced:
                before = set(glob.glob(os.path.join(tmp, "spark_graft_stream_*")))
                tracer.trace_id = len(calls) + 1
                cg0 = tracing.codegen_counters(spark)
                w0 = time.time()
            c0 = time.perf_counter()
            try:
                df = QUERIES[q](spark, sf)
                df.write.format("noop").mode("overwrite").save()
            except Exception:
                fail(q)
                continue
            times[q] = time.perf_counter() - c0
            if traced:
                w1 = time.time()
                tracer.trace_id = None
                cg1 = tracing.codegen_counters(spark)
                new = set(glob.glob(os.path.join(tmp, "spark_graft_stream_*"))) - before
                calls.append({
                    "trace": len(calls) + 1, "query": q, "pass": n, "t0": w0, "t1": w1,
                    "codegen": (cg1[0] - cg0[0], cg1[1] - cg0[1]),
                    "catalyst": tracing.catalyst_seconds(df),
                    "store_bytes": dir_bytes(new),
                })
        res["passes"].append({"warmup": n < warmup, "traced": traced,
                              "wall_s": time.perf_counter() - p0, "queries": times})
        if traced:
            tracer.uninstall()
        n += 1

    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    res["peak_rss_mb"] = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
    replay_bytes = {
        q: dir_bytes(glob.glob(os.path.join(tmp, f"spark_graft_{t}_ordered_*")))
        for q, t in REPLAY_TABLE.items()
    }
    main_thread = threading.main_thread().ident
    spark.stop()

    oracle = Oracle(sf, threads=args.cores)
    res["oracle"] = {}
    for q, (cols, rows) in cold_rows.items():
        try:
            why = oracle.mismatch(ORACLE_SQL[q], cols, rows)
        except Exception:
            why = traceback.format_exc(limit=4)
        res["oracle"][q] = why or "ok"
        if why:
            res["failed"] += 1
            res["failures"].setdefault(q, why)
    oracle.close()

    if tracer:
        log = tracing.read_event_log(event_dir)
        res["layers"], res["structure"] = tracing.layer_metrics(
            calls, tracer, log, main_thread, args.cores, replay_bytes
        )
        res["layers"]["spark.cold_codegen_classes"] = res["cold_codegen"][0]
        res["layers"]["spark.cold_codegen_s"] = res["cold_codegen"][1]
        res["spans"] = [
            {"id": s.sid, "parent": s.parent, "trace": s.trace, "layer": s.layer,
             "name": s.name, "thread": s.thread, "start": s.t0, "end": s.t1}
            for s in tracer.spans
        ]
    with open(args.out, "w", encoding="utf-8") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
