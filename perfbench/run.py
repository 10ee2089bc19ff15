#!/usr/bin/env python3
"""The repo's benchmark: runs one workload of catalog queries and prints
its metrics as one JSON line.

    python3 perfbench/run.py --workload reference_questions --seed 1 --seconds 10 --trace 0

Run it from the repository root. Each run gets a fresh scratch directory
under ``perfbench/tmp/`` for ``TMPDIR``, ``SPARK_LOCAL_DIRS`` and the JVM's
``java.io.tmpdir`` (removed afterwards), starts one measured session in a
fresh process (``session.py``), checks every query against its DuckDB
oracle, and writes a detail file under ``perfbench/out/``. ``--trace 0``
reports the end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` the
per-layer ones. The exit code is non-zero when any query call failed or
mismatched its oracle. See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from tracing import LAYERS, percentile  # noqa: E402
from workloads import WORKLOADS, tail_percentile  # noqa: E402

PKG = "big_data_analysis_of_twitter_emoji_usage_spark"
DEADLINE_S = 170  # the whole command must end within 180 s
ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def host_settings() -> dict:
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo", encoding="ascii") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    # a quarter of host RAM, capped at get_spark's own 16g default
    mem_gb = max(1, min(16, total_kb // (4 * 1024 * 1024)))
    # The whole heap from the start and a fixed young generation: then the
    # heap's touched size does not follow G1's timing-driven resizing, and
    # peak RSS moves with retained (old generation) and off-heap memory.
    java_opts = f"-Xms{mem_gb}g -Xmn{mem_gb * 1024 // 6}m"
    return {"cpus": cpus, "driver_mem": f"{mem_gb}g", "java_opts": java_opts}


def source_identity() -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True,
            timeout=10, check=True,
        ).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = None
    digest = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(os.path.join(ROOT, PKG))):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(f.encode() + fh.read())
    return {"git_commit": commit, "package_sha256": digest.hexdigest()[:16]}


def stop_group(proc: subprocess.Popen) -> None:
    """Stop the session and everything it started (driver JVM, Python
    workers), and wait until all of them have ended."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + grace
        while time.monotonic() < end:
            proc.poll()
            try:
                os.killpg(proc.pid, 0)
            except ProcessLookupError:
                return
            time.sleep(0.1)
    proc.wait()


def run_session(args, host: dict, scratch: str) -> tuple[dict, int]:
    tmp, local = os.path.join(scratch, "tmp"), os.path.join(scratch, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": str(host["cpus"]),
        "SPARK_GRAFT_DRIVER_MEM": host["driver_mem"],
        # Python workers import the package (and pickled helpers) by name
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, HERE, env.get("PYTHONPATH")])),
    })
    out, log_path = os.path.join(scratch, "session.json"), os.path.join(scratch, "session.log")
    cmd = [
        sys.executable, os.path.join(HERE, "session.py"), "--root", ROOT,
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--sf-dir", args.sf_dir, "--cores", str(host["cpus"]),
        "--java-opts", host["java_opts"], "--out", out,
    ]
    with open(log_path, "w", encoding="utf-8") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=DEADLINE_S - (time.monotonic() - args.started))
        except subprocess.TimeoutExpired:
            code = None
        finally:
            stop_group(proc)
    with open(log_path, encoding="utf-8", errors="replace") as f:
        lines = f.read().splitlines()
    if code != 0 or not os.path.exists(out):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"session {'timed out' if code is None else f'exited {code}'}")
    with open(out, encoding="utf-8") as f:
        res = json.load(f)
    return res, sum(1 for line in lines if ERROR_LINE.match(line))


def measured(res: dict, traced: bool) -> list[dict]:
    return [p for p in res["passes"] if not p["warmup"] and p["traced"] == traced]


def end_to_end(res: dict, wl: dict) -> tuple[dict, dict]:
    passes = measured(res, traced=False)
    samples = [t for p in passes for t in p["queries"].values()]
    pct = tail_percentile(wl["min_passes"] * len(wl["queries"]))
    metrics = {
        "setup_s": res["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "query_p50_s": statistics.median(samples),
        "query_tail_s": percentile(samples, pct),
        "ok_frac": 1.0 - res["failed"] / res["attempted"],
        "peak_rss_mb": res["peak_rss_mb"],
    }
    return metrics, {"tail_percentile": pct, "samples": len(samples), "passes": len(passes)}


def per_layer(res: dict, log_errors: int) -> dict:
    traced = [p["wall_s"] for p in measured(res, traced=True)]
    plain = [p["wall_s"] for p in measured(res, traced=False)]
    m = dict(res["layers"])
    m["core.session_start_s"] = res["session_start_s"]
    m["spark.log_errors"] = log_errors
    m["trace.pass_s"] = statistics.median(traced)
    m["trace.overhead_s"] = m["trace.pass_s"] - statistics.median(plain)
    m["trace.unattributed_s"] = m["trace.pass_s"] - m["spark.exec_s"] - m["spark.driver_s"] - sum(
        m[f"{layer}.self_s"] for layer in LAYERS
    )
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True, help="permutes the query order of every pass")
    ap.add_argument("--seconds", type=float, required=True, help="warm measurement time")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", default=os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"),
                    help="fixture tables directory (TESTDATA.md), default ~/testdata/sf0.01")
    args = ap.parse_args()
    args.started = time.monotonic()

    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        sys.exit(f"perfbench: no {PKG} package next to perfbench/ in {ROOT}")
    if not os.path.isfile(os.path.join(args.sf_dir, "documents.parquet")):
        sys.exit(f"perfbench: no fixture tables in {args.sf_dir}")
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    wl = WORKLOADS[args.workload]
    host = host_settings()
    scratch = os.path.join(HERE, "tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(scratch)
    try:
        res, log_errors = run_session(args, host, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)

    e2e, shape = end_to_end(res, wl)
    if args.trace:
        values, declared = per_layer(res, log_errors), spec["per_layer"]
    else:
        values, declared = e2e, spec["end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in values]
    if missing:
        sys.exit(f"perfbench: metrics not produced: {missing}")
    setup = {**host, "spark_version": res["spark_version"], "sf_dir": args.sf_dir,
             **source_identity()}
    by_query = {}
    for q in wl["queries"]:
        xs = [p["queries"][q] for p in measured(res, traced=False) if q in p["queries"]]
        by_query[q] = {"median_s": statistics.median(xs) if xs else None, "samples": len(xs),
                       **res.get("structure", {}).get(q, {})}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "setup": setup, "end_to_end": e2e, **shape,
        "failed_frac": res["failed"] / res["attempted"], "attempted": res["attempted"],
        "failed": res["failed"], "failures": res["failures"], "oracle": res["oracle"],
        "log_errors": log_errors, "session_start_s": res["session_start_s"],
        "passes": res["passes"], "queries": by_query,
    }
    if args.trace:
        detail["per_layer"] = values
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    stem = os.path.join(HERE, "out", f"{args.workload}-trace{args.trace}-seed{args.seed}")
    with open(stem + ".json", "w", encoding="utf-8") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        with open(stem + ".spans.jsonl", "w", encoding="utf-8") as f:
            for s in res["spans"]:
                f.write(json.dumps(s) + "\n")

    correct = res["failed"] == 0
    print(json.dumps({"setup": setup, "detail": os.path.relpath(stem + ".json", ROOT)}))
    units = {m["name"]: m["unit"] for m in declared}
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
