#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload crawl|analytics --seed N \
        [--seconds S] [--trace 0|1]

Run from the repository root. Each run launches the workload in a fresh
Python process (`perfbench/workload.py`) with the repository root on
PYTHONPATH and SPARK_LOCAL_DIRS inside `.perfbench/`, so the engine's pandas
UDFs import `neocrawler_spark` whatever the caller's directory. Spark runs at
local[<cores>]. This process samples the resident memory of the workload's
whole process tree (driver, JVM, Python workers), waits for every process of
it to end, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured without
tracing. With --trace 1 they are the per-layer ones from spans and Spark's
event log; the per-round or per-query breakdown is printed above the JSON
line. Every run's full result (and a traced run's spans) is kept under
`.perfbench/runs/`. Tracing overhead is measured inside the traced run, by
repeating part of its work with tracing off (see `perfbench/trace.py`).

--seconds is the planned length of the measured phase. The workloads do a
fixed amount of work sized to it, so that every run of a workload does the
same work.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
CHILD_TIMEOUT_S = 175  # the contract gives a run 180 s


def run_child(workload: str, seed: int, trace: int, work: Path) -> tuple[dict | None, float]:
    """Run one workload process, stopped after CHILD_TIMEOUT_S; returns (its
    result, peak RSS of its process tree in MB)."""
    from perfbench import procs

    out = work / "result.json"
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    env["SPARK_LOCAL_DIRS"] = str(work / "local")
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    cmd = [sys.executable, str(ROOT / "perfbench" / "workload.py"),
           "--workload", workload, "--seed", str(seed), "--trace", str(trace),
           "--work", str(work), "--out", str(out)]
    child = subprocess.Popen(cmd, cwd=str(ROOT), env=env, start_new_session=True,
                             stdout=sys.stderr)
    peak, seen = 0, {}
    deadline = time.time() + CHILD_TIMEOUT_S
    try:
        while child.poll() is None:
            if time.time() > deadline:
                print(f"perfbench: {workload} ran past its deadline", file=sys.stderr)
                break
            now = procs.tree(child.pid, procs.stats())
            seen.update(now)
            peak = max(peak, procs.rss_bytes(now))
            time.sleep(0.2)
    finally:
        _stop(child, seen)
    if child.returncode != 0 or not out.exists():
        return None, peak / 1e6
    return json.loads(out.read_text()), peak / 1e6


def _stop(child: subprocess.Popen, seen: dict[int, str]) -> None:
    """Stop whatever is left of the workload: its process group and every
    process seen in its tree (the Python worker daemons have groups of their
    own and outlive a killed parent), and wait until each has ended."""
    from perfbench import procs

    for sig in (signal.SIGTERM, signal.SIGKILL):
        seen.update(procs.group(child.pid, procs.stats()))
        for pid in procs.alive(seen):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        end = time.time() + 10
        while time.time() < end and (child.poll() is None or procs.alive(seen)):
            time.sleep(0.1)
        if child.poll() is not None and not procs.alive(seen):
            return


# the end-to-end metrics under the names they have for each workload
ALIASES = {
    "crawl": {"crawl_cpu_s": "work_cpu_s", "wave_cpu_s": "heavy_cpu_s",
              "round1_cpu_s": "light_cpu_s", "crawl_s": "work_s", "wave_s": "heavy_s",
              "round1_s": "light_s", "wave_urls_per_s": "items_per_s"},
    "analytics": {"dedup_cpu_s": "heavy_cpu_s", "ann_cpu_s": "light_cpu_s",
                  "dedup_s": "heavy_s", "ann_s": "light_s", "rows_per_s": "items_per_s"},
}


def _print_detail(workload: str, result: dict, peak_mb: float) -> None:
    from perfbench.workload import unit_of

    e2e, det = result["end_to_end"], result["detail"]
    for r in det.get("per_round") or []:
        print("round " + json.dumps(r, default=float))
    for q in det.get("per_query") or []:
        print("query " + json.dumps(q, default=float))
    lines = dict(e2e)
    lines.update({alias: e2e[name] for alias, name in ALIASES[workload].items()})
    lines["peak_rss_mb"] = peak_mb
    for name, value in lines.items():
        print(f"{name} = {value:.6g} {unit_of(name)}")
    print(f"error_rate = {result['failed'] / result['attempted']:.6g} "
          f"({result['failed']} of {result['attempted']} operations failed)")


def result_line(result: dict, trace: int, peak_mb: float) -> dict:
    """The benchmark's last output line."""
    from perfbench.workload import end_to_end_names, per_layer_names, unit_of

    if trace:
        values = dict(result["per_layer"])
        values["memory.peak_rss_mb"] = peak_mb
        names = per_layer_names()
    else:
        values = result["end_to_end"]
        names = end_to_end_names()
    return {
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {n: {"value": values[n], "unit": unit_of(n)} for n in names},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, help="crawl or analytics")
    ap.add_argument("--seed", type=int, default=0, help="picks the seeded inputs")
    ap.add_argument("--seconds", type=float, default=45,
                    help="planned length of the measured phase (the work is fixed)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0,
                    help="0: end-to-end metrics, untraced; 1: per-layer metrics")
    args = ap.parse_args()
    # a terminated benchmark still stops its workload (run_child's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "neocrawler_spark").is_dir():
        print("perfbench: run from a checkout of the repository "
              "(neocrawler_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workload import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2

    STATE.mkdir(exist_ok=True)
    work = STATE / f"run-{os.getpid()}"
    try:
        result, peak_mb = run_child(args.workload, args.seed, args.trace, work)
        if result is not None:
            keep = STATE / "runs" / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
            keep.mkdir(parents=True, exist_ok=True)
            (keep / "result.json").write_text(json.dumps(result, indent=1, default=str))
            if args.trace:
                shutil.copyfile(work / "spans.json", keep / "spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        return 1
    if result.get("error"):
        print(f"perfbench: errors: {result['error']}", file=sys.stderr)

    _print_detail(args.workload, result, peak_mb)
    print(json.dumps(result_line(result, args.trace, peak_mb)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
