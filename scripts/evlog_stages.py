#!/usr/bin/env python
"""Summarize a Spark event log: top stages by wall time with task metrics.

Usage: python scripts/evlog_stages.py <eventlog-file> [topN]
"""

from __future__ import annotations

import json
import sys
from collections import defaultdict


def parse_evlog(path):
    """Parse a Spark event log (file or rolling dir) into per-stage rows with
    task metrics. Importable (perfbench/trace.py sums these rows into per-job
    task metrics)."""
    import glob
    import io
    import os

    if os.path.isdir(path):  # rolling eventlog_v2 dir
        files = sorted(
            glob.glob(os.path.join(path, "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    else:
        files = [path]

    def lines():
        for p in files:
            if p.endswith(".zstd"):
                import subprocess
                out = subprocess.run(["zstd", "-dc", p], capture_output=True)
                yield from io.StringIO(out.stdout.decode("utf-8", "replace"))
            else:
                with open(p) as f:
                    yield from f

    stages = {}
    task_agg = defaultdict(lambda: defaultdict(float))
    stage_job = {}
    job_desc = {}
    for line in lines():
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        t = ev.get("Event")
        if t == "SparkListenerJobStart":
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            desc = (props.get("spark.job.description")
                    or props.get("callSite.short") or "")
            job_desc[jid] = desc[:60]
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = jid
        elif t == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            sid = si["Stage ID"]
            sub = si.get("Submission Time")
            comp = si.get("Completion Time")
            stages[sid] = {
                "name": si["Stage Name"].split("\n")[0][:90],
                "tasks": si["Number of Tasks"],
                "wall_s": round((comp - sub) / 1000, 2) if sub and comp else None,
            }
        elif t == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            m = ev.get("Task Metrics") or {}
            a = task_agg[sid]
            # Executor Run Time is the task thread's WALL (ms); Executor CPU
            # Time is actual thread CPU (ns). Summed per-task wall and GC time
            # both scale with the number of concurrent tasks (one stop-the-
            # world pause is charged to every running task), so only cpu_s
            # compares across parallelism levels.
            a["run_s"] += m.get("Executor Run Time", 0) / 1000
            a["cpu_true_s"] += m.get("Executor CPU Time", 0) / 1e9
            a["gc_s"] += m.get("JVM GC Time", 0) / 1000
            a["deser_s"] += m.get("Executor Deserialize Time", 0) / 1000
            a["result_ser_s"] += m.get("Result Serialization Time", 0) / 1000
            a["spill_mb"] += (m.get("Memory Bytes Spilled", 0)
                              + m.get("Disk Bytes Spilled", 0)) / 1e6
            pk = ev.get("Task Executor Metrics") or {}
            a["peak_heap_mb"] = max(a["peak_heap_mb"],
                                    pk.get("JVMHeapMemory", 0) / 1e6)
            srm = m.get("Shuffle Read Metrics") or {}
            a["shuf_read_mb"] += (srm.get("Local Bytes Read", 0) + srm.get("Remote Bytes Read", 0)) / 1e6
            swm = m.get("Shuffle Write Metrics") or {}
            a["shuf_write_mb"] += swm.get("Shuffle Bytes Written", 0) / 1e6
            inm = m.get("Input Metrics") or {}
            a["input_mb"] += inm.get("Bytes Read", 0) / 1e6
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                nm = acc.get("Name") or ""
                if nm in ("time to run Python workers", "pythonUDF time"):
                    try:
                        a["py_s"] += float(acc.get("Update", 0)) / 1000
                    except (TypeError, ValueError):
                        pass

    rows = []
    for sid, s in stages.items():
        a = task_agg.get(sid, {})
        jid = stage_job.get(sid)
        rows.append({
            "sid": sid, **s,
            "cpu_s": round(a.get("run_s", 0), 1),  # summed task WALL (legacy name)
            "cpu_true_s": round(a.get("cpu_true_s", 0), 1),  # summed thread CPU
            "gc_s": round(a.get("gc_s", 0), 1),
            "py_s": round(a.get("py_s", 0), 1),
            "spill_mb": round(a.get("spill_mb", 0), 1),
            "peak_heap_mb": round(a.get("peak_heap_mb", 0), 1),
            "deser_s": round(a.get("deser_s", 0), 1),
            "shuf_r_mb": round(a.get("shuf_read_mb", 0), 1),
            "shuf_w_mb": round(a.get("shuf_write_mb", 0), 1),
            "input_mb": round(a.get("input_mb", 0), 1),
            "job": f"{jid}:{job_desc.get(jid, '')}",
        })
    rows.sort(key=lambda r: -(r["wall_s"] or 0))
    return rows


def job_timeline(path):
    """Jobs with wall spans and the GAPS between them (gap = driver/py4j/
    planning latency — the core-count-independent floor term)."""
    import glob
    import os

    import io
    import subprocess

    files = (sorted(glob.glob(os.path.join(path, "events_*")),
                    key=lambda p: int(os.path.basename(p).split("_")[1]))
             if os.path.isdir(path) else [path])
    jobs = {}
    for p in files:
        if p.endswith(".zstd"):
            out = subprocess.run(["zstd", "-dc", p], capture_output=True)
            f = io.StringIO(out.stdout.decode("utf-8", "replace"))
        else:
            f = open(p, errors="replace")
        with f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                t = ev.get("Event")
                if t == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "start": ev["Submission Time"],
                        "desc": (props.get("spark.job.description")
                                 or props.get("callSite.short") or "")[:70],
                        "stages": len(ev.get("Stage IDs", [])),
                    }
                elif t == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
    out = []
    prev_end = None
    for jid in sorted(jobs):
        j = jobs[jid]
        if "end" not in j:
            continue
        gap = (j["start"] - prev_end) / 1000 if prev_end is not None else 0.0
        out.append({"jid": jid, "dur_s": round((j["end"] - j["start"]) / 1000, 2),
                    "gap_s": round(gap, 2), "stages": j["stages"], "desc": j["desc"]})
        prev_end = j["end"]
    return out


def main():
    path = sys.argv[1]
    if "--timeline" in sys.argv:
        tl = job_timeline(path)
        tot_dur = sum(j["dur_s"] for j in tl)
        tot_gap = sum(j["gap_s"] for j in tl)
        print(f"jobs={len(tl)} total_job_dur={tot_dur:.1f}s total_gap={tot_gap:.1f}s")
        for j in tl:
            print(f"{j['jid']:>4} gap={j['gap_s']:>6.2f} dur={j['dur_s']:>7.2f} "
                  f"stages={j['stages']:>2}  {j['desc']}")
        return
    top_n = int(sys.argv[2]) if len(sys.argv) > 2 else 25
    rows = parse_evlog(path)
    total_wall = sum(r["wall_s"] or 0 for r in rows)
    total_cpu = sum(r["cpu_s"] for r in rows)
    total_gc = sum(r["gc_s"] for r in rows)
    print(f"stages={len(rows)} total_stage_wall={total_wall:.0f}s "
          f"total_task_cpu={total_cpu:.0f}s total_gc={total_gc:.0f}s")
    fmt = ("{sid:>5} {wall_s:>7} {tasks:>5} {cpu_s:>8} {cpu_true_s:>8} "
           "{py_s:>8} {gc_s:>6} {spill_mb:>8} "
           "{deser_s:>7} {shuf_r_mb:>9} {shuf_w_mb:>9} {input_mb:>8}  {job}")
    print(fmt.format(sid="sid", wall_s="wall_s", tasks="tasks", cpu_s="run_s",
                     cpu_true_s="cpu_s", py_s="py_s", gc_s="gc_s",
                     spill_mb="spill_MB", deser_s="deser",
                     shuf_r_mb="shufR_MB", shuf_w_mb="shufW_MB",
                     input_mb="in_MB", job="job"))
    for r in rows[:top_n]:
        print(fmt.format(**r))


if __name__ == "__main__":
    main()
