"""Tracing from outside the program: spans around calls into its public
functions, plus Spark's event log.

Spans are kept in memory and written out when the run ends. Each span has a
name, a start, an end, a parent and the crawl round it belongs to. Spans are
recorded by wrapping `Catalog.stage`, `commit`, `commit_files`,
`commit_rows` and `commit_round` and `streaming.driver.run_round`; the program
itself is not edited. Spark jobs are tied to spans by their job description
(`stage:<name>`, `commit:<name>`, `query:<name>`) or, for rounds, by the
round's time window.

Tracing overhead is measured inside the traced run: a block of the run's
work is repeated with tracing off (`untraced`: no spans, Spark's event log
detached) and compared with the same block traced.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    round: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return (self.end or self.start) - self.start


def union_length(intervals, lo: float | None = None, hi: float | None = None) -> float:
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """A span's self time: its duration minus the part of its interval that
    its child spans cover. Overlapping children (the commit pool runs two at
    a time) are counted once."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        kids = [(c.start, c.end) for c in children.get(s.id, []) if c.end is not None]
        out[s.id] = s.dur - union_length(kids, s.start, s.end)
    return out


class Tracer:
    """In-memory span recorder. Spans opened on a thread nest under that
    thread's open span; spans opened on a worker thread with none open (the
    round's commit pool) nest under the open round."""

    def __init__(self):
        self.enabled = True
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._round: Span | None = None

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        parent = stack[-1] if stack else self._round
        with self._lock:
            sp = Span(len(self.spans), name, time.time(),
                      parent=parent.id if parent else None,
                      round=self._round.round if self._round else None, attrs=attrs)
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    @contextmanager
    def round_span(self, round_no: int):
        with self.span("round", round=round_no) as sp:
            sp.round = round_no
            self._round = sp
            try:
                yield sp
            finally:
                self._round = None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


@contextmanager
def untraced(tracer: Tracer, spark):
    """Run a block with tracing off: no spans are recorded and Spark's event
    log listener is detached, so the block's jobs are not logged."""
    sc = spark.sparkContext._jsc.sc()
    logger = sc.eventLogger().get()
    sc.removeSparkListener(logger)  # drains the events queued so far
    tracer.enabled = False
    try:
        yield
    finally:
        tracer.enabled = True
        sc.listenerBus().addToEventLogQueue(logger)


def _manifest_stats(cat, name: str, snap: int) -> dict:
    man = cat.manifest(name, snap) or {}
    snap_dir = f"snap-{snap:012d}"
    new = [f for f in man.get("files", []) if snap_dir in f["path"]]
    return {
        "rows": man.get("new_rows", 0),
        "bytes": sum(f["bytes"] for f in new),
        "files": man.get("n_new_files", 0),
        "manifest_bytes": cat._manifest_path(name, snap).stat().st_size if man else 0,
    }


def _stage_rows(cat, round_no: int, name: str) -> dict:
    parts = cat.stage_partition_values(round_no, name)
    out = {"rows": cat.stage_rows(round_no, name)}
    for pv in parts:
        if len(pv) == 1:
            (k, v), = pv.items()
            out[f"{k}={v}"] = cat.stage_rows(round_no, name, **pv)
    return out


def instrument(tracer: Tracer) -> None:
    """Wrap the catalog and the round driver so every call records a span,
    for the rest of the process."""
    from neocrawler_spark.sources import tables
    from neocrawler_spark.streaming import driver

    cls = tables.Catalog
    saved = {m: getattr(cls, m) for m in
             ("stage", "commit", "commit_files", "commit_rows", "commit_round")}
    saved_round = driver.run_round

    def stage(self, spark, round_no, name, df, *a, **kw):
        if not tracer.enabled:
            return saved["stage"](self, spark, round_no, name, df, *a, **kw)
        with tracer.span(f"stage:{name}") as sp:
            out = saved["stage"](self, spark, round_no, name, df, *a, **kw)
        sp.attrs.update(_stage_rows(self, round_no, name))
        return out

    def make_commit(method):
        def commit(self, name, *a, **kw):
            if not tracer.enabled:
                return saved[method](self, name, *a, **kw)
            with tracer.span(f"commit:{name}") as sp:
                snap = saved[method](self, name, *a, **kw)
            sp.attrs.update(_manifest_stats(self, name, snap))
            return snap
        return commit

    def commit_round(self, *a, **kw):
        if not tracer.enabled:
            return saved["commit_round"](self, *a, **kw)
        with tracer.span("commit_round"):
            return saved["commit_round"](self, *a, **kw)

    def run_round(ctx, state=None):
        if not tracer.enabled:
            return saved_round(ctx, state)
        round_no = (state or {}).get("round", 0) + 1
        with tracer.round_span(round_no):
            return saved_round(ctx, state)

    cls.stage = stage
    for m in ("commit", "commit_files", "commit_rows"):
        setattr(cls, m, make_commit(m))
    cls.commit_round = commit_round
    driver.run_round = run_round


# ----------------------------------------------------------------- event log
def read_jobs(path: str) -> list[dict]:
    """Spark jobs of one event log with their wall window, description and
    the summed task metrics of their stages (per-stage metrics come from
    scripts/evlog_stages.py)."""
    from scripts.evlog_stages import parse_evlog

    jobs: dict[int, dict] = {}
    with open(path, errors="replace") as f:
        for line in f:
            if '"SparkListenerJob' not in line:
                continue
            ev = json.loads(line)
            if ev["Event"] == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "jid": ev["Job ID"], "start": ev["Submission Time"] / 1000,
                    "desc": props.get("spark.job.description") or "",
                    "tasks": 0, "task_cpu_s": 0.0, "py_s": 0.0,
                    "shuffle_mb": 0.0, "spill_mb": 0.0, "gc_s": 0.0,
                }
            elif ev["Event"] == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
    for st in parse_evlog(path):
        jid = int(st["job"].split(":", 1)[0]) if st["job"][0].isdigit() else None
        j = jobs.get(jid)
        if j is None:
            continue
        j["tasks"] += st["tasks"]
        j["task_cpu_s"] += st["cpu_true_s"]
        j["py_s"] += st["py_s"]
        j["shuffle_mb"] += st["shuf_w_mb"]
        j["spill_mb"] += st["spill_mb"]
        j["gc_s"] += st["gc_s"]
    return [j for j in jobs.values() if "end" in j]


def in_windows(t: float, windows) -> bool:
    return any(lo <= t <= hi for lo, hi in windows)


def jobs_in(jobs: list[dict], lo: float, hi: float) -> list[dict]:
    return [j for j in jobs if lo <= j["start"] <= hi]


def job_totals(jobs: list[dict]) -> dict:
    keys = ("tasks", "task_cpu_s", "py_s", "shuffle_mb", "spill_mb", "gc_s")
    out = {k: sum(j[k] for j in jobs) for k in keys}
    out["jobs"] = len(jobs)
    return out


def driver_gap(jobs: list[dict], lo: float, hi: float) -> float:
    """Wall of [lo, hi] that no Spark job covers."""
    return (hi - lo) - union_length([(j["start"], j["end"]) for j in jobs], lo, hi)
