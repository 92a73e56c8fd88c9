"""The benchmark's own tests (no Spark): metric names, output checks and the
span arithmetic.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
from pathlib import Path

import pyarrow as pa
import pytest

from perfbench import checks, trace
from perfbench.run import result_line
from perfbench.workload import end_to_end_names, per_layer_names, unit_of

ROOT = Path(__file__).resolve().parents[2]


def _declared() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _fake_result() -> dict:
    e2e = {n: 1.5 for n in end_to_end_names()}
    return {"attempted": 3, "failed": 0, "end_to_end": e2e,
            "per_layer": {n: 2.0 for n in per_layer_names()}}


@pytest.mark.parametrize("trace_flag,section", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_match_benchmark_json(trace_flag, section):
    line = result_line(_fake_result(), trace_flag, peak_mb=100.0)
    declared = {m["name"]: m["unit"] for m in _declared()[section]}
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert {n: m["unit"] for n, m in line["metrics"].items()} == declared
    assert all(isinstance(m["value"], (int, float)) for m in line["metrics"].values())


def test_declared_units_follow_names():
    for m in _declared()["end_to_end"] + _declared()["per_layer"]:
        assert m["unit"] == unit_of(m["name"]), m["name"]


@pytest.mark.parametrize("name,unit", [
    ("setup_s", "s"),
    ("sources.tables.stage_s.pe", "s"),
    ("sources.tables.stage_s.crawled_out", "s"),
    ("sources.tables.commit_s.bloom", "s"),
    ("sources.tables.commit_s.url_state", "s"),
    ("sources.tables.stage_rows.exres", "count"),
    ("spark.stage.pe.task_cpu_s", "s"),
    ("spark.stage.pe.shuffle_mb", "MB"),
    ("operators.dedup.dedup_exact_s", "s"),
    ("functions.extract.pages_per_s", "1/s"),
    ("sources.tables.bytes_written", "bytes"),
    ("sources.tables.manifest_bytes", "bytes"),
    ("operators.bloom.est_fpr", "ratio"),
    ("plans.round.jobs", "count"),
])
def test_unit_of(name, unit):
    assert unit_of(name) == unit


# ------------------------------------------------------------- crawl checks
FLOG = pa.table({
    "round": pa.array([1, 1, 2, 2, 2], pa.int32()),
    "status": ["fetched", "fetched", "fetched", "failed", "fetched"],
    "seq": pa.array([10, 11, 20, 21, 22], pa.int64()),
    "url": ["http://a/", "http://b/", "http://a/x", "http://a/y", "http://a/z"],
})


def _crawl_out(flog=FLOG, rows=5, dups=0, misses=0):
    return {"fetch_log": checks.fetch_log_fingerprint(flog), "url_state_rows": rows,
            "url_state_dup_hashes": dups, "bloom_misses": misses}


def test_fetch_log_fingerprint():
    fp = checks.fetch_log_fingerprint(FLOG)
    assert fp == {"1|fetched": [2, 21, "http://a/", "http://b/"],
                  "2|fetched": [2, 42, "http://a/x", "http://a/z"],
                  "2|failed": [1, 21, "http://a/y", "http://a/y"]}


def test_round_entries_keep_one_round():
    fp = checks.fetch_log_fingerprint(FLOG)
    assert checks.round_entries(fp, 2) == {"2|fetched": fp["2|fetched"],
                                           "2|failed": fp["2|failed"]}
    assert checks.round_entries(fp, 3) == {}


def test_unperturbed_crawl_passes():
    expected = _crawl_out()
    assert checks.crawl_failed_rounds(_crawl_out(), expected, 2) == []


def test_perturbed_fetch_log_fails_its_round():
    expected = _crawl_out()
    moved = FLOG.set_column(2, "seq", pa.array([10, 12, 20, 21, 22], pa.int64()))
    assert checks.crawl_failed_rounds(_crawl_out(moved), expected, 2) == [1]
    dropped = FLOG.slice(0, 4)
    assert checks.crawl_failed_rounds(_crawl_out(dropped), expected, 2) == [2]


@pytest.mark.parametrize("kw", [{"rows": 6}, {"dups": 1}, {"misses": 3}])
def test_perturbed_end_state_fails_last_round(kw):
    assert checks.crawl_failed_rounds(_crawl_out(**kw), _crawl_out(), 2) == [2]


def test_query_check_flags_each_perturbation():
    want = {"rows": 10, "cols": ["a", "b"], "h1": 123, "h2": 456}
    assert checks.query_ok(dict(want), want)
    for key, value in (("rows", 11), ("cols", ["a"]), ("h1", 124), ("h2", 0)):
        got = copy.deepcopy(want)
        got[key] = value
        assert not checks.query_ok(got, want), key
    assert not checks.query_ok(want, {})


# ---------------------------------------------------------- span arithmetic
def _span(i, start, end, parent=None):
    return trace.Span(i, f"s{i}", start, end, parent=parent)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),   # overlaps span 2 on [3, 4]
        _span(2, 3.0, 6.0, parent=0),
        _span(3, 8.0, 12.0, parent=0),  # runs past its parent: only [8, 10] counts
        _span(4, 1.5, 2.5, parent=1),
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - (5.0 + 2.0))
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(1.0)


def test_union_length_and_driver_gap():
    assert trace.union_length([]) == 0.0
    assert trace.union_length([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert trace.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == pytest.approx(2.0)
    jobs = [{"start": 1.0, "end": 2.0}, {"start": 1.5, "end": 3.0}, {"start": 7.0, "end": 8.0}]
    assert trace.driver_gap(jobs, 0.0, 10.0) == pytest.approx(10.0 - 3.0)


def test_tracer_nests_worker_thread_spans_under_the_round():
    import threading

    tr = trace.Tracer()
    with tr.round_span(3):
        with tr.span("stage:qa"):
            pass

        def worker():
            with tr.span("commit:bloom"):
                pass

        t = threading.Thread(target=worker)
        t.start()
        t.join(timeout=10)
        assert not t.is_alive()
    rnd, stage, commit = tr.spans
    assert stage.parent == rnd.id and commit.parent == rnd.id
    assert {s.round for s in tr.spans} == {3}


# ----------------------------------------------------------------- CPU time
def test_tree_cpu_counts_a_reaped_child():
    import subprocess
    import sys

    from perfbench.workload import tree_cpu_s

    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\nt = time.process_time()\n"
                    "while time.process_time() - t < 0.5: pass"], check=True)
    assert tree_cpu_s() - before >= 0.45


def test_stop_ends_a_descendant_in_its_own_process_group():
    # as a PySpark worker daemon does, the grandchild leaves the group
    import subprocess
    import sys
    import time

    from perfbench import procs
    from perfbench.run import _stop

    code = ("import subprocess, sys, time\n"
            "subprocess.Popen([sys.executable, '-c',"
            " 'import os, time; os.setpgid(0, 0); time.sleep(60)'])\n"
            "time.sleep(60)")
    child = subprocess.Popen([sys.executable, "-c", code], start_new_session=True)
    seen, deadline = {}, time.time() + 10
    while len(seen) < 2 and time.time() < deadline:
        time.sleep(0.05)
        seen = procs.tree(child.pid, procs.stats())
    assert len(seen) == 2
    _stop(child, dict(seen))
    assert child.poll() is not None
    assert procs.alive(seen) == []
