"""One benchmark workload in one process: start Spark, make the seeded
inputs, run the measured operations, check their outputs and write the
result as JSON. `run.py` launches this file; see its docstring.

Workloads (see BENCHMARK.json for why each was chosen):

* crawl: a seeded synthetic site, every list page seeded, crawled for two
  rounds through `streaming.driver.run_rounds`. Round 1 fetches homes and
  lists (little work, plus the first round's warm-up): the per-round floor.
  Round 2 is the detail wave, where extraction, the Bloom probe and the
  state merge carry the work.
* analytics: six queries of the `operators.dedup` and `operators.similarity`
  families over the sf0.1 embeddings and the first quarter of its documents,
  each query materialized into Spark's noop sink. Set-up runs every query
  once (the warm-up); the timed pass runs them again, the seed permuting
  their order within each family.

The timed figures are the CPU seconds of the workload's process tree, with
the walls alongside (see `procs.cpu_s`). Both workloads are sized so that the
benchmark's runs fit its time budget on a 4-core host: a run is one Spark
start (~7 s), then for the crawl the corpus generation (~12 s, most of it the
session's first-job warm-up) and 40-45 s of measured rounds, for analytics
the warm-up pass (~27 s) and ~10 s of measured queries. For the same reason
the crawl reads its corpus as plain parquet: writing it as a bucketed table
(`sources.bucketed`) added ~7 s to every run.

An operation is one crawl round or one query; an exception or a wrong
output counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
DATA = Path(__file__).resolve().parent / "data"
EXPECTED = Path(__file__).resolve().parent / "expected.json"

CRAWL_ROUNDS = 2
FLOOR_ROUND = 1
WAVE_ROUND = 2
# a crawl run's operations, timed; a traced run adds two replays of the wave
CRAWL_OPS = ("round1", "wave")
TRACE_OPS = ("untraced", "traced")
CRAWL_SETTINGS = {
    "schedule_quantity_limitation": 2_000_000,  # quota open
    "buckets": 16,  # as bench.py; the Bloom sizing is the engine's default
}

STAGES = ("fr2", "qa", "gated", "exres", "pe", "updates", "crawled_out")
TABLES = ("url_state", "bloom", "fetch_log", "frontier", "crawled", "scheduled", "metrics")
ENGINE = ("task_cpu_s", "py_s", "shuffle_mb", "spill_mb", "gc_s")
WORKLOADS = ("crawl", "analytics")


# Six of the thirteen dedup/similarity queries: each runs twice a run (the
# warm-up and the timed pass), and more did not fit the run budget. Left
# out: dedup_minhash (the signature stage of dedup_minhash_lsh),
# dedup_ngram_jaccard (a capped sample-only baseline that returns no rows
# here), ann_ivf_bucket, embed_nearest_label, ann_ivf_kmeans_k32 (ann_ivf_kmeans
# with k=32 and 2 steps; 12 s a run), dedup_embed_cosine (exact cosine over
# embeddings pairs, as embed_cosine_topk, within a sign-bit cell; 7 s a run)
# and dedup_lsh_resolve (connected components of the verified LSH candidate
# pairs; 10 s a run).
QUERY_FAMILIES = {
    "dedup": ["dedup_exact", "dedup_minhash_lsh", "dedup_lsh_incremental",
              "dedup_simhash"],
    "similarity": ["embed_cosine_topk", "ann_ivf_kmeans"],
}


def end_to_end_names() -> list[str]:
    return ["setup_s", "work_cpu_s", "heavy_cpu_s", "light_cpu_s"]


def per_layer_names() -> list[str]:
    names = ["session.start_s", "synth.corpus_s", "memory.peak_rss_mb"]
    names += [f"spark.{k}" for k in ("jobs", "driver_gap_s") + ENGINE]
    names += ["plans.round.jobs", "plans.round.tasks", "plans.round.driver_gap_s"]
    names += [f"sources.tables.stage_s.{s}" for s in STAGES]
    names += [f"sources.tables.stage_rows.{s}" for s in STAGES]
    names += [f"spark.stage.{s}.{k}" for s in STAGES for k in ENGINE]
    names += [f"sources.tables.commit_s.{t}" for t in TABLES]
    names += [f"sources.tables.{k}" for k in
              ("rows_written", "bytes_written", "files_written", "manifest_bytes")]
    names += [f"functions.extract.{k}" for k in ("py_s", "task_cpu_s", "pages_per_s")]
    names += [f"operators.bloom.{k}" for k in
              ("probe_py_s", "commit_s", "new_frac", "fill", "est_fpr")]
    names += [f"operators.scheduler.{k}" for k in
              ("batch_rows", "denied_rows", "left_rows", "gate_s")]
    for fam, queries in QUERY_FAMILIES.items():
        for q in queries:
            names += [f"operators.{fam}.{q}_s", f"operators.{fam}.{q}.task_cpu_s",
                      f"operators.{fam}.{q}.shuffle_mb"]
    names.append("trace.overhead_s")
    return names


def unit_of(name: str) -> str:
    """The unit named by the metric's suffix. The suffix is on the last dot
    segment, or on the one before it when the last names a stage or table
    (`sources.tables.stage_s.pe`)."""
    parts = name.split(".")
    last = parts[-1]
    if len(parts) > 1 and parts[-2] in ("stage_s", "commit_s", "stage_rows"):
        last = parts[-2]
    if last.endswith("_per_s"):
        return "1/s"
    if last.endswith("_s"):
        return "s"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("bytes") or last == "bytes_written":
        return "bytes"
    if last in ("new_frac", "fill", "est_fpr"):
        return "ratio"
    return "count"


# ---------------------------------------------------------------- CPU time
def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and every process under it:
    the Spark JVM and its Python workers (see `procs.cpu_s`)."""
    from perfbench import procs

    return procs.cpu_s(os.getpid())


# ------------------------------------------------------------------ session
def start_spark(work: Path, trace: bool):
    from neocrawler_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(work / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log(work: Path) -> str:
    files = [p for p in (work / "eventlog").iterdir() if not p.name.startswith(".")]
    return str(files[0])


# -------------------------------------------------------------------- crawl
def make_corpus(spark, work: Path, seed: int):
    """The seed's pages table, generated once and written to parquet.
    Returns (params, pages, seconds)."""
    from perfbench import corpus

    raw = work / "pages.parquet"
    t0 = time.time()
    corpus.write_pages(spark, seed, str(raw))
    return corpus.site_params(seed), spark.read.parquet(str(raw)), time.time() - t0


def run_crawl(spark, work: Path, seed: int, tracer=None) -> dict:
    """Round 1 and the wave, timed. A traced run then replays the wave from
    the catalog as round 1 left it, once untraced and once traced, for the
    tracing overhead."""
    from neocrawler_spark import synth
    from neocrawler_spark.plans.round import CrawlContext
    from neocrawler_spark.rules import load_rules
    from neocrawler_spark.sources.tables import Catalog
    from neocrawler_spark.streaming.driver import run_rounds

    from perfbench import checks, corpus, trace

    params, pages, inputs_s = make_corpus(spark, work, seed)
    cat = Catalog(work / "catalog")
    after_round1 = work / "catalog-round1"
    ctx = CrawlContext(spark, cat, load_rules(synth.gen_rules(params)), pages,
                       synth.gen_robots_df(spark, params), settings=dict(CRAWL_SETTINGS))
    # the later replay runs warmer: the seed's parity picks which goes first
    ops = CRAWL_OPS + ((TRACE_OPS if seed % 2 == 0 else TRACE_OPS[::-1]) if tracer else ())
    rounds, cpu, windows, wave_fp, error = {}, {}, [], {}, None
    try:
        for op in ops:
            if op in TRACE_OPS:  # back to the catalog as round 1 left it
                shutil.rmtree(cat.root)
                shutil.copytree(after_round1, cat.root)
            t, c = time.time(), tree_cpu_s()
            with trace.untraced(tracer, spark) if op == "untraced" else nullcontext():
                rounds[op], = run_rounds(ctx, 1)
            cpu[op] = tree_cpu_s() - c
            if op in CRAWL_OPS:
                windows.append((t, time.time()))
            if op == "round1":
                if tracer:
                    shutil.copytree(cat.root, after_round1)
            else:
                wave_fp[op] = checks.round_entries(checks.fetch_log_fingerprint(
                    checks.read_columns(cat, "fetch_log", ["round", "status", "seq", "url"])),
                    WAVE_ROUND)
    except Exception:  # a crashed round is a failed operation, not a crashed benchmark
        error = traceback.format_exc()

    failed = [op for op in ops if op not in rounds]
    out = None
    if not error:
        out = checks.crawl_outputs(spark, cat)
        expected = load_expected()["crawl"].get(str(corpus.variant(seed)))
        if expected is None:
            failed = list(ops)
            error = f"no recorded outputs for variant {corpus.variant(seed)}"
        else:
            bad = checks.crawl_failed_rounds(out, expected, CRAWL_ROUNDS)
            want = checks.round_entries(expected["fetch_log"], WAVE_ROUND)
            failed = [op for op in ops if (op == "round1" and FLOOR_ROUND in bad)
                      or (op != "round1" and wave_fp[op] != want)
                      or (op == ops[-1] and WAVE_ROUND in bad)]  # the end state
    wall = {op: m["wall_s"] for op, m in rounds.items()}
    wave = rounds.get("wave")
    res = {
        "attempted": len(ops),
        "failed": len(failed),
        "failed_ops": failed,
        "error": error,
        "inputs_s": inputs_s,
        "work_s": wall.get("round1", 0.0) + wall.get("wave", 0.0),
        "heavy_s": wall.get("wave", 0.0),
        "light_s": wall.get("round1", 0.0),
        "work_cpu_s": cpu.get("round1", 0.0) + cpu.get("wave", 0.0),
        "heavy_cpu_s": cpu.get("wave", 0.0),
        "light_cpu_s": cpu.get("round1", 0.0),
        "items_per_s": (wave["fetched"] + wave["failed"]) / wave["wall_s"] if wave else 0.0,
        "windows": windows,
        "rounds": [{"op": op, **{k: m[k] for k in ("round", "fetched", "failed", "denied",
                                                   "wall_s", "commit_s", "phase_s")}}
                   for op, m in rounds.items()],
        "outputs": out,
        "catalog": cat,
    }
    if tracer:
        res["trace_overhead_s"] = wall.get("traced", 0.0) - wall.get("untraced", 0.0)
    return res


# ---------------------------------------------------------------- analytics
def run_analytics(spark, work: Path, seed: int, tracer=None) -> dict:
    """Every query once as a warm-up, then once more, timed. A traced run
    then runs each query again untraced and traced, for the tracing
    overhead on warm queries."""
    import warnings

    from neocrawler_spark.operators import dedup, similarity

    from perfbench import checks, trace

    expected = load_expected()["analytics"]
    fns = {**{q: fn for q, (fn, _) in dedup.QUERIES.items()},
           **{q: fn for q, (fn, _) in similarity.QUERIES.items()}}
    rng = random.Random(seed)
    order = []
    for fam, names in QUERY_FAMILIES.items():
        names = list(names)
        rng.shuffle(names)
        order += [(fam, q) for q in names]
    failed, errors = [], {}

    def run_query(fam, q, tracer):
        spark.sparkContext.setJobDescription(f"query:{q}")
        t0, c0 = time.time(), tree_cpu_s()
        fp = None
        try:
            with (tracer.span(f"query:{q}", family=fam) if tracer else nullcontext()), \
                    warnings.catch_warnings():
                warnings.simplefilter("ignore")
                df = fns[q](spark, str(DATA))
                observed, obs = checks.observe_fingerprint(df, q)
                observed.write.format("noop").mode("overwrite").save()
            wall, cpu = time.time() - t0, tree_cpu_s() - c0
            fp = checks.fingerprint(df, obs)
            if not checks.query_ok(fp, expected.get(q, {})):
                failed.append(q)
        except Exception:  # a crashed query is a failed operation
            wall, cpu = time.time() - t0, tree_cpu_s() - c0
            failed.append(q)
            errors[q] = traceback.format_exc()
        finally:
            spark.sparkContext.setJobDescription(None)
        return {"query": q, "family": fam, "wall_s": wall, "cpu_s": cpu, "fingerprint": fp}

    # warm-up, part of set-up: every query once, in the declared order and
    # output-checked, so that the timed pass runs on a JVM whose JIT has
    # settled (a query's first run costs several times its later ones)
    t_warm = time.time()
    warm = [run_query(fam, q, None) for fam, qs in QUERY_FAMILIES.items() for q in qs]
    t_start = time.time()
    queries = [run_query(fam, q, tracer) for fam, q in order]
    t_end = time.time()
    attempted = len(warm) + len(queries)
    overhead = None
    if tracer:
        # each query once more untraced and traced, in alternating order, so
        # that what is still warming up weighs on both sides alike
        overhead = 0.0
        for i, (fam, q) in enumerate(order):
            for traced in ((False, True) if i % 2 == 0 else (True, False)):
                if traced:
                    overhead += run_query(fam, q, tracer)["wall_s"]
                else:
                    with trace.untraced(tracer, spark):
                        overhead -= run_query(fam, q, None)["wall_s"]
                attempted += 1
    fam_s, fam_cpu = ({fam: sum(r[k] for r in queries if r["family"] == fam)
                       for fam in QUERY_FAMILIES} for k in ("wall_s", "cpu_s"))
    rows = sum((r["fingerprint"] or {}).get("rows", 0) for r in queries)
    res = {
        "attempted": attempted,
        "failed": len(failed),
        "failed_ops": failed,
        "error": json.dumps(errors) if errors else None,
        "inputs_s": t_start - t_warm,  # the warm-up; the inputs are read in place
        "work_s": sum(fam_s.values()),
        "heavy_s": fam_s["dedup"],
        "light_s": fam_s["similarity"],
        "work_cpu_s": sum(fam_cpu.values()),
        "heavy_cpu_s": fam_cpu["dedup"],
        "light_cpu_s": fam_cpu["similarity"],
        "items_per_s": rows / max(sum(fam_s.values()), 1e-9),
        "windows": [(t_start, t_end)],
        "queries": queries,
        "warmup": warm,
    }
    if tracer:
        res["trace_overhead_s"] = overhead
    return res


def load_expected() -> dict:
    if not EXPECTED.exists():
        return {"crawl": {}, "analytics": {}}
    return json.loads(EXPECTED.read_text())


# ------------------------------------------------------------ trace metrics
def crawl_layers(res: dict, tracer, jobs: list[dict], lay: dict) -> list[dict]:
    """Fill the crawl layers' metrics from the timed rounds (round 1 and the
    wave) and their Spark jobs; returns the breakdown of every traced round,
    the traced replay of the wave included."""
    import pyarrow.parquet as pq

    from perfbench import trace

    selft = trace.self_times(tracer.spans)
    spans = [s for s in tracer.spans if trace.in_windows(s.start, res["windows"])]
    by_desc: dict[str, list[dict]] = {}
    for j in jobs:
        if not trace.in_windows(j["start"], res["windows"]):
            continue
        by_desc.setdefault(j["desc"], []).append(j)

    def span_sum(name, key=None):
        return sum((s.dur if key is None else s.attrs.get(key, 0))
                   for s in spans if s.name == name)

    for s in STAGES:
        lay[f"sources.tables.stage_s.{s}"] = span_sum(f"stage:{s}")
        lay[f"sources.tables.stage_rows.{s}"] = span_sum(f"stage:{s}", "rows")
        tot = trace.job_totals(by_desc.get(f"stage:{s}", []))
        for k in ENGINE:
            lay[f"spark.stage.{s}.{k}"] = tot[k]
    commit_spans = [s for s in spans if s.name.startswith("commit:")]
    for t in TABLES:
        lay[f"sources.tables.commit_s.{t}"] = sum(
            s.dur for s in commit_spans
            if s.name == f"commit:{t}" or s.name.startswith(f"commit:{t}_"))
    for k, a in (("rows_written", "rows"), ("bytes_written", "bytes"),
                 ("files_written", "files"), ("manifest_bytes", "manifest_bytes")):
        lay[f"sources.tables.{k}"] = sum(s.attrs.get(a, 0) for s in commit_spans)
    ex = trace.job_totals(by_desc.get("stage:exres", []))
    lay["functions.extract.py_s"] = ex["py_s"]
    lay["functions.extract.task_cpu_s"] = ex["task_cpu_s"]
    ex_s = lay["sources.tables.stage_s.exres"]
    lay["functions.extract.pages_per_s"] = (
        lay["sources.tables.stage_rows.exres"] / ex_s if ex_s else 0.0)
    lay["operators.bloom.probe_py_s"] = lay["spark.stage.pe.py_s"]
    lay["operators.bloom.commit_s"] = lay["sources.tables.commit_s.bloom"]
    pe_rows = lay["sources.tables.stage_rows.pe"]
    lay["operators.bloom.new_frac"] = (
        (res["outputs"] or {}).get("url_state_rows", 0) / pe_rows if pe_rows else 0.0)
    fills, fprs = [], []
    man = res["catalog"].manifest("bloom") or {"files": []}
    for f in man["files"]:
        t = pq.ParquetFile(f["path"]).read(columns=["m", "k", "bits"]).to_pylist()
        for row in t:
            ones = sum(bin(b).count("1") for b in row["bits"])
            fills.append(ones / row["m"])
            fprs.append((ones / row["m"]) ** row["k"])
    lay["operators.bloom.fill"] = statistics.mean(fills) if fills else 0.0
    lay["operators.bloom.est_fpr"] = statistics.mean(fprs) if fprs else 0.0
    for disp in ("batch", "denied", "left"):
        lay[f"operators.scheduler.{disp}_rows"] = span_sum("stage:gated", f"disp={disp}")
    lay["operators.scheduler.gate_s"] = (lay["sources.tables.stage_s.qa"]
                                         + lay["sources.tables.stage_s.gated"])

    per_round = []
    round_spans = [s for s in tracer.spans if s.name == "round"]
    for op, sp in zip(CRAWL_OPS + ("traced",), round_spans):  # the untraced replay has none
        rj = trace.jobs_in(jobs, sp.start, sp.end)
        tot = trace.job_totals(rj)
        kids = [s for s in tracer.spans if sp.start <= s.start <= sp.end and s is not sp]
        per_round.append({
            "op": op, "round": sp.round, "wall_s": sp.dur, "self_s": selft[sp.id],
            "jobs": tot["jobs"], "tasks": tot["tasks"],
            "driver_gap_s": trace.driver_gap(rj, sp.start, sp.end),
            **{k: tot[k] for k in ENGINE},
            "stage_s": {s.name[6:]: s.dur for s in kids if s.name.startswith("stage:")},
            "stage_rows": {s.name[6:]: s.attrs.get("rows", 0)
                           for s in kids if s.name.startswith("stage:")},
            "commit_s": {s.name[7:]: s.dur for s in kids if s.name.startswith("commit:")},
        })
    for r in per_round:
        if r["op"] == "round1":
            for k in ("jobs", "tasks", "driver_gap_s"):
                lay[f"plans.round.{k}"] = r[k]
    return per_round


def analytics_layers(res: dict, jobs: list[dict], lay: dict) -> list[dict]:
    from perfbench import trace

    per_query = []
    for r in res["queries"]:
        tot = trace.job_totals([j for j in jobs if j["desc"] == f"query:{r['query']}"])
        pre = f"operators.{r['family']}.{r['query']}"
        lay[f"{pre}_s"] = r["wall_s"]
        lay[f"{pre}.task_cpu_s"] = tot["task_cpu_s"]
        lay[f"{pre}.shuffle_mb"] = tot["shuffle_mb"]
        per_query.append({"query": r["query"], "wall_s": r["wall_s"],
                          "rows": (r["fingerprint"] or {}).get("rows"), **tot})
    return per_query


# --------------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    work = Path(args.work)
    work.mkdir(parents=True, exist_ok=True)

    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.Tracer()
        trace.instrument(tracer)
    t0 = time.time()
    spark = start_spark(work, bool(args.trace))
    session_s = time.time() - t0

    run = run_crawl if args.workload == "crawl" else run_analytics
    res = run(spark, work, args.seed, tracer)
    t_stop = time.time()
    spark.stop()  # flushes the event log
    stop_s = time.time() - t_stop

    result = {
        "attempted": res["attempted"],
        "failed": res["failed"],
        "failed_ops": res["failed_ops"],
        "error": res["error"],
        "end_to_end": {
            "setup_s": session_s + res["inputs_s"],
            **{k: res[k] for k in ("work_cpu_s", "heavy_cpu_s", "light_cpu_s",
                                   "work_s", "heavy_s", "light_s", "items_per_s")},
        },
        "detail": {"process_s": time.time() - t0, "stop_s": stop_s,
                   "rounds": res.get("rounds"), "outputs": res.get("outputs"),
                   "queries": [{k: q[k] for k in ("query", "wall_s", "cpu_s", "fingerprint")}
                               for q in res.get("queries", [])],
                   "warmup": [{k: q[k] for k in ("query", "wall_s", "cpu_s")}
                              for q in res.get("warmup", [])]},
    }
    if tracer is not None:
        from perfbench import trace

        jobs = trace.read_jobs(event_log(work))
        lay = dict.fromkeys(per_layer_names(), 0.0)
        lay["session.start_s"] = session_s
        lay["trace.overhead_s"] = res["trace_overhead_s"]
        if args.workload == "crawl":
            lay["synth.corpus_s"] = res["inputs_s"]
        timed = [j for j in jobs if trace.in_windows(j["start"], res["windows"])]
        tot = trace.job_totals(timed)
        lay["spark.jobs"] = tot["jobs"]
        lay["spark.driver_gap_s"] = sum(trace.driver_gap(timed, lo, hi)
                                        for lo, hi in res["windows"])
        for k in ENGINE:
            lay[f"spark.{k}"] = tot[k]
        if args.workload == "crawl":
            result["detail"]["per_round"] = crawl_layers(res, tracer, jobs, lay)
        else:
            result["detail"]["per_query"] = analytics_layers(res, timed, lay)
        result["per_layer"] = lay
        tracer.dump(str(work / "spans.json"))
        result["detail"]["spans_file"] = str(work / "spans.json")
    Path(args.out).write_text(json.dumps(result, default=str))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
