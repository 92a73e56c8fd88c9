#!/usr/bin/env python3
"""Record the expected outputs the benchmark checks against.

    python3 perfbench/record.py crawl       # every crawl site variant
    python3 perfbench/record.py analytics   # every query the benchmark runs

Run from the repository root; results go to perfbench/expected.json.

crawl: runs the crawl workload once per site variant (seeds 0..VARIANTS-1)
and records its fetch_log fingerprint and url_state row count. A variant is
recorded only if url_state holds no duplicate hash and every hash probes
positive in the Bloom shards.

analytics: runs each query on Spark, writes its result to parquet and
compares it on DuckDB with the query's `oracle_sql()` (row count, column
names and every row, with floats compared as `scripts/verify_gate.py`
prints them). Only a query whose output matches its oracle is recorded; the
recorded value is the fingerprint the benchmark computes while the query
runs. An oracle that runs past ORACLE_TIMEOUT_S is recorded as not run.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EXPECTED = Path(__file__).resolve().parent / "expected.json"
ORACLE_TIMEOUT_S = 900


def _save(section: str, values: dict) -> None:
    data = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {}
    data.setdefault("crawl", {})
    data.setdefault("analytics", {})
    data[section] = values
    EXPECTED.write_text(json.dumps(data, indent=1, sort_keys=True) + "\n")


def record_crawl() -> int:
    from perfbench import corpus
    from perfbench.run import STATE, run_child

    values = {}
    for v in range(corpus.VARIANTS):
        work = STATE / f"record-crawl-{v}"
        try:
            res, _ = run_child("crawl", v, 0, work)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        out = (res or {}).get("detail", {}).get("outputs")
        if not out or out["url_state_dup_hashes"] or out["bloom_misses"]:
            print(f"variant {v}: not recorded: {res and res.get('error') or out}")
            return 1
        values[str(v)] = {"fetch_log": out["fetch_log"], "url_state_rows": out["url_state_rows"]}
        print(f"variant {v}: {out['url_state_rows']} url_state rows, "
              f"{sum(x[0] for x in out['fetch_log'].values())} fetch_log rows")
    _save("crawl", values)
    return 0


def _canonical_rows(con, rel: str) -> str:
    """SQL of one text row per result row: columns sorted by name, floats
    as verify_gate.py prints them."""
    cols = sorted(con.execute(f"DESCRIBE {rel}").fetchall())
    parts = []
    for name, typ, *_ in cols:
        c = f'"{name}"'
        if typ in ("FLOAT", "DOUBLE"):
            parts.append(f"CASE WHEN {c} IS NULL THEN 'NULL' "
                         f"WHEN {c} = floor({c}) AND abs({c}) < 1e15 "
                         f"THEN CAST(CAST({c} AS BIGINT) AS VARCHAR) "
                         f"ELSE format('{{:.10g}}', {c}) END")
        else:
            parts.append(f"coalesce(CAST({c} AS VARCHAR), 'NULL')")
    return f"SELECT concat_ws('|', {', '.join(parts)}) AS r FROM {rel}"


def oracle_matches(con, spark_parquet: str, oracle_sql: str) -> str:
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        con.execute(f"CREATE OR REPLACE TEMP TABLE o AS {oracle_sql}")
    except Exception as e:  # duckdb raises its own InterruptException
        if "INTERRUPT" in str(e).upper():
            return "not run: oracle exceeded the time limit"
        raise
    finally:
        timer.cancel()
    con.execute(f"CREATE OR REPLACE TEMP VIEW s AS SELECT * FROM read_parquet('{spark_parquet}/*.parquet')")
    s_cols = sorted(r[0] for r in con.execute("DESCRIBE s").fetchall())
    o_cols = sorted(r[0] for r in con.execute("DESCRIBE o").fetchall())
    if s_cols != o_cols:
        return f"mismatch: columns {s_cols} vs {o_cols}"
    diff = con.execute(
        f"SELECT count(*) FROM (({_canonical_rows(con, 's')} EXCEPT ALL {_canonical_rows(con, 'o')})"
        f" UNION ALL ({_canonical_rows(con, 'o')} EXCEPT ALL {_canonical_rows(con, 's')}))"
    ).fetchone()[0]
    n_s = con.execute("SELECT count(*) FROM s").fetchone()[0]
    n_o = con.execute("SELECT count(*) FROM o").fetchone()[0]
    if diff or n_s != n_o:
        return f"mismatch: {n_s} vs {n_o} rows, {diff} differ"
    return "match"


def record_analytics() -> int:
    import duckdb

    from neocrawler_spark.operators import dedup, similarity
    from perfbench import checks
    from perfbench.run import STATE
    from perfbench.workload import DATA, QUERY_FAMILIES, start_spark

    work = STATE / "record-analytics"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["PYTHONPATH"] = str(ROOT)  # the JVM's Python workers inherit it
    spark = start_spark(work, trace=False)
    con = duckdb.connect(config={"memory_limit": "4GB", "threads": 2})
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    values, bad = {}, 0
    try:
        catalog = {**dedup.QUERIES, **similarity.QUERIES}
        for q in (q for names in QUERY_FAMILIES.values() for q in names):
            fn, sql = catalog[q]
            df = fn(spark, str(DATA))
            observed, obs = checks.observe_fingerprint(df, q)
            path = str(work / q)
            observed.write.mode("overwrite").parquet(path)
            fp = checks.fingerprint(df, obs)
            verdict = oracle_matches(con, path, sql)
            print(f"{q}: {fp['rows']} rows, oracle {verdict}", flush=True)
            if verdict.startswith("mismatch"):
                bad += 1
                continue
            values[q] = dict(fp, oracle=verdict)
            shutil.rmtree(path, ignore_errors=True)
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    _save("analytics", values)
    return 1 if bad else 0


def main() -> int:
    sys.path.insert(0, str(ROOT))
    what = sys.argv[1] if len(sys.argv) > 1 else ""
    if what == "crawl":
        return record_crawl()
    if what == "analytics":
        return record_analytics()
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main())
