"""Standalone replica of the external driver's verification loop.

Runs, in one process:
  1. entry(spark) smoke at sf0.001 (rows >= 0, stable schema)
  2. every queries()[name] on Spark vs oracle_sql()[name] on DuckDB at sf0.01
     (row count + sorted column names + order-insensitive value fingerprint,
      floats printed as ints when integral, None -> "NULL")
  3. a 2-round deterministic synthetic crawl via streaming.driver.run_rounds,
     inspecting the committed fetch_log / url_state tables

Prints one line per check; exits nonzero on any failure.
"""

import json
import math
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entry_mod
from neocrawler_spark.session import get_spark

SF001 = "/root/testdata/sf0.001"
SF01 = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.10g}"
    return str(v)


def fingerprint(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm(r[i]) for i in order) for r in rows)


def main():
    spark = get_spark("verify_gate")
    failures = []

    # --- 1. entry() smoke -------------------------------------------------
    df = entry_mod.entry(spark)
    n = df.count()
    print(f"entry: rows={n} schema={[f.name for f in df.schema.fields]}")
    if n < 0:
        failures.append("entry")

    # --- 2. oracle gate ---------------------------------------------------
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF01}/{t}.parquet'")
    queries, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    for name in sorted(queries):
        try:
            sdf = queries[name](spark, SF01)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
            if name not in oracles:
                print(f"{name}: rows-only (no oracle) spark_rows={len(s_rows)}")
                continue
            res = con.execute(oracles[name])
            d_cols = [c[0] for c in res.description]
            d_rows = res.fetchall()
            ok_cols = sorted(s_cols) == sorted(d_cols)
            ok_rows = len(s_rows) == len(d_rows)
            ok_hash = fingerprint(s_cols, s_rows) == fingerprint(d_cols, d_rows)
            status = "OK" if (ok_cols and ok_rows and ok_hash) else "FAIL"
            print(f"{name}: {status} spark_rows={len(s_rows)} oracle_rows={len(d_rows)}"
                  f" cols={ok_cols} hash={ok_hash}")
            if status == "FAIL":
                failures.append(name)
        except Exception as e:  # driver records err; we fail the run
            print(f"{name}: ERR {type(e).__name__}: {e}")
            failures.append(name)

    # --- 3. crawl-round drive --------------------------------------------
    from neocrawler_spark import schema, synth
    from neocrawler_spark.plans.round import CrawlContext
    from neocrawler_spark.rules import load_rules
    from neocrawler_spark.sources.tables import Catalog
    from neocrawler_spark.streaming.driver import run_rounds

    params = synth.site_params(n_domains=2, cats=1, lists_per_cat=2,
                               details_per_list=3, hot_details_per_list=3)
    with tempfile.TemporaryDirectory(prefix="ncs_verify_") as wh:
        cat = Catalog(wh)
        ctx = CrawlContext(spark, cat, load_rules(synth.gen_rules(params)),
                           synth.gen_pages_df(spark, params),
                           synth.gen_robots_df(spark, params),
                           settings={"buckets": 4})
        run_rounds(ctx, 2)
        flog = cat.read(spark, "fetch_log", schema.FETCH_LOG)
        nf = flog.count()
        nok = flog.filter("status = 'fetched'").count()
        last = cat.last_completed_round()
        # last_completed_round returns the full round record (dict) —
        # unwrap; older Catalogs returned the bare int
        last_n = last.get("round") if isinstance(last, dict) else last
        print(f"crawl: fetch_log_rows={nf} ok={nok} last_round={last_n}")
        if nf == 0 or nok == 0 or last_n != 2:
            failures.append("crawl_round")

    spark.stop()
    print(json.dumps({"verify_failures": failures}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
