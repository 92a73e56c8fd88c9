#!/usr/bin/env python
"""spark-submit entry point (BASELINE.md measurement protocol / north_rule
"runs via spark-submit --py-files"):

  zip -r engine.zip neocrawler_spark
  spark-submit --py-files engine.zip scripts/run_rounds.py \\
      --warehouse /tmp/wh --rounds 5 --corpus /tmp/wh/pages_corpus

The session comes from `session.get_spark`, which keeps spark-submit's
--master (local[*] when none is given): a real cluster runs the same
invocation with --master yarn/k8s and the warehouse on shared storage.
Resume is automatic (the catalog restores the last completed round).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--warehouse", required=True, help="catalog root (shared storage)")
    ap.add_argument("--rounds", type=int, default=1)
    ap.add_argument("--corpus", default=None,
                    help="pages parquet path; default: synthesize under the warehouse")
    ap.add_argument("--rules", default=None, help="rules JSON; default: synth fixture")
    ap.add_argument("--quota", type=int, default=200)
    ap.add_argument("--synth-scale", default="4,6,8,30,120",
                    help="D,cats,lists,details,hot_details for the synth corpus")
    args = ap.parse_args()

    from neocrawler_spark import synth
    from neocrawler_spark.plans.round import CrawlContext
    from neocrawler_spark.rules import load_rules
    from neocrawler_spark.session import get_spark
    from neocrawler_spark.sources.tables import Catalog
    from neocrawler_spark.streaming.driver import run_rounds

    spark = get_spark("run_rounds")

    d, c, p, k, hk = (int(x) for x in args.synth_scale.split(","))
    params = synth.site_params(d, c, p, k, hk)
    if args.corpus:
        pages = spark.read.parquet(args.corpus)
    else:
        corpus = f"{args.warehouse}/pages_corpus"
        synth.gen_pages_df(spark, params).write.mode("ignore").parquet(corpus)
        pages = spark.read.parquet(corpus)
    rules = load_rules(args.rules) if args.rules else load_rules(synth.gen_rules(params))

    ctx = CrawlContext(
        spark, Catalog(args.warehouse), rules, pages,
        synth.gen_robots_df(spark, params),
        settings={"schedule_quantity_limitation": args.quota},
    )
    t0 = time.time()
    metrics = run_rounds(ctx, args.rounds, verbose=True)
    wall = time.time() - t0
    done = sum(m["fetched"] + m["failed"] for m in metrics)
    print(json.dumps({
        "rounds": len(metrics), "urls_processed": done, "wall_s": round(wall, 2),
        "urls_per_sec": round(done / wall, 2) if wall else 0.0,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
