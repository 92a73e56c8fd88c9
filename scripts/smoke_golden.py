"""Regenerate the crawl_round_smoke golden oracle (SQL_CRAWL_ROUND_SMOKE in
__spark_entry__.py): runs the deterministic smoke crawl and prints the
expected summary as a SQL VALUES block. Run after any INTENTIONAL change to
crawl semantics; an unintentional diff here is a regression, not a new
golden."""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry_mod
from neocrawler_spark.session import get_spark


def main():
    spark = get_spark("smoke_golden")
    df = entry_mod._crawl_round_smoke(spark, "/root/testdata/sf0.001")
    rows = sorted(
        (tuple(r) for r in df.collect()), key=lambda t: (t[0], t[1])
    )
    print("FROM (VALUES")
    body = ",\n".join(
        f"  ({r[0]}, '{r[1]}', {r[2]}, {r[3]},\n   '{r[4]}',\n   '{r[5]}')"
        for r in rows
    )
    print(body)
    print(") AS t(r, status, n, seq_sum, min_url, max_url)")
    spark.stop()


if __name__ == "__main__":
    main()
