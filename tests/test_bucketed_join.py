"""Bucketed-corpus fetch join (sources/bucketed.py): the pages side of the
join must carry NO Exchange (storage-partitioned join stand-in), and a crawl
over the bucketed corpus must be bit-identical to one over plain parquet."""

import pytest
from pyspark.sql import functions as F

from neocrawler_spark import schema, synth
from neocrawler_spark.plans import round as round_mod
from neocrawler_spark.plans.round import CrawlContext
from neocrawler_spark.rules import load_rules
from neocrawler_spark.sources.bucketed import write_bucketed_pages
from neocrawler_spark.sources.tables import Catalog
from neocrawler_spark.streaming.driver import run_rounds

PARAMS = synth.site_params(n_domains=2, cats=1, lists_per_cat=2,
                           details_per_list=3, hot_details_per_list=3)


def test_no_exchange_on_pages_side(spark, tmp_path):
    pages = spark.range(0, 20000).select(
        F.concat(F.lit("http://x.test/p"), F.col("id")).alias("url"),
        F.encode(F.concat(F.lit("<html>"), F.col("id").cast("string")), "utf-8").alias("html"),
    )
    corpus = write_bucketed_pages(spark, pages, str(tmp_path / "tbl"),
                                  name="pages_b_test", n_buckets=8)
    batch = spark.range(0, 1000).select(
        F.concat(F.lit("http://x.test/p"), (F.col("id") * 7).cast("string")).alias("url"),
        F.col("id").alias("seq"),
    )
    # the exact large-wave join shape from plans/round.py B2
    j = corpus.select("url", "html").join(batch.hint("SHUFFLE_HASH"), "url", "inner")
    j.count()  # AQE-final plan
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    assert "ShuffledHashJoin" in plan
    # exactly ONE exchange — and it is on the batch side (hashes batch cols)
    ex_lines = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert len(ex_lines) == 1, plan
    assert "html" not in ex_lines[0], ex_lines  # html never enters a shuffle
    spark.sql("DROP TABLE IF EXISTS pages_b_test")


@pytest.mark.slow
def test_bucketed_crawl_bit_identical(spark, tmp_path, monkeypatch):
    """Same 2-round crawl over plain-parquet pages vs the bucketed corpus:
    fetch_log must match row-for-row (the join change is pure physics)."""
    # force the SHUFFLE_HASH/bucketed branch
    monkeypatch.setattr(round_mod, "FETCH_BROADCAST_LIMIT", 1)
    rules = load_rules(synth.gen_rules(PARAMS))
    pages_plain = synth.gen_pages_df(spark, PARAMS)
    pages_plain.write.mode("overwrite").parquet(str(tmp_path / "plain"))

    def crawl(pages, sub):
        cat = Catalog(tmp_path / sub)
        ctx = CrawlContext(spark, cat, rules, pages,
                           synth.gen_robots_df(spark, PARAMS),
                           settings={"buckets": 4, "bloom_keys_per_bucket": 200})
        run_rounds(ctx, 2)
        return sorted(
            (r["round"], r["seq"], r["url"], r["status"], r["reason"])
            for r in cat.read(spark, "fetch_log", schema.FETCH_LOG).collect()
        )

    a = crawl(spark.read.parquet(str(tmp_path / "plain")), "wh_plain")
    b = crawl(write_bucketed_pages(spark, pages_plain, str(tmp_path / "tbl2"),
                                   name="pages_b_e2e", n_buckets=8), "wh_bucketed")
    assert a == b and len(a) > 0
    spark.sql("DROP TABLE IF EXISTS pages_b_e2e")
