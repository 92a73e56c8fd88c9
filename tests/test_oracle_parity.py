"""Engine-vs-sequential-oracle parity (north_rule: same crawl ordering and
URL-seen set under the same seed list + politeness budget).

The distributed round job (plans/round.py) must produce EXACTLY the state the
pure-Python sequential interpreter (oracle_crawler.py) derives: per-round
fetch sets in order, the URL-seen set (url_info keys), every url's
status/records/version, frontier contents per rule in order, and
byte-identical extracted fields."""

import pytest
from pyspark.sql import functions as F

from neocrawler_spark import schema, synth
from neocrawler_spark.functions.canon import md5_hex
from neocrawler_spark.plans.round import CrawlContext, DEFAULT_SETTINGS
from neocrawler_spark.rules import load_rules
from neocrawler_spark.sources.tables import Catalog
from neocrawler_spark.streaming.driver import run_rounds

from tests.oracle_crawler import OracleCrawler

PARAMS = synth.site_params(n_domains=3, cats=2, lists_per_cat=3,
                           details_per_list=3, hot_details_per_list=7)
N_ROUNDS = 5
SETTINGS = {
    "schedule_quantity_limitation": 60,  # tight: exercises quota carry + leftovers
    "buckets": 8,
    "default_host_budget": 25,  # tight: politeness leftovers across rounds
}


@pytest.fixture(scope="module")
def pair(spark, tmp_path_factory):
    rules = load_rules(synth.gen_rules(PARAMS))
    pages_df = synth.gen_pages_df(spark, PARAMS).cache()
    robots_rows = synth.gen_robots_rows(PARAMS)
    # tighten robots budgets to force politeness decisions
    for r in robots_rows:
        r["max_fetches_per_round"] = min(r["max_fetches_per_round"], 40)
    robots_df = spark.createDataFrame(robots_rows, schema=schema.ROBOTS)

    ctx = CrawlContext(
        spark, Catalog(tmp_path_factory.mktemp("parity") / "wh"),
        rules, pages_df, robots_df, settings=dict(SETTINGS),
    )
    run_rounds(ctx, N_ROUNDS)

    pages = {
        r["url"]: bytes(r["html"]).decode("utf-8")
        for r in pages_df.select("url", "html").collect()
    }
    oracle = OracleCrawler(
        rules, pages, robots_rows,
        {**DEFAULT_SETTINGS, **SETTINGS}, base_ts=ctx.base_ts,
    )
    for _ in range(N_ROUNDS):
        oracle.run_round()
    return ctx, oracle


def test_fetch_order_per_round(pair):
    ctx, oracle = pair
    flog = (
        ctx.catalog.read(ctx.spark, "fetch_log", schema.FETCH_LOG)
        .where(F.col("status").isin("fetched", "failed"))
        .select("round", "seq", "url")
        .collect()
    )
    got = {}
    for r in flog:
        got.setdefault(r["round"], []).append((r["seq"], r["url"]))
    for rnd in range(1, N_ROUNDS + 1):
        engine_order = [u for _, u in sorted(got.get(rnd, []))]
        assert engine_order == oracle.fetch_rounds[rnd - 1], f"round {rnd}"


def test_url_seen_set(pair):
    ctx, oracle = pair
    us = {
        r["url_hash"]: r
        for r in ctx.catalog.read(ctx.spark, "url_state", schema.URL_STATE).collect()
    }
    assert set(us.keys()) == set(oracle.url_info.keys())


def test_url_state_fields(pair):
    ctx, oracle = pair
    us = {
        r["url_hash"]: r
        for r in ctx.catalog.read(ctx.spark, "url_state", schema.URL_STATE).collect()
    }
    mismatches = []
    for h, want in oracle.url_info.items():
        got = us[h]
        for field in ("url", "rule_key", "status", "referer", "version", "drill_relation"):
            g, w = got[field], want.get(field)
            if field == "referer":
                w = w or ""
            if g != w:
                mismatches.append((want["url"], field, g, w))
        if list(got["records"]) != want["records"]:
            mismatches.append((want["url"], "records", list(got["records"]), want["records"]))
    assert not mismatches, mismatches[:10]


def test_frontier_contents_and_order(pair):
    ctx, oracle = pair
    fr = (
        ctx.catalog.read(ctx.spark, "frontier", schema.FRONTIER)
        .select("rule_key", "seq", "url")
        .collect()
    )
    got = {}
    for r in fr:
        got.setdefault(r["rule_key"], []).append((r["seq"], r["url"]))
    want = {k: v for k, v in oracle.frontier.items() if v}
    assert {k for k, v in got.items() if v} == set(want.keys())
    for rk, urls in want.items():
        engine = [u for _, u in sorted(got[rk])]
        assert engine == urls, rk


def test_crawled_bytes(pair):
    ctx, oracle = pair
    cr = {
        r["url_hash"]: r
        for r in ctx.catalog.read(ctx.spark, "crawled_weixin", schema.CRAWLED).collect()
    }
    assert set(cr.keys()) == set(oracle.crawled.keys())
    for h, want in oracle.crawled.items():
        got = cr[h]
        assert dict(got["extracted"]) == want["extracted"], want["url"]
        assert got["drill_relation"] == want["drill_relation"], want["url"]
        got_kids = [
            {"category": k["category"], "relate": k["relate"], "fields": dict(k["fields"])}
            for k in (got["extracted_children"] or [])
        ]
        assert got_kids == want["children"], want["url"]
