"""Operational surface: fail re-queue (queue-helper), monitor census,
daily-counter rollup, single-URL debug golden, rules hot reload,
save_page content persistence."""

import json

import pytest
from pyspark.sql import functions as F

from neocrawler_spark import schema, synth
from neocrawler_spark.operators import maintenance as mt
from neocrawler_spark.plans.debug import test_url as debug_url
from neocrawler_spark.plans.round import CrawlContext
from neocrawler_spark.rules import load_rules
from neocrawler_spark.sources.tables import Catalog
from neocrawler_spark.streaming.driver import run_rounds

PARAMS = synth.site_params(n_domains=2, cats=1, lists_per_cat=1,
                           details_per_list=2, hot_details_per_list=2)


@pytest.fixture(scope="module")
def ctx(spark, tmp_path_factory):
    rules = load_rules(synth.gen_rules(PARAMS))
    # break one detail page: point one link at a url missing from the corpus
    pages = synth.gen_pages_df(spark, PARAMS).cache()
    c = CrawlContext(
        spark, Catalog(tmp_path_factory.mktemp("mt") / "wh"), rules,
        pages, synth.gen_robots_df(spark, PARAMS),
        settings={"buckets": 4, "bloom_keys_per_bucket": 200},
    )
    run_rounds(c, 3)
    return c


def test_monitor_summary(ctx):
    s = mt.monitor_summary(ctx.spark, ctx.catalog)
    assert s["url_info_size"] > 0
    assert s["frontier_total"] == sum(s["frontier_per_rule"].values())


def test_daily_counters_rollup(ctx):
    df = mt.daily_counters(ctx.spark, ctx.catalog)
    rows = df.collect()
    per_domain = [r for r in rows if r["domain"] != "total"]
    totals = {(r["date"], r["metric"]): r["value"] for r in rows if r["domain"] == "total"}
    agg = {}
    for r in per_domain:
        agg[(r["date"], r["metric"])] = agg.get((r["date"], r["metric"]), 0) + r["value"]
    assert agg == totals


def test_requeue_failures_and_current_failures(ctx):
    flog = ctx.catalog.read(ctx.spark, "fetch_log", schema.FETCH_LOG)
    fails_now = mt.current_failures(flog).count()
    n = mt.requeue_failures(ctx.spark, ctx.catalog, buckets=4)
    assert n == fails_now  # none were already queued
    if n:
        fr = ctx.catalog.read(ctx.spark, "frontier", schema.FRONTIER)
        us = ctx.catalog.read(ctx.spark, "url_state", schema.URL_STATE)
        rq = fr.join(us, "url_hash").where(F.col("status") == "hit")
        assert rq.count() >= n


def test_save_page_content_persisted(ctx):
    """Detail rules set save_page → crawled.content carries the raw bytes."""
    crawled = ctx.catalog.read(ctx.spark, "crawled_weixin", schema.CRAWLED)
    detail = crawled.where(F.col("rule_key").endswith(":detail"))
    assert detail.where(F.col("content").isNull()).count() == 0
    row = detail.first()
    got = bytes(row["content"]).decode("utf-8")
    want = ctx.pages.where(F.col("url") == row["url"]).first()
    assert got == bytes(want["html"]).decode("utf-8")


def test_debug_single_url(ctx, tmp_path):
    url_row = ctx.pages.where(F.col("url").contains("weixin_")).select("url").first()
    url = url_row["url"]
    doc = debug_url(ctx, url, out_dir=tmp_path)
    assert doc["valid"]
    assert doc["extracted_data"]["body"] == ctx.pages.where(F.col("url") == url).first()["text"]
    assert doc["lacks"] == []
    dumped = json.loads((tmp_path / "debug-result.json").read_text())
    assert dumped["extracted_data"] == doc["extracted_data"]
    assert debug_url(ctx, "http://nope.example/x")["error"] == "no rule matches"


def test_debug_binary_rule_uses_binary_limit(spark, tmp_path):
    """A binary rule validates at 20 characters, not 500: a 100-byte page
    that the round fetches is valid in the debug document too."""
    url = "http://www.bin.test/weixin_1.html"
    rule = {
        "domain": "bin.test", "alias": "page",
        "url_pattern": r"weixin_[0-9]+\.html",
        "type": "node", "format": "binary",
        "priority": 1, "weight": 10, "schedule_interval": 86400,
        "active": True, "seed": [url], "schedule_rule": "FIFO",
        "drill_rules": [], "extract_rule": {},
    }
    pages = spark.createDataFrame([(url, None, b"b" * 100, "t", "en")], schema.PAGES)
    c = CrawlContext(spark, Catalog(tmp_path / "wh"), load_rules([rule]), pages, None,
                     settings={"buckets": 4, "bloom_keys_per_bucket": 100})
    run_rounds(c, 1)
    flog = c.catalog.read(spark, "fetch_log", schema.FETCH_LOG)
    assert [r["status"] for r in flog.collect()] == ["fetched"]
    assert debug_url(c, url)["valid"]


def test_rules_hot_reload(tmp_path):
    rules = synth.gen_rules(PARAMS)
    p = tmp_path / "rules.json"
    p.write_text(json.dumps(rules))
    loaded, mtime = mt.load_rules_if_changed(p, 0.0)
    assert loaded is not None and len(loaded) > 0
    again, mtime2 = mt.load_rules_if_changed(p, mtime)
    assert again is None and mtime2 == mtime  # version unchanged → no reload
    rules[0]["weight"] = 99
    p.write_text(json.dumps(rules))
    import os
    os.utime(p, (mtime + 10, mtime + 10))
    re_loaded, mtime3 = mt.load_rules_if_changed(p, mtime)
    assert re_loaded is not None and mtime3 != mtime
    assert any(r["weight"] == 99 for r in re_loaded)


def test_current_failures_latest_outcome_only(spark):
    """fail set = urls whose latest fetched/failed event is 'failed'; a later
    fetch clears it (zrem analog), and robots denials do not count."""
    rows = [
        # u1: failed then fetched -> cleared
        (1, 10, "u1", "http://a/1", "a", "failed", "missing", 0),
        (2, 20, "u1", "http://a/1", "a", "fetched", None, 0),
        # u2: fetched then failed -> a failure
        (1, 11, "u2", "http://a/2", "a", "fetched", None, 0),
        (2, 21, "u2", "http://a/2", "a", "failed", "missing", 0),
        # u3: fetched then robots-denied -> latest outcome is still the fetch
        (1, 12, "u3", "http://a/3", "a", "fetched", None, 0),
        (3, 30, "u3", "http://a/3", "a", "robots_denied", "robots", 0),
    ]
    flog = spark.createDataFrame(rows, schema.FETCH_LOG)
    fails = [r["url_hash"] for r in mt.current_failures(flog).collect()]
    assert fails == ["u2"]


def test_requeue_data_lack_refetches(spark, tmp_path):
    """Seed a page whose extraction lacks a required field (data_lack,
    extractor.js:281-291); requeue_failures(include_lack=True) puts it back
    in the frontier and the next round re-fetches it (queue-helper.js:99-162
    incomplete:data:url re-queue)."""
    url = "http://www.lk.test/weixin_1.html"
    rule = {
        "domain": "lk.test", "alias": "page",
        "url_pattern": r"weixin_[0-9]+\.html",
        "type": "node", "format": "html",
        "priority": 1, "weight": 10, "schedule_interval": 86400,
        "active": True, "seed": [url], "schedule_rule": "FIFO",
        "drill_rules": [],
        "extract_rule": {"require": ["body"], "rule": {
            "body": {"mode": "css", "expression": "#nope", "pick": "text", "index": 1},
        }},
    }
    html = ("<html><body>" + "x" * 600 + "</body></html>").encode()
    pages = spark.createDataFrame([(url, None, html, "t", "en")], schema.PAGES)
    cat = Catalog(tmp_path / "wh")
    c = CrawlContext(spark, cat, load_rules([rule]), pages, None,
                     settings={"buckets": 4, "bloom_keys_per_bucket": 100})
    run_rounds(c, 1)
    flog = cat.read(spark, "fetch_log", schema.FETCH_LOG)
    assert [r["reason"] for r in flog.collect()] == ["data_lack"]

    # not a failure: the default requeue ignores it
    assert mt.requeue_failures(spark, cat, buckets=4) == 0
    # the data-lack requeue re-queues it
    assert mt.requeue_failures(spark, cat, buckets=4, include_lack=True) == 1
    run_rounds(c, 1)
    flog2 = cat.read(spark, "fetch_log", schema.FETCH_LOG)
    assert flog2.where("status = 'fetched'").count() == 2  # re-fetched


def test_requeue_lack_round_policy_knob(spark, tmp_path):
    """settings={"requeue_lack": True} wires the data_lack re-queue into the
    driver loop itself (r3 VERDICT #8): a page extracted with missing
    required fields is re-fetched in a later round with NO operator call."""
    url = "http://www.lk2.test/weixin_1.html"
    rule = {
        "domain": "lk2.test", "alias": "page",
        "url_pattern": r"weixin_[0-9]+\.html",
        "type": "node", "format": "html",
        "priority": 1, "weight": 10, "schedule_interval": 86400,
        "active": True, "seed": [url], "schedule_rule": "FIFO",
        "drill_rules": [],
        "extract_rule": {"require": ["body"], "rule": {
            "body": {"mode": "css", "expression": "#nope", "pick": "text", "index": 1},
        }},
    }
    html = ("<html><body>" + "x" * 600 + "</body></html>").encode()
    pages = spark.createDataFrame([(url, None, html, "t", "en")], schema.PAGES)
    cat = Catalog(tmp_path / "wh")
    c = CrawlContext(spark, cat, load_rules([rule]), pages, None,
                     settings={"buckets": 4, "bloom_keys_per_bucket": 100,
                               "requeue_lack": True})
    run_rounds(c, 2)
    flog = cat.read(spark, "fetch_log", schema.FETCH_LOG)
    rows = sorted((r["round"], r["status"], r["reason"]) for r in flog.collect())
    # round 1 fetches + flags data_lack; the knob re-queues it; round 2
    # re-fetches the same page (still lacking — the corpus is static)
    assert rows == [(1, "fetched", "data_lack"), (2, "fetched", "data_lack")]

    # knob off: round 2 never re-fetches
    cat2 = Catalog(tmp_path / "wh2")
    c2 = CrawlContext(spark, cat2, load_rules([rule]), pages, None,
                      settings={"buckets": 4, "bloom_keys_per_bucket": 100})
    run_rounds(c2, 2)
    flog2 = cat2.read(spark, "fetch_log", schema.FETCH_LOG)
    assert flog2.count() == 1
