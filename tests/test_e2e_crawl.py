"""End-to-end multi-round crawl over the deterministic synthetic site graph
(SURVEY.md §5 strategy b/c): asserts frontier/seen-set growth, byte-identical
extracted text vs the generator goldens, quota/politeness behavior,
rerun determinism, crash-resume determinism, and that a replayed round
compiles no new code."""

import json
import shutil

import pytest
from pyspark.sql import functions as F

from neocrawler_spark import schema, synth
from neocrawler_spark.operators import bloom
from neocrawler_spark.plans.round import CrawlContext, load_state, run_round
from neocrawler_spark.rules import load_rules
from neocrawler_spark.sources.tables import Catalog
from neocrawler_spark.streaming.driver import run_rounds

PARAMS = synth.site_params(n_domains=2, cats=2, lists_per_cat=2, details_per_list=3,
                           hot_details_per_list=6)


def make_ctx(spark, tmp_path, sub="wh", limit=500):
    cat = Catalog(tmp_path / sub)
    rules = load_rules(synth.gen_rules(PARAMS))
    pages = synth.gen_pages_df(spark, PARAMS).cache()
    robots = synth.gen_robots_df(spark, PARAMS)
    return CrawlContext(
        spark, cat, rules, pages, robots,
        settings={"schedule_quantity_limitation": limit, "buckets": 8},
    )


@pytest.fixture(scope="module")
def crawled_ctx(spark, tmp_path_factory):
    """Run 4 rounds once; several tests assert over the result."""
    tmp = tmp_path_factory.mktemp("e2e")
    ctx = make_ctx(spark, tmp)
    metrics = run_rounds(ctx, 4)
    return ctx, metrics


def table(ctx, name, sch):
    return ctx.catalog.read(ctx.spark, name, sch)


def test_corpus_shape(spark):
    pages = synth.gen_pages_df(spark, PARAMS)
    n = pages.count()
    # 2 homes + 4 cats + 8 lists + (6*4 hot + 3*4) details
    assert n == 2 + 4 + 8 + 24 + 12
    assert pages.schema == schema.PAGES
    assert pages.where(F.length("html") < 500).count() == 0


def test_crawl_progresses(crawled_ctx):
    ctx, metrics = crawled_ctx
    assert metrics[0]["fetched"] >= 2  # round 1: the two home seeds (+ macro seeds)
    total_fetched = sum(m["fetched"] for m in metrics)
    assert total_fetched > 10
    phases = {"admit", "gate", "fetch_extract", "discover", "merge", "commit"}
    for m in metrics:
        assert set(m["phase_s"]) == phases
        assert all(v >= 0 for v in m["phase_s"].values())
        assert sum(m["phase_s"].values()) <= m["wall_s"]
    crawled = table(ctx, "crawled_weixin", schema.CRAWLED)  # $category routing
    assert crawled.count() > 0


def test_extracted_text_byte_identical(crawled_ctx):
    """THE invariant (BASELINE.json input_hint): extracted body text ==
    generator golden `pages.text`, byte for byte, per url."""
    ctx, _ = crawled_ctx
    crawled = table(ctx, "crawled_weixin", schema.CRAWLED)
    joined = (
        crawled.where(F.col("rule_key").endswith(":detail"))
        .select("url", F.col("extracted")["body"].alias("got"))
        .join(ctx.pages.select("url", F.col("text").alias("want")), "url", "inner")
    )
    n = joined.count()
    assert n > 0
    mism = joined.where(
        (F.col("got").isNull()) | (F.encode("got", "utf-8") != F.encode("want", "utf-8"))
    )
    assert mism.count() == 0, mism.limit(5).collect()


def test_extracted_fields(crawled_ctx):
    ctx, _ = crawled_ctx
    crawled = table(ctx, "crawled_weixin", schema.CRAWLED).where(
        F.col("rule_key").endswith(":detail")
    )
    row = crawled.orderBy("url").first()
    ext = row["extracted"]
    i = ext["page_id"]
    assert ext["weixin_no"] == f"wx_{i}"
    assert ext["account"] == f"account_{i}"
    assert ext["avatar"] == f"/img/{i}.jpg"
    assert ext["origin"] == "synthetic"
    assert ext["$category"] == "weixin"
    rel = json.loads(ext["related"])
    assert len(rel) == 3 and rel[0]["relate"] == f"account_{i}"
    kids = row["extracted_children"]
    assert len(kids) == 3 and kids[0]["category"] == "related"
    # canonical url (id_parameter applied at discovery): no tracking param
    assert "&from=rss" not in row["url"]
    # drill_relation lineage for node pages exists when keep_link_relation
    assert row["drill_relation"] is None or "->" in row["drill_relation"] or row["drill_relation"] == "*"


def test_url_state_invariants(crawled_ctx):
    ctx, _ = crawled_ctx
    us = table(ctx, "url_state", schema.URL_STATE)
    assert us.count() == us.select("url_hash").distinct().count()
    assert us.where(F.size("records") > 3).count() == 0
    assert us.where(F.col("url_hash") != F.md5("url")).count() == 0
    statuses = {r["status"] for r in us.select("status").distinct().collect()}
    assert statuses <= {"hit", "schedule", "crawling", "crawled_finish", "crawled_failure"}
    # a finished URL's last record push is crawled_finish
    fin = us.where(F.col("status") == "crawled_finish")
    assert fin.count() > 0
    assert fin.where(F.try_element_at("records", F.lit(-1)) != "crawled_finish").count() == 0


def test_robots_disallow_never_fetched(crawled_ctx):
    """Host www1.site1.test disallows /fenlei_1 (synth robots)."""
    ctx, _ = crawled_ctx
    flog = table(ctx, "fetch_log", schema.FETCH_LOG)
    bad = flog.where(
        (F.col("status") == "fetched")
        & F.col("url").startswith("http://www1.site1.test/fenlei_1")
    )
    assert bad.count() == 0
    denied = flog.where(F.col("status") == "robots_denied")
    assert denied.count() >= 0  # denial rows appear once that link is discovered


def test_bloom_covers_url_state(crawled_ctx):
    """Every url_state hash must probe positive (no false negatives ever),
    and each bucket's shard is the filter of exactly that bucket's keys:
    one shard per bucket, n_items = the bucket's rows, m sized from it."""
    ctx, _ = crawled_ctx
    us = table(ctx, "url_state", schema.URL_STATE)
    shards = table(ctx, "bloom", bloom.BLOOM_SCHEMA)
    probed = bloom.probe(us.select("url_hash", "bucket"), shards)
    assert probed.where(~F.col("maybe_seen")).count() == 0

    rows = {r["bucket"]: r["count"] for r in us.groupBy("bucket").count().collect()}
    meta = shards.select("bucket", "m", "n_items").collect()
    assert sorted(r["bucket"] for r in meta) == sorted(rows)
    for r in meta:
        assert r["n_items"] == rows[r["bucket"]]
        assert r["m"] == bloom.shard_size_bits(r["n_items"])


def test_rerun_determinism(spark, tmp_path):
    """Same seeds + budget twice → identical url_state, crawled, frontier."""
    ctx1 = make_ctx(spark, tmp_path, "a")
    ctx2 = make_ctx(spark, tmp_path, "b")
    run_rounds(ctx1, 3)
    run_rounds(ctx2, 3)

    def fingerprint(ctx, name, sch, cols):
        df = table(ctx, name, sch).select(*cols)
        return sorted(map(str, df.collect()))

    for name, sch, cols in [
        ("url_state", schema.URL_STATE,
         ["url_hash", "url", "status", "records", "last", "version"]),
        ("crawled_weixin", schema.CRAWLED, ["url_hash", "url", "extracted", "round"]),
        ("frontier", schema.FRONTIER, ["url_hash", "rule_key", "seq"]),
    ]:
        assert fingerprint(ctx1, name, sch, cols) == fingerprint(ctx2, name, sch, cols), name


def test_resume_determinism(spark, tmp_path):
    """Kill after round 2, resume for 2 more == uninterrupted 4 rounds
    (SURVEY.md §5c)."""
    a = make_ctx(spark, tmp_path, "full")
    run_rounds(a, 4)
    b = make_ctx(spark, tmp_path, "resumed")
    run_rounds(b, 2)
    b2 = make_ctx(spark, tmp_path, "resumed")  # fresh context, same catalog
    assert load_state(b2.catalog)["round"] == 2
    run_rounds(b2, 2)

    for name, sch in [("url_state", schema.URL_STATE), ("crawled_weixin", schema.CRAWLED)]:
        fa = sorted(map(str, table(a, name, sch).collect()))
        fb = sorted(map(str, table(b2, name, sch).collect()))
        assert fa == fb, name


def test_quota_limit_respected(spark, tmp_path):
    """schedule_quantity_limitation bounds per-round admission
    (scheduler/index.js:130-131)."""
    ctx = make_ctx(spark, tmp_path, "q", limit=5)
    m = run_rounds(ctx, 2)
    # round 2's newly scheduled from frontier ≤ balance (5) + seeds
    assert m[1]["fetched"] <= 5 + 4  # 4 = home seeds + macro seeds upper bound


def test_round_replay_compiles_nothing(spark, tmp_path):
    """A round replayed on the same session reuses every class its first run
    generated: Spark's codegen cache holds a whole round's working set."""
    ctx = make_ctx(spark, tmp_path, "wh")
    run_rounds(ctx, 3)
    shutil.copytree(ctx.catalog.root, tmp_path / "after3")
    first = run_rounds(ctx, 1)
    shutil.rmtree(ctx.catalog.root)
    shutil.copytree(tmp_path / "after3", ctx.catalog.root)
    replay_ctx = make_ctx(spark, tmp_path, "wh")
    assert load_state(replay_ctx.catalog)["round"] == 3

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    before = compiles.getCount()
    replay = run_rounds(replay_ctx, 1)
    assert compiles.getCount() - before == 0
    assert replay[0]["round"] == first[0]["round"] == 4
    assert replay[0]["fetched"] == first[0]["fetched"] > 0
