"""spider_extend surface + round-2 feature coverage: extract/pipeline hooks
(spider/index.js:69-77, README.md:566-646), $category routing
(spider/pipeline.js:275), charset sniff (spider/downloader.js:213-233),
failure circuit breaker (spider/extractor.js:416-423), and stale-trace
re-detect on pop (scheduler/index.js:350-370)."""

import pytest
from pyspark.sql import functions as F

from neocrawler_spark import schema, synth
from neocrawler_spark.plans.debug import test_url as debug_url
from neocrawler_spark.plans.round import CircuitBreakerTripped, CrawlContext
from neocrawler_spark.rules import load_rules
from neocrawler_spark.sources.tables import Catalog
from neocrawler_spark.streaming.driver import run_rounds

PARAMS = synth.site_params(n_domains=1, cats=1, lists_per_cat=1,
                           details_per_list=2, hot_details_per_list=3)


def make_ctx(spark, tmp_path, sub, **kw):
    cat = Catalog(tmp_path / sub)
    rules = kw.pop("rules", None) or load_rules(synth.gen_rules(PARAMS))
    pages = kw.pop("pages", None)
    if pages is None:
        pages = synth.gen_pages_df(spark, PARAMS)
    return CrawlContext(
        spark, cat, rules, pages, synth.gen_robots_df(spark, PARAMS),
        settings={"schedule_quantity_limitation": 500, "buckets": 4,
                  **kw.pop("settings", {})},
        **kw,
    )


# ------------------------------------------------------------- extract hook


def test_extract_hook_rewrites_fields(spark, tmp_path):
    """The wiki instance's extract middleware rewrites extracted_info before
    the pipeline (instance/wiki/spider_extend.js:92). DataFrame analog: the
    hook rewrites the `ex` struct; the injected field must land in the sink."""

    def hook(df):
        return df.withColumn(
            "ex",
            F.col("ex").withField(
                "extracted",
                F.map_concat(
                    F.col("ex.extracted"),
                    F.create_map(F.lit("$hooked"), F.lit("yes")),
                ),
            ),
        )

    ctx = make_ctx(spark, tmp_path, "h", extract_hook=hook)
    run_rounds(ctx, 3)
    crawled = ctx.catalog.read(spark, "crawled_weixin", schema.CRAWLED)
    assert crawled.count() > 0
    assert crawled.where(F.element_at("extracted", "$hooked") != "yes").count() == 0


# ------------------------------------------------------------ pipeline hook


def test_pipeline_hook_custom_sink(spark, tmp_path):
    """README.md:566-646's custom pipeline example (MongoDB fingerprint sink):
    the hook persists its own doc_fingerprint-keyed table and suppresses the
    default content sink by returning None."""
    seen = {}

    def hook(crawled_df, catalog, round_no):
        fp = crawled_df.select(
            F.md5(F.concat_ws("|", "url", "rule_key")).alias("doc_fingerprint"),
            "url", "extracted",
        )
        catalog.commit("fingerprints", fp, mode="append", round_no=round_no)
        seen["called"] = True
        return None  # hook owns persistence

    ctx = make_ctx(spark, tmp_path, "p", pipeline_hook=hook)
    run_rounds(ctx, 3)
    assert seen.get("called")
    fp_schema = "doc_fingerprint string, url string, extracted map<string,string>"
    from pyspark.sql.types import _parse_datatype_string

    fps = ctx.catalog.read(spark, "fingerprints", _parse_datatype_string(fp_schema))
    assert fps.count() > 0
    assert fps.where(F.col("doc_fingerprint").isNull()).count() == 0
    # default sinks suppressed: both base and category tables stay empty
    assert ctx.catalog.read(spark, "crawled", schema.CRAWLED).count() == 0
    assert ctx.catalog.read(spark, "crawled_weixin", schema.CRAWLED).count() == 0


# ---------------------------------------------------------- category routing


def test_category_routing(spark, tmp_path):
    """$category-bearing rows land in crawled_{category}; base table holds
    only category-less node rows (pipeline.js:275). The second category has
    a character Spark escapes in partition directory names."""
    for i, category in enumerate(["weixin", "news:cn"]):
        raw = synth.gen_rules(PARAMS)
        next(r for r in raw if r["alias"] == "detail")["extract_rule"]["category"] = category
        ctx = make_ctx(spark, tmp_path, f"c{i}", rules=load_rules(raw))
        run_rounds(ctx, 3)
        routed = ctx.catalog.read(spark, f"crawled_{category}", schema.CRAWLED)
        base = ctx.catalog.read(spark, "crawled", schema.CRAWLED)
        assert routed.count() > 0
        assert routed.where(F.element_at("extracted", "$category") != category).count() == 0
        assert base.count() == 0  # the detail rule is the fixture's only node rule


# ------------------------------------------------------------- charset sniff


def test_charset_sniff_gbk(spark, tmp_path):
    """A GBK page whose rule declares no encoding: the meta-charset sniff must
    decode it so the extracted body text is byte-exact (downloader.js:213-233
    sniff + :272-285 iconv semantics)."""
    golden = "GBK 页面正文：中文内容测试。"
    pad = "x" * 600
    html_text = (
        '<html><head><meta charset="gbk"><title>t</title></head><body>'
        f'<div id="bodyContent">{golden}</div>{pad}</body></html>'
    )
    url = "http://www1.site0.test/weixin_777.html?id=777"
    pages = spark.createDataFrame(
        [(url, None, html_text.encode("gbk"), golden, "zh")], schema=schema.PAGES
    )
    rules = load_rules(synth.gen_rules(PARAMS))
    detail = next(r for r in rules if r["alias"] == "detail")
    detail["encoding"] = None  # force the sniff path
    detail["validation_keywords"] = []
    detail["seed"] = [url]
    rules = [detail]
    ctx = make_ctx(spark, tmp_path, "g", rules=rules, pages=pages)
    run_rounds(ctx, 1)
    crawled = ctx.catalog.read(spark, "crawled_weixin", schema.CRAWLED)
    rows = crawled.collect()
    assert len(rows) == 1
    assert rows[0]["extracted"]["body"] == golden  # byte-exact decode
    # the debug document decodes the page as the round does
    assert debug_url(ctx, url)["extracted_data"]["body"] == golden


# ------------------------------------------------------------ circuit breaker


def test_failure_circuit_breaker(spark, tmp_path):
    """failure_breaker halts the loop at the round boundary once the round's
    failed+denied count reaches the threshold; the tripped round itself stays
    committed (resume-safe halt, vs the reference's mid-flight process.exit)."""
    # corpus missing every detail page -> detail fetches fail in round 3
    pages = synth.gen_pages_df(spark, PARAMS).where(~F.col("url").contains("weixin_"))
    ctx = make_ctx(spark, tmp_path, "b", pages=pages,
                   settings={"failure_breaker": 1})
    with pytest.raises(CircuitBreakerTripped):
        run_rounds(ctx, 4)
    rec = ctx.catalog.last_completed_round()
    assert rec is not None  # the tripped round committed before halting
    m = rec["metrics"]["round_metrics"]
    assert m["failed"] + m["denied"] >= 1


# --------------------------------------------------------- stale-trace repair


def test_stale_trace_redetect_on_pop(spark, tmp_path):
    """Deactivate/rename a rule between rounds: frontier entries carrying the
    dead rule_key are re-matched against the live rules on pop instead of
    being dropped (checkURL re-detect, scheduler/index.js:350-370)."""
    cat = Catalog(tmp_path / "s")
    rules1 = load_rules(synth.gen_rules(PARAMS))
    pages = synth.gen_pages_df(spark, PARAMS)
    robots = synth.gen_robots_df(spark, PARAMS)
    common = {"schedule_quantity_limitation": 500, "buckets": 4}
    ctx1 = CrawlContext(spark, cat, rules1, pages, robots, settings=dict(common))
    # stop after ONE round: the home fetch discovered list+detail links that
    # now sit un-popped in the frontier under the about-to-die rule keys
    run_rounds(ctx1, 1)

    # rename EVERY rule (alias change => new rule_key), same patterns: all
    # frontier entries are now stale
    raw = synth.gen_rules(PARAMS)
    for r in raw:
        r["alias"] = r["alias"] + "_v2"
    rules2 = load_rules(raw)
    ctx2 = CrawlContext(spark, cat, rules2, pages, robots, settings=dict(common))
    run_rounds(ctx2, 2)

    flog = cat.read(spark, "fetch_log", schema.FETCH_LOG)
    fetched_details = flog.where(
        (F.col("status") == "fetched") & F.col("url").contains("weixin_")
        & (F.col("round") > 1)  # round 1 (old rules) fetched only the home seeds
    )
    # the stale :detail frontier entries were re-routed to :detail_v2 and fetched
    assert fetched_details.count() > 0
    crawled = cat.read(spark, "crawled_weixin", schema.CRAWLED)
    assert crawled.where(F.col("rule_key").endswith(":detail_v2")).count() > 0


# ------------------------------------------------------------ download hook


def test_download_hook_and_bundle(spark, tmp_path):
    """The download middleware replaces the corpus fetch join
    (spider/downloader.js): here it serves every batch row from a rewritten
    corpus (uppercased golden marker), set as the context's download_hook."""
    marker = "HOOKFETCH"

    def dl(batch, pages):
        rewritten = pages.select(
            "url",
            F.when(
                F.col("url").contains("weixin_"),
                # splice a marker into the body div so extraction sees it
                F.to_binary(
                    F.regexp_replace(
                        F.decode("html", "utf-8"), "bodyContent\">", f"bodyContent\">{marker} "
                    ),
                    F.lit("utf8"),
                ),
            ).otherwise(F.col("html")).alias("html"),
        )
        return batch.join(rewritten, "url", "left")

    ctx = make_ctx(spark, tmp_path, "dl", download_hook=dl)
    run_rounds(ctx, 3)
    crawled = ctx.catalog.read(spark, "crawled_weixin", schema.CRAWLED)
    assert crawled.count() > 0
    assert crawled.where(~F.col("extracted")["body"].startswith(marker)).count() == 0


# --------------------------------------------------------------- alert hook


def test_alert_hook_sees_every_round(spark, tmp_path):
    """alert_hook (lib/mail.js monitoring-callback analog) fires once per
    committed round with the driver-side metrics, including a breaker-tripped
    round."""
    calls = []
    pages = synth.gen_pages_df(spark, PARAMS).where(~F.col("url").contains("weixin_"))
    ctx = make_ctx(
        spark, tmp_path, "a", pages=pages, settings={"failure_breaker": 1},
        alert_hook=lambda rn, m: calls.append((rn, m)),
    )
    with pytest.raises(CircuitBreakerTripped):
        run_rounds(ctx, 4)
    assert len(calls) >= 1
    assert calls[-1][1]["failed"] + calls[-1][1]["denied"] >= 1  # tripped round alerted
    assert [rn for rn, _ in calls] == sorted({rn for rn, _ in calls})  # once per round, in order
