"""Transform-on-pop re-canonicalization when a rule's id_parameter changes
between rounds (checkURL's transformLink,
/root/reference/scheduler/index.js:349-354): frontier entries written under
the OLD canonical scheme are re-canonicalized under the current rule before
admission; the reference then consults url_info under the NEW hash —
unknown transformed forms are consumed unscheduled, collapsing duplicates
merge to one schedule.
"""

import hashlib
import json
import tempfile

import pytest
from pyspark.sql import functions as F

from neocrawler_spark import schema
from neocrawler_spark.functions import canon
from neocrawler_spark.plans.round import CrawlContext, run_round
from neocrawler_spark.rules import load_rules
from neocrawler_spark.sources.tables import Catalog

HOST = "www.rc.test"
KEY = "driller:rc.test:detail"
BUCKETS = 4


def _rule(id_parameter):
    return {
        "domain": "rc.test", "alias": "detail",
        "url_pattern": r"weixin_[0-9]+\.html",
        "type": "node", "format": "html",
        "priority": 1, "weight": 10, "schedule_interval": 86400,
        "active": True, "seed": [], "schedule_rule": "FIFO",
        "id_parameter": id_parameter,
        "drill_rules": [],
        "extract_rule": {"rule": {}},
    }


def _bucket(h):
    return int(h[:3], 16) % BUCKETS


def _frontier_row(url, seq):
    h = canon.md5_hex(url)
    return (h, url, KEY, HOST, seq, 0, _bucket(h))


def _state_row(url):
    h = canon.md5_hex(url)
    return (h, url, KEY, "", "hit", [], 0, 0, None, None, _bucket(h))


def _page(url):
    html = ("<html><body>" + "x" * 600 + "</body></html>").encode()
    return (url, None, html, "t", "en")


@pytest.fixture(scope="module")
def outcome(spark):
    cat = Catalog(tempfile.mkdtemp(prefix="ncs_rc_"))
    c5 = f"http://{HOST}/weixin_5.html?id=5"
    c6 = f"http://{HOST}/weixin_6.html?id=6"
    c7 = f"http://{HOST}/weixin_7.html?id=7"
    # frontier written under the OLD scheme id_parameter=["id","x"]
    frontier_rows = [
        _frontier_row(c5 + "&x=1", 10),   # transformed form known -> fetched
        _frontier_row(c6 + "&x=2", 11),   # transformed form unknown -> dropped
        _frontier_row(c7 + "&x=1", 12),   # both collapse to c7 ...
        _frontier_row(c7 + "&x=2", 13),   # ... one schedule (merge)
    ]
    # url_state knows the NEW canonical forms of c5/c7 only
    state_rows = [_state_row(c5), _state_row(c7)]
    cat.commit("frontier", spark.createDataFrame(frontier_rows, schema.FRONTIER))
    # url_state is always bucket-partitioned in production (the round's
    # overwrite-partitions merge replaces pbucket=N file sets) — seed it the
    # same way or the merge cannot replace the seeded files
    us = spark.createDataFrame(state_rows, schema.URL_STATE)
    cat.commit("url_state", us.withColumn("pbucket", F.col("bucket")),
               partition_by=["pbucket"])
    pages = spark.createDataFrame([_page(c5), _page(c6), _page(c7)], schema.PAGES)

    rules = load_rules([_rule(["id"])])
    ctx = CrawlContext(spark, cat, rules, pages, None,
                       settings={"buckets": BUCKETS})
    old_sig = hashlib.md5(json.dumps(["id", "x"]).encode()).hexdigest()
    state = {"round": 3, "first_schedule": {}, "consumed": {},
             "rules_sigs": [hashlib.md5(KEY.encode()).hexdigest()],
             "id_sigs": {KEY: old_sig}}
    run_round(ctx, state)
    return spark, cat, (c5, c6, c7)


def test_recanonicalized_forms_fetched_once(outcome):
    spark, cat, (c5, c6, c7) = outcome
    flog = cat.read(spark, "fetch_log", schema.FETCH_LOG)
    fetched = sorted(
        r["url"] for r in flog.where("status = 'fetched'").collect()
    )
    # c5: transformed + known -> fetched under the NEW canonical url;
    # c7: two old entries collapse -> exactly one fetch; c6: unknown -> none
    assert fetched == [c5, c7]


def test_unknown_transformed_form_consumed_unscheduled(outcome):
    spark, cat, (c5, c6, c7) = outcome
    # all four entries were popped; the frontier rewrite drops them
    frontier = cat.read(spark, "frontier", schema.FRONTIER)
    assert frontier.count() == 0
    # c6's transformed hash never entered url_state (reference: 'not exists
    # in urlinfo' -> callback(false) creates nothing)
    us = cat.read(spark, "url_state", schema.URL_STATE)
    assert us.where(F.col("url_hash") == canon.md5_hex(c6)).count() == 0


def test_seen_set_consistent_after_transform(outcome):
    spark, cat, (c5, c6, c7) = outcome
    us = {r["url"]: r["status"]
          for r in cat.read(spark, "url_state", schema.URL_STATE).collect()}
    assert us[c5] == "crawled_finish"
    assert us[c7] == "crawled_finish"
    # no state rows under the OLD (pre-transform) hashes appeared
    assert len(us) == 2


def test_unchanged_id_parameter_skips_repair(spark):
    """Same catalog shape but id_sigs matching the live rule: the old-form
    entries are NOT transformed; their hashes are unknown to url_state so
    nothing schedules — and the repair pUDF path never runs."""
    cat = Catalog(tempfile.mkdtemp(prefix="ncs_rc2_"))
    c5 = f"http://{HOST}/weixin_5.html?id=5"
    cat.commit("frontier", spark.createDataFrame(
        [_frontier_row(c5 + "&x=1", 10)], schema.FRONTIER))
    us = spark.createDataFrame([_state_row(c5)], schema.URL_STATE)
    cat.commit("url_state", us.withColumn("pbucket", F.col("bucket")),
               partition_by=["pbucket"])
    pages = spark.createDataFrame([_page(c5)], schema.PAGES)
    rules = load_rules([_rule(["id"])])
    ctx = CrawlContext(spark, cat, rules, pages, None,
                       settings={"buckets": BUCKETS})
    cur_sig = hashlib.md5(json.dumps(["id"]).encode()).hexdigest()
    state = {"round": 3, "first_schedule": {}, "consumed": {},
             "rules_sigs": [hashlib.md5(KEY.encode()).hexdigest()],
             "id_sigs": {KEY: cur_sig}}
    run_round(ctx, state)
    flog = cat.read(spark, "fetch_log", schema.FETCH_LOG)
    assert flog.where("status = 'fetched'").count() == 0
