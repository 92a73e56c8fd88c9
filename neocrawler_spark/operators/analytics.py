"""Crawl-engine operators re-expressed over the driver's TPC-H-ish testdata
(FIXTURES.md §7), each paired with an ANSI-SQL oracle for the DuckDB
correctness gate. Every query here is one operator from SURVEY.md §2 mapped
onto the `events/orders/lineitem/customer/documents` tables so the gate can
exercise the operator's exact semantics (the crawl tables themselves live in
the engine's own catalog, covered by tests/test_e2e_crawl.py).

Spark-first notes per query are inline: what shuffles, what broadcasts, what
the plan must look like at 100TB.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..functions import canon
from .scheduler import consume_quota, per_host_budget, quota_cts, ring3, scheduler_admit

ROUND_TS_MS = 1767312000000  # fixed round clock (determinism; never now())


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# 1. seen-set probe: left anti join (pipeline.js:119-125 dedup probe), a
# standalone operator: the round probes its seen set with the Bloom shards
# plus a left join on url_state (operators/bloom.py, plans/round.discover),
# covered by tests/test_oracle_parity.py::test_url_seen_set and
# tests/test_e2e_crawl.py::test_bloom_covers_url_state.
# Scale: the anti join shuffles on the key; with both sides bucketed on the
# key it is storage-partitioned.
# The seen set is a strict subset of the probed ids (c_custkey % 3 != 0) so
# the anti join returns a NON-EMPTY unseen slice at every SF — a 0=0 gate row
# verifies schema only, never semantics (r3 VERDICT #4).
def q_seen_probe_anti_join(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    seen = (
        load(spark, sf_dir, "customer")
        .where("c_custkey % 3 != 0")
        .select(F.col("c_custkey").alias("user_id"))
    )
    return (
        events.join(seen, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )


SQL_SEEN_PROBE = """
SELECT user_id, count(*) AS n_events
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id AND c.c_custkey % 3 != 0)
GROUP BY user_id
"""


# --------------------------------------------------------------------------
# 2. first-seen-wins dedup (queue-helper uniq_dict, tools/queue-helper.js:164-236)
def q_dedup_first_seen(spark, sf_dir):
    events = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        events.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("user_id", "event_id", "event_type")
    )


SQL_DEDUP_FIRST_SEEN = """
SELECT user_id, event_id, event_type
FROM (SELECT user_id, event_id, event_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
      FROM events)
WHERE rn = 1
"""


# --------------------------------------------------------------------------
# 3. FIFO quota pops (lpop, scheduler/index.js:219-247), run by the round's
# own kernel scheduler.consume_quota: each order is a rule whose quota is 3,
# every line is admitted, and seq encodes (l_shipdate, l_linenumber) —
# l_linenumber < 8 — so the first 3 pops per order are its top 3 lines.
def q_fifo_topk_per_group(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber",
        F.col("l_orderkey").cast("string").alias("rule_key"),
        (F.datediff("l_shipdate", F.lit("1990-01-01")) * 8 + F.col("l_linenumber"))
        .cast("long").alias("seq"),
        F.lit(True).alias("admit"),
    )
    cts = li.select("rule_key").distinct().withColumn("ct", F.lit(3))
    return (
        consume_quota(li, cts, set())
        .where("sched")
        .select("l_orderkey", "l_linenumber", F.col("sched_rank").alias("pop_rank"))
    )


SQL_FIFO_TOPK = """
SELECT l_orderkey, l_linenumber, pop_rank
FROM (SELECT l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate, l_linenumber) AS pop_rank
      FROM lineitem)
WHERE pop_rank <= 3
"""


# 4. LIFO top-k per group (rpop), a standalone window top-k: through
# consume_quota its pop order needs every order key as a LIFO rule literal,
# which makes the plan far slower than the window. The round's LIFO branch is
# covered by tests/test_scheduler_ops.py::test_consume_quota_lifo.
def q_lifo_topk_per_group(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy(
        F.desc("l_shipdate"), F.desc("l_linenumber")
    )
    return (
        li.withColumn("pop_rank", F.row_number().over(w))
        .where("pop_rank <= 2")
        .select("l_orderkey", "l_linenumber", "pop_rank")
    )


SQL_LIFO_TOPK = """
SELECT l_orderkey, l_linenumber, pop_rank
FROM (SELECT l_orderkey, l_linenumber,
             row_number() OVER (PARTITION BY l_orderkey ORDER BY l_shipdate DESC, l_linenumber DESC) AS pop_rank
      FROM lineitem)
WHERE pop_rank <= 2
"""


# --------------------------------------------------------------------------
# 5. weighted-fair quota with sequential leftover carry
# (scheduler/index.js:210, 250-254), run by the crawl round's own kernel
# scheduler.quota_cts: the inherently-sequential carry
# left_i = max(0, left_{i-1} + ceil_i - avail_i) is a window via the drawdown
# identity  x_i = prefix_i - min_{0<=j<=i} prefix_j  — fully distributed, no
# driver loop, deterministic. Order priorities stand in for rules, ranked by
# rate desc (ties by priority name).
_PRIORITY_RATE = """CASE substr(o_orderpriority, 1, 1)
    WHEN '1' THEN 110.0 WHEN '2' THEN 55.0 WHEN '3' THEN 36.0
    WHEN '4' THEN 27.0 ELSE 22.0 END"""
_QUOTA_BALANCE = 1000


def q_weighted_fair_quota(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    g = (
        orders.groupBy("o_orderpriority")
        .agg(F.count("*").alias("avail"))
        .withColumn("rate", F.expr(_PRIORITY_RATE))
    )
    total = g.agg(F.sum("rate")).collect()[0][0]  # tiny (5 rows): scalar on driver
    key = F.col("o_orderpriority").alias("rule_key")
    rules = g.select(key, "rate", F.row_number().over(
        Window.orderBy(F.desc("rate"), "o_orderpriority")).alias("rule_rank"))
    cts = quota_cts(g.select(key, F.col("avail").alias("available")), rules,
                    _QUOTA_BALANCE / total)
    return g.join(cts.withColumnRenamed("rule_key", "o_orderpriority"), "o_orderpriority").select(
        "o_orderpriority", "avail", "ct",
        F.least("avail", "ct").cast("long").alias("scheduled"),
    )


def sql_weighted_fair_quota() -> str:
    return f"""
WITH g AS (
  SELECT o_orderpriority, count(*) AS avail, {_PRIORITY_RATE} AS rate
  FROM orders GROUP BY o_orderpriority
), t AS (SELECT sum(rate) AS total FROM g),
c AS (
  SELECT o_orderpriority, avail, rate,
         ceil({_QUOTA_BALANCE} / t.total * rate) AS ceil_ct
  FROM g, t
), p1 AS (
  SELECT *,
         sum(ceil_ct - avail) OVER (ORDER BY rate DESC, o_orderpriority
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
  FROM c
), p AS (
  SELECT *,
         lag(prefix) OVER (ORDER BY rate DESC, o_orderpriority) AS prev_prefix,
         min(least(0, prefix)) OVER (ORDER BY rate DESC, o_orderpriority
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_prefix
  FROM p1
)
SELECT o_orderpriority, avail,
       CAST(ceil_ct + coalesce(prev_prefix - least(0, min_prefix), 0) AS BIGINT) AS ct,
       CAST(least(avail, ceil_ct + coalesce(prev_prefix - least(0, min_prefix), 0)) AS BIGINT) AS scheduled
FROM p
"""


# --------------------------------------------------------------------------
# 6. recrawl-window predicate (scheduler/index.js:373-394) — the round's own
# scheduler.scheduler_admit CASE WHEN expression evaluated over an event log
# standing in for url_state (ts is never null, so its coalesce(last, 0) is
# inert here).
_STATUS_MAP = """CASE event_type WHEN 'click' THEN 'crawling' WHEN 'view' THEN 'schedule'
 WHEN 'purchase' THEN 'crawled_finish' WHEN 'error' THEN 'crawled_failure' ELSE 'hit' END"""


def q_recrawl_window_filter(spark, sf_dir):
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("status", F.expr(_STATUS_MAP))
        .withColumn("last", F.unix_millis(F.col("ts").cast("timestamp")))  # NTZ→LTZ; session TZ pinned UTC
        .withColumn("interval_s", (F.col("user_id") % 3 + 1) * 3600)
    )
    admit = scheduler_admit(ROUND_TS_MS, F.col("interval_s"))
    return ev.where(admit).groupBy("status").agg(F.count("*").alias("admitted"))


SQL_RECRAWL_WINDOW = f"""
WITH s AS (
  SELECT {_STATUS_MAP} AS status,
         epoch_ms(ts) AS last,
         (user_id % 3 + 1) * 3600 * 1000 AS interval_ms
  FROM events
), r AS (
  SELECT status,
         CASE WHEN status IN ('crawling','schedule') THEN 3600*1000 ELSE interval_ms END AS real_interval,
         last
  FROM s
)
SELECT status, count(*) AS admitted
FROM r
WHERE status IN ('crawled_failure','hit') OR ({ROUND_TS_MS} - last) >= real_interval
GROUP BY status
"""


# --------------------------------------------------------------------------
# 7. records ring buffer — keep last 3 states (scheduler/index.js:434), by
# the round's own scheduler.ring3.
def q_ring_buffer_last3(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(ts, event_id, event_type))),"
            " x -> x.event_type)"
        ).alias("all_states")
    )
    return agg.select("user_id", F.array_join(ring3(F.col("all_states")), ",").alias("records"))


SQL_RING_BUFFER = """
SELECT user_id,
       array_to_string(list(event_type ORDER BY ts, event_id)[-3:], ',') AS records
FROM events GROUP BY user_id
"""


# --------------------------------------------------------------------------
# 8. seed pagination macro expansion (scheduler/index.js:167-178):
# prefix#suffix#min#max#step → prefix{x}suffix, by the round's own
# canon.expand_seed in an Arrow pUDF.
def _expand_udf():
    @pandas_udf(ArrayType(StringType()))
    def _expand(seeds: pd.Series) -> pd.Series:
        return pd.Series([canon.expand_seed(s) for s in seeds])

    return _expand


def q_seed_macro_expand(spark, sf_dir):
    part = load(spark, sf_dir, "part").where("p_partkey < 20")
    macro = F.concat(F.lit("http://h.test/p_#.html#1#"), F.col("p_size"), F.lit("#2"))
    return part.select("p_partkey", F.explode(_expand_udf()(macro)).alias("seed_url"))


SQL_SEED_MACRO = """
SELECT p_partkey, 'http://h.test/p_' || x || '.html' AS seed_url
FROM part, LATERAL unnest(generate_series(1, p_size, 2)) AS t(x)
WHERE p_partkey < 20
"""


# --------------------------------------------------------------------------
# 9. URL identity: md5 hex + hash bucket (scheduler/index.js:344 + the
# round's canon.with_url_identity — both sides share md5, so parity is exact).
def q_url_hash_bucket(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", F.concat(F.lit("http://c.test/u/"), F.col("c_custkey")).alias("url")
    )
    return canon.with_url_identity(c, buckets=64).select("c_custkey", "url_hash", "bucket")


SQL_URL_HASH = """
SELECT c_custkey,
       md5('http://c.test/u/' || c_custkey) AS url_hash,
       ('0x' || substr(md5('http://c.test/u/' || c_custkey), 1, 3))::BIGINT % 64 AS bucket
FROM customer
"""


# --------------------------------------------------------------------------
# 10. daily counters rollup (spider_extend.js:97-169 + monitor.js cross-domain
# total) — grouping-sets aggregate, partial+final hash agg (map-side combine).
# A standalone operator: the round counts its metrics from fetch_log parquet
# footers (plans/round.commit), covered by
# tests/test_maintenance.py::test_daily_counters_rollup.
def q_metrics_rollup(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("date", F.date_format("ts", "yyyyMMdd"))
        .rollup("date", "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("date", F.lit("total")).alias("date"),
            F.coalesce("event_type", F.lit("total")).alias("metric"),
            "n",
        )
    )


SQL_METRICS_ROLLUP = """
SELECT coalesce(strftime(ts, '%Y%m%d'), 'total') AS date,
       coalesce(event_type, 'total') AS metric,
       count(*) AS n
FROM events
GROUP BY ROLLUP (strftime(ts, '%Y%m%d'), event_type)
"""


# --------------------------------------------------------------------------
# 11. per-host politeness budget: variable-k top-k per group (north_rule),
# by the round's own salted two-phase scheduler.per_host_budget (salted on
# url_hash, here the order key).
def q_politeness_budget_topk(spark, sf_dir):
    o = (
        load(spark, sf_dir, "orders")
        .withColumn("host", F.col("o_custkey") % 50)
        .withColumn("budget", F.col("host") % 3 + 1)
        .withColumn("url_hash", F.col("o_orderkey").cast("string"))
    )
    return (
        per_host_budget(o, ["o_orderdate", "o_orderkey"], budget_col="budget")
        .where("in_budget")
        .select("host", "o_orderkey", "host_rank")
    )


SQL_POLITENESS_TOPK = """
SELECT host, o_orderkey, host_rank
FROM (SELECT o_custkey % 50 AS host, o_orderkey,
             (o_custkey % 50) % 3 + 1 AS budget,
             row_number() OVER (PARTITION BY o_custkey % 50 ORDER BY o_orderdate, o_orderkey) AS host_rank
      FROM orders)
WHERE host_rank <= budget
"""


# --------------------------------------------------------------------------
# 12. re-queue union (tools/queue-helper.js:33-162: fail/stuck back into
# frontier) — set op + dedupe.
def q_union_requeue(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    fails = ev.where("event_type = 'error'").select("user_id")
    stucks = ev.where("event_type = 'view' and value > 0.5").select("user_id")
    return fails.unionByName(stucks).distinct()


SQL_UNION_REQUEUE = """
SELECT user_id FROM events WHERE event_type = 'error'
UNION
SELECT user_id FROM events WHERE event_type = 'view' AND value > 0.5
"""


# --------------------------------------------------------------------------
# 13. drill_relation lineage chain '%s->%s' (extractor.js:151-173).
def q_drill_relation_lineage(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.concat_ws(
            "->",
            F.min_by("event_type", F.struct("ts", "event_id")),
            F.max_by("event_type", F.struct("ts", "event_id")),
        ).alias("drill_relation")
    )


SQL_DRILL_RELATION = """
WITH r AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT user_id,
       max(CASE WHEN rn_a = 1 THEN event_type END) || '->' ||
       max(CASE WHEN rn_d = 1 THEN event_type END) AS drill_relation
FROM r GROUP BY user_id
"""


# --------------------------------------------------------------------------
# 14. jsonSmartDeepParse analog (spider.js:67-84): typed re-parse of JSON
# string payloads.
def q_json_smart_parse(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"), F.count("k").alias("k_cnt"))
    )


SQL_JSON_PARSE = """
SELECT event_type,
       CAST(sum((json_extract_string(props, '$.k'))::BIGINT) AS BIGINT) AS k_sum,
       count(json_extract_string(props, '$.k')) AS k_cnt
FROM events GROUP BY event_type
"""

QUERIES = {
    "seen_probe_anti_join": (q_seen_probe_anti_join, SQL_SEEN_PROBE),
    "dedup_first_seen": (q_dedup_first_seen, SQL_DEDUP_FIRST_SEEN),
    "fifo_topk_per_group": (q_fifo_topk_per_group, SQL_FIFO_TOPK),
    "lifo_topk_per_group": (q_lifo_topk_per_group, SQL_LIFO_TOPK),
    "weighted_fair_quota": (q_weighted_fair_quota, sql_weighted_fair_quota()),
    "recrawl_window_filter": (q_recrawl_window_filter, SQL_RECRAWL_WINDOW),
    "ring_buffer_last3": (q_ring_buffer_last3, SQL_RING_BUFFER),
    "seed_macro_expand": (q_seed_macro_expand, SQL_SEED_MACRO),
    "url_hash_bucket": (q_url_hash_bucket, SQL_URL_HASH),
    "metrics_rollup": (q_metrics_rollup, SQL_METRICS_ROLLUP),
    "politeness_budget_topk": (q_politeness_budget_topk, SQL_POLITENESS_TOPK),
    "union_requeue": (q_union_requeue, SQL_UNION_REQUEUE),
    "drill_relation_lineage": (q_drill_relation_lineage, SQL_DRILL_RELATION),
    "json_smart_parse": (q_json_smart_parse, SQL_JSON_PARSE),
}
