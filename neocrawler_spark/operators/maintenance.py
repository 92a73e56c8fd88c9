"""Operational tools mirroring the reference's tools/ + webconfig surface:

* requeue_failures — tools/queue-helper.js:33-162: move fail:* (and
  incomplete:data:url) report members back into their per-rule frontier
  queues.
* monitor_summary — webconfig/controllers/monitor.js:75-125: link-db census
  (per-rule frontier sizes, scheduled backlog, url_info dbsize, daily
  counters with cross-domain totals :53-73).
* rules hot reload — the version-keyed reload (scheduler/index.js:63-120,
  bumped on edit webconfig/models/drillingRule.js:140): version = file mtime.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schema
from ..rules import load_rules
from ..sources.tables import Catalog


def current_failures(fetch_log: DataFrame) -> DataFrame:
    """The live fail set = urls whose LATEST terminal outcome is 'failed'
    (crawled_finish removes a url from fail:*, spider.js:408-415 — realized
    as latest-event-wins over the append-only log)."""
    w = Window.partitionBy("url_hash").orderBy(F.desc("round"), F.desc("seq"))
    return (
        fetch_log.where(F.col("status").isin("fetched", "failed"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .where(F.col("status") == "failed")
        .drop("rn")
    )


def current_lack(fetch_log: DataFrame) -> DataFrame:
    """The live incomplete-data set = urls whose LATEST terminal outcome is a
    fetch with reason='data_lack' (the `incomplete:data:url` zset analog,
    /root/reference/spider/extractor.js:281-291: zadd on missing required
    fields, zrem on a later complete extraction — realized as latest-event-
    wins over the append-only log)."""
    w = Window.partitionBy("url_hash").orderBy(F.desc("round"), F.desc("seq"))
    return (
        fetch_log.where(F.col("status").isin("fetched", "failed"))
        .withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .where((F.col("status") == "fetched") & (F.col("reason") == "data_lack"))
        .drop("rn")
    )


def requeue_candidates(fetch_log: DataFrame, include_lack: bool = False,
                       include_fail: bool = True) -> DataFrame:
    """fail set (∪ data-lack set), one row per url_hash: both sets read a
    url's LATEST fetched/failed event, which is either 'failed' or
    'fetched', so no url is in both. include_lack mirrors queue-helper's
    incomplete:data:url re-queue (tools/queue-helper.js:99-162);
    include_fail=False selects the lack set alone (the driver loop's
    requeue_lack policy re-queues ONLY incomplete pages each round)."""
    parts = []
    if include_fail:
        parts.append(current_failures(fetch_log))
    if include_lack:
        parts.append(current_lack(fetch_log))
    if not parts:
        raise ValueError("requeue_candidates: nothing selected")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def requeue_failures(spark: SparkSession, catalog: Catalog,
                     include_lack: bool = False, include_fail: bool = True) -> int:
    """Append the live fail set (and, with include_lack, the data-lack set)
    back into the frontier (queue-helper re-queue). Returns the number of
    re-queued URLs. Resets their url_state status to 'hit' so the scheduler
    window re-admits them (the reference clears the zset and rpushes into
    urllib:*)."""
    flog = catalog.read(spark, "fetch_log", schema.FETCH_LOG)
    fails = requeue_candidates(flog, include_lack, include_fail)
    frontier = catalog.read(spark, "frontier", schema.FRONTIER)
    url_state = catalog.read(spark, "url_state", schema.URL_STATE)

    # hydrate rule_key from url_state (trace), skip urls already queued
    max_seq = frontier.agg(F.max("seq")).collect()[0][0] or 0
    add = (
        fails.join(
            url_state.select("url_hash", F.col("rule_key").alias("s_rule"), "bucket"),
            "url_hash",
        )
        .join(frontier.select("url_hash"), "url_hash", "left_anti")
        .withColumn(
            "seq", F.lit(max_seq) + F.row_number().over(Window.orderBy("url_hash"))
        )
        .select(
            "url_hash", "url", F.col("s_rule").alias("rule_key"), "host", "seq",
            F.col("ts").alias("discovered_ts"), "bucket",
        )
    )
    # consumed by the touched-bucket scan AND both commits below
    add = catalog.stage(spark, 0, "requeue_add", add)
    n = add.count()
    if n:
        # frontier is append-only here: new manifest = parent files + add's
        catalog.commit("frontier", add, mode="append")
        # reset status so the scheduler window re-admits — touched buckets
        # ONLY (r1 VERDICT #6: the old full-table rewrite inverted the
        # round path's bucket-pruned merge at large state sizes)
        touched = [r["bucket"] for r in add.select("bucket").distinct().collect()]
        st = (
            url_state.where(F.col("bucket").isin(touched))
            .join(add.select("url_hash", F.lit(True).alias("_rq")), "url_hash", "left")
            .withColumn(
                "status", F.when(F.col("_rq"), F.lit("hit")).otherwise(F.col("status"))
            )
            .drop("_rq")
        )
        catalog.commit(
            "url_state", st.withColumn("pbucket", F.col("bucket")),
            mode="overwrite-partitions", partition_by=["pbucket"],
            replaced_partitions={"pbucket": touched},
        )
        # Fold the requeue's snapshots into the last round record: resume
        # restores CURRENT pointers from that record (crash-discard), so an
        # un-recorded maintenance commit would be silently rolled back by the
        # next round's load_state.
        rec = catalog.last_completed_round()
        if rec is not None:
            snaps = dict(rec["snapshots"])
            snaps["frontier"] = catalog.current_snapshot("frontier")
            snaps["url_state"] = catalog.current_snapshot("url_state")
            catalog.commit_round(rec["round"], snaps, rec["metrics"])
    catalog.drop_stages(0)
    return n


def monitor_summary(spark: SparkSession, catalog: Catalog) -> dict:
    """Link-db census (monitor.js:75-125): per-rule queue sizes from the
    frontier manifest-backed table, scheduled backlog and url_info size from
    manifests (no job needed for totals)."""
    frontier = catalog.read(spark, "frontier", schema.FRONTIER)
    per_rule = {
        r["rule_key"]: r["n"]
        for r in frontier.groupBy("rule_key").agg(F.count("*").alias("n")).collect()
    }
    sched_man = catalog.manifest("scheduled")
    state_man = catalog.manifest("url_state")
    return {
        "frontier_per_rule": per_rule,
        "frontier_total": sum(per_rule.values()),
        "scheduled_backlog": sched_man["total_rows"] if sched_man else 0,
        "url_info_size": state_man["total_rows"] if state_man else 0,
    }


def daily_counters(spark: SparkSession, catalog: Catalog) -> DataFrame:
    """count:{yyyymmdd} {metric}:{domain} view with the monitor's cross-domain
    'total' rollup (monitor.js:59-72)."""
    m = catalog.read(spark, "metrics", schema.METRICS)
    return (
        m.rollup("date", "metric", "domain")
        .agg(F.sum("value").alias("value"))
        .where(F.col("date").isNotNull() & F.col("metric").isNotNull())
        .select(
            "date", "metric", F.coalesce("domain", F.lit("total")).alias("domain"), "value"
        )
    )


def load_rules_if_changed(path: str | Path, last_mtime: float) -> tuple[list[dict] | None, float]:
    """Version-keyed hot reload: re-parse only when the rules file changed
    (the reference polls `updated:driller:rule`, scheduler/index.js:66-68;
    our version key is the file mtime)."""
    p = Path(path)
    mtime = p.stat().st_mtime
    if mtime == last_mtime:
        return None, last_mtime
    return load_rules(p), mtime
