"""Scheduling operators: recrawl-window predicates, weighted-fair quota with
deterministic carry, FIFO/LIFO consumption, per-host politeness top-k.

The reference's scheduling round (/root/reference/scheduler/index.js:124-260)
is one Redis op per URL; here the whole round is columnar: a frontier ⋈
url_state join, a CASE WHEN admission predicate, one tiny aggregate for the
carry recursion, and a cumulative-sum window realizing the sequential pop
loop exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

HOUR_MS = 60 * 60 * 1000
TEN_MIN_MS = 10 * 60 * 1000
TWO_DAYS_MS = 2 * 24 * 60 * 60 * 1000


def scheduler_admit(round_ts_ms: int, interval_s: Column) -> Column:
    """Scheduler-flavor recrawl window (/root/reference/scheduler/index.js:373-394)
    over url_state columns (status, last). Terminal {crawled_failure, hit}
    bypass the window. crawling/schedule → 60-min stuck window. The
    reference's `crawled_finish ∧ type=='branch' ∧ version>last` fast-path is
    dead code (url_info never stores `type`; see spider.js:382-406 /
    scheduler/index.js:457-466) — replicated by omission.

    A URL missing from url_state is NOT admitted (checkURL:347) — the caller
    inner-joins url_state first.
    """
    real_interval = (
        F.when(F.col("status").isin("crawling", "schedule"), F.lit(HOUR_MS))
        .otherwise(interval_s.cast("long") * 1000)
    )
    window_ok = (F.lit(round_ts_ms) - F.coalesce(F.col("last"), F.lit(0))) >= real_interval
    return F.col("status").isin("crawled_failure", "hit") | window_ok


def discovery_admit(round_ts_ms: int, interval_s: Column,
                    status: str = "status", last: str = "last") -> Column:
    """Discovery-flavor window (/root/reference/spider/pipeline.js:127-172):
    same shape, different constants — crawling/schedule → 10 min, hit → 2
    days, crawled_failure bypasses (failed URLs are re-enqueued on
    rediscovery). Branch-new-version fast-path dead as above. `status` and
    `last` name the state columns to read (the round reads its effective
    e_status/e_last overlay)."""
    st = F.col(status)
    real_interval = (
        F.when(st.isin("crawling", "schedule"), F.lit(TEN_MIN_MS))
        .when(st == "hit", F.lit(TWO_DAYS_MS))
        .otherwise(interval_s.cast("long") * 1000)
    )
    window_ok = (F.lit(round_ts_ms) - F.coalesce(F.col(last), F.lit(0))) >= real_interval
    return (st == "crawled_failure") | window_ok


def quota_cts(avail_df: DataFrame, rules_df: DataFrame, avg_rate: float) -> DataFrame:
    """Distributed weighted-fair quota with sequential leftover carry
    (scheduler/index.js:210, 250-254) — no driver loop, no collect.

    The carry recursion left_i = max(0, left_{i-1} + ceil_i - avail_i) is a
    running-max, realized via the drawdown identity
    x_i = prefix_i - min_{0<=j<=i} prefix_j over a window ordered by
    rule_rank (rate desc). The window runs over #rules rows (config-sized).

    avail_df: (rule_key, available); rules_df: (rule_key, rate, rule_rank).
    Returns (rule_key, ct).
    """
    g = (
        rules_df.select("rule_key", "rate", "rule_rank")
        .join(avail_df, "rule_key", "left")
        .withColumn("avail", F.coalesce("available", F.lit(0)))
        .withColumn("ceil_ct", F.ceil(F.lit(avg_rate) * F.col("rate")))
        .withColumn("d", F.col("ceil_ct") - F.col("avail"))
    )
    w = Window.orderBy("rule_rank")
    prefix = F.sum("d").over(w.rowsBetween(Window.unboundedPreceding, 0))
    g = g.withColumn("prefix", prefix).withColumn(
        "carry_in",
        F.coalesce(
            F.lag("prefix").over(w)
            - F.least(
                F.lit(0),
                F.min(F.least(F.lit(0), F.col("prefix"))).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
            ),
            F.lit(0),
        ),
    )
    return g.select(
        "rule_key", (F.col("ceil_ct") + F.col("carry_in")).cast("long").alias("ct")
    )


QUOTA_BKT_SPAN = 1 << 16  # seq-range rows per prefix-sum bucket (dense regions)


def pop_order(lifo_rules: set[str]) -> Column:
    """Pop order within a rule: seq ascending (FIFO, lpop) or descending for
    LIFO rules (rpop)."""
    return F.when(
        F.col("rule_key").isin(*lifo_rules) if lifo_rules else F.lit(False),
        -F.col("seq"),
    ).otherwise(F.col("seq"))


def consume_quota(admits: DataFrame, ct_by_rule: DataFrame, lifo_rules: set[str]
                  ) -> DataFrame:
    """Realize the sequential pop loop (scheduler/index.js:216-256): a
    frontier row is POPPED (consumed) iff the number of admitted rows
    strictly before it in pop order is < ct; it is SCHEDULED iff popped ∧
    admitted. Rejected pops are consumed without counting — exactly the
    reference's lpop-then-drop behavior.

    admits: frontier ⋈ url_state with an `admit` boolean and `seq`;
    ct_by_rule: (rule_key, ct), a rule missing from it pops nothing.
    Returns admits + `popped`, `sched` booleans + `sched_rank`.

    Scale/skew design — the running count is a TWO-LEVEL distributed prefix
    sum, not one window per rule (a per-rule window sorts the hot rule's
    whole frontier in ONE task, a core-count-independent round floor):
      1. rows bucket by seq RANGE (floor(order/2^16); order-preserving, so
         buckets concatenate in pop order; seq is dense within a round's
         rank region, so hot-rule buckets hold ≤ 2^16 rows each);
      2. a local window per (rule, bkt) computes the in-bucket running
         count in parallel across buckets;
      3. a per-rule window over the tiny per-bucket totals yields each
         bucket's offset, joined back by (rule, bkt).
    sched_rank needs no second sort: scheduled rows are exactly the first
    ct admitted pops, so their 1-based rank IS admits_before + 1.

    With the frontier stored bucketed by seq-range in a real catalog,
    partition pruning additionally bounds the scan to the lowest ranges
    until ct is covered (the analog of popping the head of a Redis list).
    """
    admits = admits.withColumn("_ord", pop_order(lifo_rules)).withColumn(
        "_bkt", F.floor(F.col("_ord") / F.lit(QUOTA_BKT_SPAN))
    )
    w_loc = (
        Window.partitionBy("rule_key", "_bkt")
        .orderBy("_ord")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local_before = F.coalesce(F.sum(F.col("admit").cast("long")).over(w_loc), F.lit(0))
    totals = admits.groupBy("rule_key", "_bkt").agg(
        F.sum(F.col("admit").cast("long")).alias("_tot")
    )
    w_bkt = (
        Window.partitionBy("rule_key").orderBy("_bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.withColumn(
        "_off", F.coalesce(F.sum("_tot").over(w_bkt), F.lit(0))
    ).select("rule_key", "_bkt", "_off")
    admits = admits.join(offsets, ["rule_key", "_bkt"], "left")
    admits_before = F.col("_off") + local_before
    admits = admits.join(
        F.broadcast(ct_by_rule.withColumnRenamed("ct", "_ct")), "rule_key", "left"
    ).withColumn("_ct", F.coalesce("_ct", F.lit(0)))
    return (
        admits.withColumn("_ab", admits_before)
        .withColumn("popped", F.col("_ab") < F.col("_ct"))
        .withColumn("sched", F.col("popped") & F.col("admit"))
        .withColumn("sched_rank", F.col("_ab") + 1)
        .drop("_ct", "_ord", "_bkt", "_off", "_ab")
    )


UNGATED_BUDGET = 1 << 29  # budgets at/above this mean "no per-host cap"


def per_host_budget(
    scheduled: DataFrame,
    order_cols: list[str],
    budget_col: str = "max_fetches_per_round",
    salts: int = 16,
    delay_col: str = "crawl_delay_s",
) -> DataFrame:
    """Politeness top-k per host (north_rule; the reference's analog is the
    spider_concurrency gate, spider.js:262). Appends `host_rank` (1-based
    fetch order within host) and `in_budget`.

    Skew design, two layers:
    * hosts with NO effective constraint (unbounded budget, zero delay)
      bypass the per-host window entirely — the hot domain (50% of a crawl is
      one host, the synth skew knob) must never funnel through a single
      sort task when politeness doesn't require an order at all;
    * constrained hosts go through a salted two-phase top-k: a local
      row_number per (host, salt) prunes each host to ≤ salts×k rows before
      the exact per-host window, so the exact sort sees O(salts×k), not the
      host's whole queue.
    """
    order = [F.col(c) for c in order_cols]
    budget = F.coalesce(F.col(budget_col), F.lit(2**31 - 1))
    delay = (
        F.coalesce(F.col(delay_col), F.lit(0.0))
        if delay_col in scheduled.columns
        else F.lit(0.0)
    )
    gated_cond = (budget < F.lit(UNGATED_BUDGET)) | (delay > 0)
    ungated = scheduled.where(~gated_cond).withColumn(
        "host_rank", F.lit(1)
    ).withColumn("in_budget", F.lit(True))

    gated = scheduled.where(gated_cond)
    local_w = Window.partitionBy(F.col("host"), F.crc32(F.col("url_hash")) % salts).orderBy(*order)
    with_lr = gated.withColumn("_lr", F.row_number().over(local_w))
    pruned = with_lr.where(F.col("_lr") <= budget)
    exact_w = Window.partitionBy("host").orderBy(*order)
    ranked = pruned.withColumn("host_rank", F.row_number().over(exact_w)).drop("_lr")
    survivors = ranked.withColumn("in_budget", F.col("host_rank") <= budget)
    # rows cut by the salted pass are by construction over budget — kept in
    # the output with in_budget=false (host_rank unset) so the caller reads
    # pops/denials/leftovers from ONE frame with no anti-join
    over = (
        with_lr.where(F.col("_lr") > budget)
        .drop("_lr")
        .withColumn("host_rank", F.lit(None).cast("int"))
        .withColumn("in_budget", F.lit(False))
    )
    return survivors.unionByName(over).unionByName(ungated)


def robots_allowed(url_col: Column, host_col: Column, disallow_col: Column) -> Column:
    """Disallow-prefix gate: URL path must not start with any disallow prefix
    of its host (north_rule addition; absent in the reference)."""
    path = F.regexp_replace(url_col, r"^[a-z]+://[^/]*", "")
    return F.when(
        disallow_col.isNull() | (F.size(disallow_col) == 0), F.lit(True)
    ).otherwise(
        ~F.exists(disallow_col, lambda p: path.startswith(p))
    )


def ring3(col: Column) -> Column:
    """records.slice(-3) — keep the last ≤3 entries of a url_state records
    array (scheduler/index.js:434)."""
    return F.when(F.size(col) <= 3, col).otherwise(F.slice(col, -3, 3))
