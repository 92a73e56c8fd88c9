"""One crawl round as six phase functions over staged DataFrames (SURVEY.md
§3.1-3.2 restructured).

The reference's scheduling round + spider loop cross a network boundary on
every Redis op (per-URL hgetall×2 + hmset + rpush); here the whole round is
columnar, in six phases:

  admit:         frontier ⋈ url_state → admission predicate → quota window
                 (deterministic carry) → fr2
  gate:          scheduled queue → robots + politeness top-k per host → gated
  fetch_extract: batch ⋈ pages → validation → extraction pUDF → exres
  discover:      links: explode → bloom probe → discovery predicate → pe,
                 frontier append
  merge:         this round's events → updates → merged url_state
  commit:        table commits, metrics, round record

Determinism contract (north_rule: "matching the reference's crawl ordering
and URL-seen set under the same seed list + politeness budget"):
* round clock = ``base_ts + round_no*schedule_interval`` — never now();
* total order = (round, rule-rate desc, seeds-before-pops, pop order), pinned
  into ``seq``; every window orders by the unique seq → bit-stable reruns;
* the reference's event-loop-timing-dependent interleavings are pinned to
  "discovery observes all of this round's fetch outcomes" (SURVEY.md §7) —
  realized by overlaying this round's schedule/crawl events on url_state
  before the discovery predicate.

In-round retries: the reference re-emits a failed urlinfo immediately
(spider.js:350-372 → 'new_url_queue'); with a deterministic corpus standing
in for the network every retry has the same outcome, so the retry loop
collapses to its fixpoint — ``download_retry+1`` 'crawling' record pushes
then 'crawled_failure' — inside the same round.
"""

from __future__ import annotations

import hashlib
import json
import math
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schema
from ..functions import canon
from ..functions.extract import content_valid, extract_udf
from ..operators import bloom
from ..operators.scheduler import (
    consume_quota,
    discovery_admit,
    per_host_budget,
    pop_order,
    quota_cts,
    ring3,
    robots_allowed,
    scheduler_admit,
)
from ..rules import (
    detect_key_udf,
    detect_link,
    rules_by_domain,
    rules_by_key,
)
from ..sources.tables import Catalog

# seq = round * 2^40 + rule_rank * 2^32 + pop_offset  (unique total order)
ROUND_STRIDE = 1 << 40
RANK_STRIDE = 1 << 32
POP_OFFSET = 1 << 28  # seeds (offset 0) sort before quota pops within a rule
DISC_RANK = 255  # discovery appends sort after all scheduled entries

# fetch waves estimated below this many URLs broadcast the batch side of the
# fetch join; larger waves shuffle-hash it (see fetch_extract)
FETCH_BROADCAST_LIMIT = 100_000
# commit pool width: one commit's driver-side tail (footer scans, manifest
# writes) back-fills with the next commit's compute, while more concurrent
# py4j write jobs stall each other
COMMIT_WORKERS = 2

DEFAULT_SETTINGS = {
    # reference defaults: /root/reference/instance/example/settings.json:8-19
    "schedule_quantity_limitation": 200,
    "schedule_interval": 60,
    "download_retry": 3,
    "keep_link_relation": True,
    "save_content": True,
    "buckets": 64,
    "default_host_budget": 1 << 30,
}

def EMPTY_ARR():  # must be lazy: Column construction needs an active session
    return F.array().cast("array<string>")


# rule-attribute columns available to _with_rule_cols (name → literal builder)
_RULE_COL_BUILDERS = {
    "rate": lambda ctx, r: F.lit(float(r["rate"])),
    "interval_s": lambda ctx, r: F.lit(int(r["schedule_interval"])).cast("int"),
    "keywords": lambda ctx, r: (
        F.array(*[F.lit(k) for k in kw]).cast("array<string>")
        if (kw := (r.get("validation_keywords") or [])) else
        F.array().cast("array<string>")
    ),
    "is_binary": lambda ctx, r: F.lit(r["format"] == "binary"),
    "rule_type": lambda ctx, r: F.lit(r["type"]),
    "rule_rank": lambda ctx, r: F.lit(ctx.rank[r["key"]]).cast("int"),
    "encoding": lambda ctx, r: F.lit(r.get("encoding")).cast("string"),
}


def _with_rule_cols(df: DataFrame, ctx: "CrawlContext", cols: list[str]) -> DataFrame:
    """Attach rule-config columns keyed on rule_key as ONE literal-map lookup
    instead of a broadcast join (guide §2.4/§2.6 job-count floor): rules are
    driver-known config (dozens), and every broadcast join against them costs
    a SEPARATE sequential job per action (build + collect + relation) whose
    latency, not compute, is the cost. try_element_at yields NULL for a
    rule_key missing from the rules on any Spark version (element_at raises
    under ANSI on Spark 3.x) — the semantics of a left join. A real cluster
    keeps the same shape: the map literal ships inside the task binary like
    any broadcast, minus the build job. The map Column is built ONCE per
    context and reused across all sites and rounds: Column construction is
    one py4j call per node, so rebuilding the literal at every site would
    add driver time to every round."""
    if not ctx.rules:
        out = df
        for c in cols:
            t = {"rate": "double", "interval_s": "int", "is_binary": "boolean",
                 "rule_rank": "int", "keywords": "array<string>"}.get(c, "string")
            out = out.withColumn(c, F.lit(None).cast(t))
        return out
    looked = F.try_element_at(ctx.rules_map_col(tuple(cols)), F.col("rule_key"))
    out = df.withColumn("_rl", looked)
    for c in cols:
        out = out.withColumn(c, F.col(f"_rl.{c}"))
    return out.drop("_rl")


class CircuitBreakerTripped(RuntimeError):
    """Round-level failure breaker (reference analog: the spider halts the
    process on cumulative extract/download failures, extractor.js:416-423 and
    downloader.js:250). Here the halt lands at the round boundary AFTER the
    round record commits — the completed round stays durable and resume
    restarts cleanly once the operator clears the fault."""


@dataclass
class CrawlContext:
    spark: SparkSession
    catalog: Catalog
    rules: list[dict]  # normalized, active (rules.load_rules)
    pages: DataFrame
    robots: DataFrame | None = None
    settings: dict = field(default_factory=dict)
    base_ts: int = 1767312000000  # 2026-01-02T00:00:00Z
    # spider_extend hook surface (reference: spider/index.js:69-77 loads
    # instance spider_extend.js and chains its {download, extract, pipeline}
    # middlewares; README.md:566-646 documents user pipelines).
    # * extract_hook(df) -> df: applied to the post-extraction frame (columns
    #   incl. the `ex` struct) BEFORE discovery/sinks — the DataFrame analog
    #   of an extract middleware rewriting extracted_info (e.g. the wiki
    #   instance's link rewrite, instance/wiki/spider_extend.js:92).
    # * pipeline_hook(crawled_df, catalog, round_no) -> df | None: replaces
    #   or augments content persistence (spider/pipeline.js middleware); a
    #   None return means the hook did its own sink — the default `crawled`
    #   commit is skipped (an empty snapshot is committed to keep round
    #   records consistent).
    # * download_hook(batch_df, pages_df) -> fetched_df: replaces the default
    #   corpus fetch join (spider/downloader.js download middleware — e.g. an
    #   instance swapping HTTP for an API or cache). Must return the batch
    #   columns plus `html binary` (null html = fetch miss, like the default
    #   left join).
    # * alert_hook(round_no, round_metrics) -> None: observer called after
    #   every committed round with the driver-side metrics dict — the
    #   lib/mail.js alert / monitoring-callback analog. Runs BEFORE the
    #   circuit breaker so a tripped round still alerts.
    extract_hook: "object" = None
    pipeline_hook: "object" = None
    download_hook: "object" = None
    alert_hook: "object" = None

    def __post_init__(self):
        self.settings = {**DEFAULT_SETTINGS, **self.settings}
        self.by_key = rules_by_key(self.rules)
        self.by_domain = rules_by_domain(self.rules)
        ranked = sorted(self.rules, key=lambda r: -r["rate"])
        self.rank = {r["key"]: i for i, r in enumerate(ranked)}
        self.total_rates = sum(r["rate"] for r in self.rules)
        self.lifo = {r["key"] for r in self.rules if r["schedule_rule"] == "LIFO"}
        # rule-set and per-rule id_parameter signatures, recorded in round
        # state so the next round can tell whether its frontier needs repair
        self.known_keys = sorted(self.by_key)
        self.rules_sig = hashlib.md5("|".join(self.known_keys).encode()).hexdigest()
        self.id_sigs = {
            k: hashlib.md5(
                json.dumps(self.by_key[k].get("id_parameter") or []).encode()
            ).hexdigest()
            for k in self.known_keys
        }

    def rules_map_col(self, cols: tuple[str, ...]):
        """Literal map rule_key → struct(cols) for _with_rule_cols, built
        lazily once per context PER column subset (needs an active session)
        and reused across rounds — Column objects are immutable and
        session-scoped. Per-subset (not one all-column map): the lookup
        materializes the struct per row before field extraction, so a site
        that needs one int must not pay for keyword-array literals."""
        if getattr(self, "_rules_maps", None) is None:
            self._rules_maps = {}
        if cols not in self._rules_maps:
            entries = []
            for r in self.rules:
                entries.append(F.lit(r["key"]))
                entries.append(F.struct(*[
                    _RULE_COL_BUILDERS[c](self, r).alias(c) for c in cols
                ]))
            self._rules_maps[cols] = F.create_map(*entries)
        return self._rules_maps[cols]

    def rules_df(self) -> DataFrame:
        """(rule_key, rate, rule_rank), the quota_cts input, as one slice
        (schema.local_df): each per-round broadcast build of a cores-wide
        frame is a cores-wide task launch of 0-CPU tasks."""
        return schema.local_df(
            self.spark,
            [(r["key"], float(r["rate"]), self.rank[r["key"]]) for r in self.rules],
            "rule_key string, rate double, rule_rank int",
        )


def load_state(cat: Catalog) -> dict:
    rec = cat.last_completed_round()
    if rec is None:
        return {"round": 0, "first_schedule": {}}
    cat.restore_round(rec)  # crash-resume: discard any partial later round
    return rec["metrics"]["state"]


def _ev(events: list[str]):
    return F.array(*[F.lit(e) for e in events])


@dataclass
class _Round:
    """What every phase of one round reads: the round clock, the seq base,
    the manifest-known sizes (no Spark job), the state tables read once per
    round, and the shuffle-width setter."""

    spark: SparkSession
    no: int
    ts: int
    seq_base: int
    backlog: int  # scheduled rows carried from earlier rounds (llen)
    balance: int  # quota left after the backlog
    state_rows: int
    frontier_rows: int
    dpar: int
    url_state: DataFrame
    shards: DataFrame

    def set_width(self, rows: int, floor: int = 1, cap: int | None = None):
        """Shuffle width for the next action from its driver-known input
        size: ~50k rows per task, at most two waves of cores."""
        p = max(1, floor, min(cap or 2 * self.dpar, (rows + 49_999) // 50_000))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(p))


class _Outcomes(NamedTuple):
    """This round's schedule and fetch outcomes, read by discovery (as the
    mid-round overlay), the state merge and the sinks."""

    new_sched: DataFrame
    ex: DataFrame
    failed: DataFrame
    denied: DataFrame


def _open_round(ctx: CrawlContext, state: dict) -> _Round:
    spark, cat, st = ctx.spark, ctx.catalog, ctx.settings
    no = state["round"] + 1

    def rows(name):
        man = cat.manifest(name)
        return man["total_rows"] if man else 0

    backlog = rows("scheduled")  # llen from the manifest, no job
    # Adaptive physical width: every action's input size is driver-known
    # BEFORE it runs (snapshot manifests + stage parquet footers), so each
    # phase sets the shuffle width instead of paying a cores-wide task launch
    # for every tiny stage: a converged round's maintenance stages run 1-4
    # tasks while wave stages fan to 2x cores, and the per-round floor does
    # not grow with the cluster. AQE is OFF inside the round: its
    # partitioning is deterministic by construction (md5-uniform url_hash
    # keys, salted politeness, bucketed prefix sums, manifest-known sizes),
    # so runtime re-planning has no information advantage, and its
    # per-exchange materialization barriers add a driver job per exchange.
    # Analytic queries outside run_round keep AQE on.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return _Round(
        spark=spark, no=no,
        ts=ctx.base_ts + no * st["schedule_interval"] * 1000,
        seq_base=no * ROUND_STRIDE,
        backlog=backlog,
        balance=max(0, st["schedule_quantity_limitation"] - backlog),
        state_rows=rows("url_state"),
        frontier_rows=rows("frontier"),
        dpar=spark.sparkContext.defaultParallelism,
        url_state=cat.read(spark, "url_state", schema.URL_STATE),
        shards=cat.read(spark, "bloom", bloom.BLOOM_SCHEMA),
    )


def run_round(ctx: CrawlContext, state: dict | None = None) -> dict:
    """Run one crawl round, phase by phase, and commit it. Returns
    the new round state.

    The phases retune spark.sql.shuffle.partitions from manifest/footer row
    counts and plan with AQE off; both are restored afterwards so
    co-resident analytic queries keep the session defaults. Each `phase_s`
    mark fires after its phase's last action.

    Staging policy: every phase's cut point is ALWAYS materialized. Inlining
    the cheap JVM chain for small rounds would drop the parquet size stats
    at the cut; the planner then loses the "batch side is tiny" signal for
    the fetch join and shuffles the corpus side, which costs far more than
    the stage-write job."""
    spark, cat = ctx.spark, ctx.catalog
    saved = {k: spark.conf.get(k) for k in
             ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")}
    t_start, phase_s, done = time.time(), {}, [0.0]

    def mark(name):
        # phases split the round's elapsed time floored to 10 ms, so they
        # never sum to more than the round took
        at = math.floor((time.time() - t_start) * 100) / 100
        phase_s[name] = round(at - done[0], 2)
        done[0] = at

    try:
        if state is None:
            state = load_state(cat)
        rnd = _open_round(ctx, state)
        fr2, seeds, n_seeds, first_sched = admit(ctx, rnd, state)
        mark("admit")
        batch, new_sched, denied = gate(ctx, rnd, fr2, seeds, n_seeds)
        mark("gate")
        ex, failed, batch_rows = fetch_extract(ctx, rnd, batch, n_seeds)
        mark("fetch_extract")
        out = _Outcomes(new_sched, ex, failed, denied)
        pe, frontier_append = discover(ctx, rnd, out, batch_rows)
        mark("discover")
        updates, merged, parts = merge(ctx, rnd, out, pe)
        mark("merge")
        snaps, round_metrics = commit(ctx, rnd, out, frontier_append, updates,
                                      merged, parts, batch_rows)
        mark("commit")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    round_metrics["phase_s"] = phase_s
    new_state = {
        "round": rnd.no,
        "first_schedule": first_sched,
        # the committed frontier now holds ONLY entries written under the
        # current rule set (repair ran this round if it was needed), so the
        # signature history collapses to the live one
        "rules_sigs": [ctx.rules_sig],
        # per-rule id_parameter signatures: next round re-canonicalizes the
        # frontier slice of any rule whose signature changed (transformLink)
        "id_sigs": ctx.id_sigs,
    }
    cat.commit_round(rnd.no, snaps, {"state": new_state, "round_metrics": round_metrics})
    # this round's stages are dead once the round record is committed (resume
    # replays from committed snapshots, never from stages); sweep the
    # previous round's too in case an earlier run crashed mid-round
    cat.drop_stages(rnd.no)
    if rnd.no > 1:
        cat.drop_stages(rnd.no - 1)
    if ctx.alert_hook is not None:
        ctx.alert_hook(rnd.no, round_metrics)
    breaker = ctx.settings.get("failure_breaker")
    if breaker is not None:
        n_bad = round_metrics["failed"] + round_metrics["denied"]
        if n_bad >= breaker:
            raise CircuitBreakerTripped(
                f"round {rnd.no}: {n_bad} failures >= breaker {breaker}"
            )
    return new_state


def _repair_frontier(ctx: CrawlContext, state: dict, frontier: DataFrame) -> DataFrame:
    known_keys = ctx.known_keys
    # Stale-trace repair on pop (checkURL, scheduler/index.js:350-370): when
    # the rule set changed between rounds, frontier entries whose rule_key no
    # longer exists are re-matched against the live rules (pUDF over the
    # stale slice only) instead of dropping. Still-unmatched entries are
    # dropped wholesale at this round's frontier rewrite (they are filtered
    # out of the frontier read and never re-written) — the batch analog of
    # the reference's lpop-then-drop. GATED on the rule-set
    # signature recorded in round state: the common path (config unchanged
    # since the frontier was written) pays nothing — no union, no pUDF.
    if set(state.get("rules_sigs") or []) - {ctx.rules_sig}:
        stale = frontier.where(~F.col("rule_key").isin(known_keys))
        frontier = frontier.where(F.col("rule_key").isin(known_keys)).unionByName(
            stale.withColumn("rule_key", detect_key_udf(ctx.by_domain)(F.col("url")))
            .where(F.col("rule_key").isNotNull())
        )
    # Transform-on-pop re-canonicalization (checkURL's transformLink,
    # scheduler/index.js:349-354): when a rule's id_parameter changed between
    # rounds, its frontier entries are re-canonicalized under the CURRENT
    # rule before admission; url_hash + bucket follow the new form. The
    # reference then consults url_info under the NEW hash — entries whose
    # transformed form is unknown are consumed unscheduled ('not exists in
    # urlinfo' → callback(false)), entries collapsing onto one form merge via
    # the first-occurrence admission window in admit. GATED on per-rule
    # id_parameter signatures in round state: unchanged config pays nothing.
    prev_id_sigs = state.get("id_sigs") or {}
    changed_keys = [
        k for k in known_keys
        if k in prev_id_sigs and prev_id_sigs[k] != ctx.id_sigs[k]
    ]
    if changed_keys:
        id_map = {k: ctx.by_key[k].get("id_parameter") for k in changed_keys}
        sl = (
            frontier.where(F.col("rule_key").isin(changed_keys))
            .withColumn("url", canon.canonicalize_udf(id_map)(F.col("url"), F.col("rule_key")))
            .drop("url_hash", "bucket")
        )
        sl = canon.with_url_identity(sl, buckets=ctx.settings["buckets"])
        keep = frontier.where(~F.col("rule_key").isin(changed_keys))
        frontier = keep.unionByName(sl.select(*keep.columns))
    return frontier


def _seed_rows(ctx: CrawlContext, rnd: _Round, state: dict) -> tuple[list, dict]:
    """Seed reschedule (scheduler/index.js:163-198): the seed rows due this
    round and the updated per-rule first_schedule clock."""
    first_sched = dict(state.get("first_schedule", {}))
    seed_rows = []
    for r in ctx.rules:
        if rnd.ts - first_sched.get(r["key"], 0) >= r["schedule_interval"] * 1000:
            order = 0
            for s in r["seed"]:
                for link in canon.expand_seed(s):
                    tr = detect_link(link, ctx.by_domain)  # trace on create (:454)
                    if tr is None:
                        continue  # no rule match → not pushed (:474-477)
                    seed_rows.append(
                        (canon.md5_hex(link), link, tr["key"], canon.url_host(link), order)
                    )
                    order += 1
            if r["seed"]:
                first_sched[r["key"]] = rnd.ts
    return seed_rows, first_sched


def admit(ctx: CrawlContext, rnd: _Round, state: dict):
    """Frontier repair, seed reschedule and quota admission (frontier ⋈
    url_state). Returns (fr2, seeds, seed count, first_schedule): fr2 is the
    staged frontier with `popped`/`sched`/`sched_rank`, partitioned by
    popped."""
    spark, cat = ctx.spark, ctx.catalog
    frontier = _repair_frontier(ctx, state, cat.read(spark, "frontier", schema.FRONTIER))
    seed_rows, first_sched = _seed_rows(ctx, rnd, state)
    # one-slice frame: seed lists are config-sized (see rules_df)
    seeds = schema.local_df(
        spark, seed_rows,
        "url_hash string, url string, rule_key string, host string, ord long",
    )
    # equi hash join on url_hash; both sides bucketed identically, so a real
    # catalog makes this storage-partitioned (shuffle-free)
    fr = (
        _with_rule_cols(
            frontier.join(
                rnd.url_state.select("url_hash", "status", "last", "version"),
                "url_hash", "left",
            ),
            ctx, ["interval_s", "rule_rank"],
        )
        .withColumn(
            "admit_pre",
            # missing url_info → popped but not counted (checkURL:347)
            F.col("status").isNotNull() & scheduler_admit(rnd.ts, F.col("interval_s")),
        )
    )
    # Sequential-pop fidelity: once a URL is scheduled this round (by a seed
    # push or an earlier duplicate frontier entry), later pops of the same
    # URL see status='schedule' (60-min window) and are rejected
    # (checkURL:381-388). Pre-round state can't see that, so: (a) frontier
    # entries for this round's seed URLs never admit; (b) only the FIRST
    # occurrence of a url_hash in global pop order admits.
    w_dup = Window.partitionBy("url_hash").orderBy("rule_rank", pop_order(ctx.lifo))
    # seed url_hashes are driver-known: probe them as an isin literal (InSet
    # past 10 values) instead of a broadcast join — one fewer broadcast-build
    # job in the fr2 plan
    seed_hashes = sorted({r[0] for r in seed_rows})
    not_seed_url = ~F.col("url_hash").isin(seed_hashes) if seed_hashes else F.lit(True)
    fr = fr.withColumn("dup_rn", F.row_number().over(w_dup)).withColumn(
        "admit",
        F.col("admit_pre") & not_seed_url & (F.col("dup_rn") == 1),
    ).drop("dup_rn", "admit_pre")
    # The quota aggregate below and the consumption window both read `fr`;
    # Catalyst has no common-subtree reuse, so the frontier⋈state subtree
    # appears TWICE inside the fr2 job. That is deliberate: the aggregate
    # branch is column-pruned to (rule_key, admit inputs) with a map-side
    # combine, so its re-evaluation is cheaper than a dedicated fr_admit
    # materialization job and its driver latency.
    avail_df = fr.groupBy("rule_key").agg(
        F.sum(F.col("admit").cast("long")).alias("available")
    )
    avg_rate = (rnd.balance / ctx.total_rates) if ctx.total_rates else 0.0
    ct_df = quota_cts(avail_df, ctx.rules_df(), avg_rate)
    # fr2 feeds the scheduled queue AND the frontier rewrite (two actions).
    # Partitioned by `popped` WITHOUT reshuffle (boolean col, upstream quota
    # window already partitioned the data): the frontier commit then ADOPTS
    # the popped=false files driver-side (commit_files hardlink + manifest)
    # instead of re-writing the surviving frontier through a second Spark job
    # — at wave scale that job would re-write the whole remaining frontier.
    fr2_plan = consume_quota(fr, ct_df, ctx.lifo)
    if rnd.frontier_rows == 0:
        # empty frontier (manifest-known, no job): the quota machinery would
        # still run ~7 sub-jobs over zero rows at ~2 s of pure driver latency
        # each — stage an empty frame with the identical schema instead
        fr2_plan = schema.local_df(spark, [], fr2_plan.schema)
    else:
        rnd.set_width(rnd.frontier_rows + len(seed_rows))
    fr2 = cat.stage(spark, rnd.no, "fr2", fr2_plan, partition_by=["popped"], shuffle=False)
    return fr2, seeds, len(seed_rows), first_sched


def gate(ctx: CrawlContext, rnd: _Round, fr2: DataFrame, seeds: DataFrame,
         n_seeds: int):
    """Assemble the scheduled queue (backlog ∪ seeds ∪ quota pops, rpush
    order pinned into seq) and run the robots + per-host politeness gate
    (north_rule; no reference analog). Stages `gated`, partitioned by disp
    (batch | denied | left). Returns (batch, new_sched, denied)."""
    spark, cat, st = ctx.spark, ctx.catalog, ctx.settings
    seq_base = rnd.seq_base
    sched_seeds = _with_rule_cols(seeds, ctx, ["rule_rank"]).withColumn(
        "seq",
        F.lit(seq_base)
        + F.coalesce("rule_rank", F.lit(DISC_RANK)).cast("long") * F.lit(RANK_STRIDE)
        + F.row_number().over(Window.partitionBy("rule_key").orderBy("ord", "url")),
    ).withColumn("is_seed", F.lit(True)).drop("ord", "rule_rank")
    # sched_rank was computed inside the fr2 stage's quota window (same sort)
    sched_quota = fr2.where("sched").select(
        "url_hash", "url", "rule_key", "host",
        (F.lit(seq_base) + F.col("rule_rank").cast("long") * F.lit(RANK_STRIDE)
         + F.lit(POP_OFFSET) + F.col("sched_rank")).alias("seq"),
        F.lit(False).alias("is_seed"),
    )
    hydrate = rnd.url_state.select(
        "url_hash", F.col("referer").alias("h_referer"),
        F.col("drill_relation").alias("h_relation"), F.col("version").alias("h_version"),
    )
    # new_sched is NOT staged on its own: it rides INTO the gated stage below
    # tagged is_new, and every post-gate consumer (upd_sched, mid-round
    # overlay, seed_new) reads it back as gated.where(is_new) — one
    # materialization covers both frames. The hydrate join and quota-pop
    # projection evaluate exactly once, inside the gated write, reading the
    # already-staged fr2 parquet.
    new_sched_plan = (
        sched_seeds.unionByName(sched_quota)
        .join(hydrate, "url_hash", "left")  # spider.js:221-241 hydration
        .select(
            "url_hash", "url", "rule_key", "host", "seq",
            F.lit(0).alias("retry"),
            F.coalesce("h_referer", F.lit("")).alias("referer"),
            F.col("h_relation").alias("drill_relation"),
            # seeds: version = schedule_version (reSchedule:182); pops keep
            # the stored version (checkURL passes version=false :396)
            F.when(F.col("is_seed"), F.lit(rnd.ts)).otherwise(F.col("h_version"))
            .alias("version"),
            "is_seed",
        )
    )
    queue = cat.read(spark, "scheduled", schema.SCHEDULED).withColumn(
        "is_seed", F.lit(False)
    ).withColumn("is_new", F.lit(False)).unionByName(
        new_sched_plan.withColumn("is_new", F.lit(True))
    )

    # ONE staged frame carries the whole gate outcome (allowed + in_budget +
    # fetch offset): batch / denied / leftover are filters over it, not
    # separate stage writes plus a leftover anti-join (2 more jobs per round).
    robots = (ctx.robots if ctx.robots is not None
              else schema.local_df(spark, [], schema.ROBOTS))
    q = queue.join(F.broadcast(robots), "host", "left").withColumn(
        "max_fetches_per_round",
        F.coalesce("max_fetches_per_round", F.lit(st["default_host_budget"])),
    )
    allowed_col = robots_allowed(F.col("url"), F.col("host"), F.col("disallow"))
    rnd.set_width(rnd.backlog + min(rnd.balance, rnd.frontier_rows) + n_seeds)
    # qa staged ONCE (guide §2.4/§1.5): otherwise each of the gated write's
    # four union branches (per_host_budget's ungated/survivors/over + the
    # robots-denied branch) re-evaluates the queue ⋈ robots ⋈ hydrate
    # subtree, building the robots broadcast four times (four sequential
    # sub-jobs) and making four map passes over the wave. Branches filter a
    # parquet scan with footer-known stats instead.
    qa = cat.stage(spark, rnd.no, "qa", q.withColumn("allowed", allowed_col))
    surv = per_host_budget(qa.where("allowed"), ["seq"])
    # disp partitions the stage into the three consumer row-sets; no reshuffle
    # (3-value col — clustering would collapse the wave write to 3 tasks).
    # Downstream filters become partition PRUNING, and the leftover set is
    # committed to `scheduled` by ADOPTING its partition files driver-side,
    # with no leftover write job.
    gated = cat.stage(
        spark, rnd.no, "gated",
        surv.unionByName(
            qa.where(~F.col("allowed"))
            .withColumn("host_rank", F.lit(None).cast("int"))
            .withColumn("in_budget", F.lit(False))
        )
        .withColumn(
            "fetch_offset_ms",
            F.when(
                F.col("in_budget"),
                ((F.col("host_rank") - 1)
                 * F.coalesce(F.col("crawl_delay_s"), F.lit(0.0)) * 1000).cast("long"),
            ),
        )
        .drop("disallow", "crawl_delay_s", "max_fetches_per_round")
        .withColumn(
            "disp",
            F.when(~F.col("allowed"), F.lit("denied"))
            .when(F.col("in_budget"), F.lit("batch"))
            .otherwise(F.lit("left")),
        ),
        partition_by=["disp"], shuffle=False,
    )
    return (
        gated.where("disp = 'batch'").drop("allowed", "in_budget", "disp"),
        gated.where("is_new").select(
            "url_hash", "url", "rule_key", "host", "seq", "retry", "referer",
            "drill_relation", "version", "is_seed",
        ),
        gated.where("disp = 'denied'").select("url_hash", "url", "rule_key", "host", "seq"),
    )


_SLIM_COLS = [
    "url_hash", "url", "rule_key", "host", "seq", "retry", "referer",
    "drill_relation", "version", "rule_type", "is_binary",
]


def fetch_extract(ctx: CrawlContext, rnd: _Round, batch: DataFrame, n_seeds: int):
    """Fetch (batch ⋈ pages, the corpus standing in for the network),
    validation and the extraction pUDF in ONE pass, staged as `exres`.
    Returns (ex, failed, batch row count): ex holds the valid rows with the
    `ex` struct, failed the invalid rows and fetch misses."""
    spark, cat, st = ctx.spark, ctx.catalog, ctx.settings
    # Join strategy is BATCH-SIZE-ADAPTIVE (driver-sized from manifests):
    # * small batches broadcast (INNER join): the corpus is a pure streaming
    #   scan probed by a hash table of the quota-bounded batch — the html
    #   payload never enters a shuffle, and the broadcast is cheap.
    # * large waves use a SHUFFLE_HASH join instead: a broadcast's
    #   driver-side collect + hash-relation build is SINGLE-THREADED O(batch),
    #   which dominates the round at ~1M-URL waves whatever the core count.
    #   The shuffle moves that cost into the parallel slope: html rows
    #   shuffle once, hash-partitioned — and SHUFFLE_HASH (not SMJ) avoids
    #   sorting them.
    #   With a BUCKETED corpus (sources/bucketed.py: pass the bucketBy(url)
    #   table as ctx.pages) even that shuffle disappears: the bucketed scan
    #   reports hashpartitioning(url, n_buckets), so only the slim batch
    #   side exchanges and html never moves — the storage-partitioned join
    #   (tests/test_bucketed_join.py pins the plan; Iceberg analog at prod).
    # The estimate includes the scheduled backlog: the fetch wave is
    # queue = scheduled ∪ new_sched, so a backlog-dominated round
    # (balance≈0) is still a large wave.
    approx_batch = min(rnd.balance, rnd.frontier_rows) + n_seeds + rnd.backlog
    small_batch = approx_batch < FETCH_BROADCAST_LIMIT
    if ctx.download_hook is not None:
        fetched = ctx.download_hook(batch, ctx.pages)
    elif small_batch:
        fetched = ctx.pages.select("url", "html").join(F.broadcast(batch), "url", "inner")
    else:
        fetched = ctx.pages.select("url", "html").join(
            batch.hint("SHUFFLE_HASH"), "url", "inner"
        )
    fv = (
        _with_rule_cols(fetched, ctx,
                        ["encoding", "is_binary", "keywords", "rule_type"])
        # validation reads content decoded per the RULE's encoding (the
        # reference validates post-iconv text, extractor.js:392-414); pages
        # whose rule declares none decode as utf-8 here — malformed bytes
        # become U+FFFD (legacy codingErrorAction, set in session.py), and
        # the extraction pUDF re-decodes from raw bytes via the charset
        # sniff for the byte-exact path
        .withColumn("content", F.expr("decode(html, coalesce(encoding, 'utf-8'))"))
        .withColumn(
            "valid",
            F.col("html").isNotNull()
            & content_valid(F.col("content"), F.col("is_binary"), F.col("keywords")),
        )
    )

    # ONE pass over the fetch join covers both outcomes: the pUDF sees html
    # only for valid rows (when(valid, html) → None otherwise, handled as
    # empty result), so invalid/missing rows ride along for free and the
    # corpus join runs exactly once per round.
    #
    # Parallelism for the pUDF: small batches are light in BYTES but heavy in
    # per-row cost, so scan-split sizing under-parallelizes them — an
    # explicitly-numbered repartition (driver-sized from manifests) fixes
    # that, and its shuffle is tiny. LARGE waves must NOT repartition: that
    # would push the multi-GB html column through a shuffle; they instead
    # ride the corpus scan's file splits, which are plentiful exactly when
    # the wave is large (Spark's default split size, 128 MB or the input
    # divided by the core count if smaller, gives a multi-GB corpus several
    # splits per core).
    # ~100 pages/task, floored at the core count once there's at least one
    # page per core: hub-heavy rounds (few pages, hundreds of links each)
    # must still fan out across all cores. Rounded UP to a multiple of the
    # core count: 21 tasks on 16 cores is a 1.3-wave straggler tail; 32 is
    # two clean waves.
    dpar = rnd.dpar
    par = max(1, min(dpar * 2,
                     max(approx_batch // 100 + 1,
                         dpar if approx_batch >= dpar else 1)))
    if par > dpar:
        par = dpar * ((par + dpar - 1) // dpar)
    fv_par = fv.repartition(par, F.col("url_hash")) if approx_batch < 50_000 else fv
    save_page_keys = [r["key"] for r in ctx.rules
                      if r.get("save_page") or r["format"] == "binary"]
    exres_plan = (
        fv_par
        .withColumn(
            "ex",
            extract_udf(ctx.by_key, ctx.by_domain, st["keep_link_relation"])(
                F.col("url"), F.when(F.col("valid"), F.col("html")),
                F.col("rule_key"), F.col("drill_relation")
            ),
        )
        .select(
            *_SLIM_COLS, "valid",
            F.col("html").isNull().alias("missing"),
            (F.when(F.col("valid") & F.col("rule_key").isin(save_page_keys), F.col("html"))
             if save_page_keys else F.lit(None).cast("binary")).alias("page_content"),
            "ex",
        )
    )
    # batch emptiness is footer-known from the gated stage: a converged round
    # (nothing to fetch) must not pay the corpus-scan fetch join
    batch_rows = cat.stage_rows(rnd.no, "gated", disp="batch")
    if batch_rows == 0 and ctx.download_hook is None:
        exres_plan = schema.local_df(spark, [], exres_plan.schema)
    else:
        # extraction is per-row-expensive python: keep at least a full wave
        # of tasks whenever there is at least one page per core (the
        # explicit small-batch repartition above already handles hub-heavy
        # tiny rounds; this floor covers the SHUFFLE_HASH width)
        rnd.set_width(batch_rows, floor=min(dpar, batch_rows))
    exres = cat.stage(spark, rnd.no, "exres", exres_plan)
    # Fetch misses (batch rows with no corpus page) are absent from the
    # inner fetch join — recover them against the STAGED result so the
    # anti-join's build side is bounded by the batch, never the corpus; it
    # broadcasts only below the fetch join's threshold (the driver-side hash
    # build is O(batch) single-threaded — slim shuffle otherwise).
    # (download_hook may return left-join semantics with null-html rows;
    # those already sit in exres as missing and the anti-join adds nothing.)
    exres_keys = exres.select("url_hash")
    missing_rows = _with_rule_cols(
        batch.join(F.broadcast(exres_keys) if small_batch else exres_keys,
                   "url_hash", "left_anti"),
        ctx, ["rule_type", "is_binary"],
    ).select(*_SLIM_COLS, F.lit(True).alias("missing"))
    # ex reads the STAGED parquet directly (valid rows only — misses are
    # never valid, so they need not ride along); `failed` is slim-column.
    # Misses stay out of exres: a union with null ex structs would defeat
    # nested-schema pruning, and every consumer — including the fetch_log
    # commit that needs only size(ex.lacks) — would decode the FULL ex struct.
    ex = exres.where("valid")
    if ctx.extract_hook is not None:
        ex = ctx.extract_hook(ex)
    failed = (
        exres.where(~F.col("valid")).select(*_SLIM_COLS, "missing")
        .unionByName(missing_rows)
    )
    return ex, failed, batch_rows


def discover(ctx: CrawlContext, rnd: _Round, out: _Outcomes, batch_rows: int):
    """Discovery (pipeline.save_links:66-222): explode the extracted links,
    probe the Bloom seen-set, overlay this round's outcomes on url_state and
    apply the discovery predicate. Stages `pe`; returns (pe, frontier
    append)."""
    spark, cat = ctx.spark, ctx.catalog
    links = (
        out.ex.select(
            F.col("url").alias("referer_url"),
            F.col("seq").alias("parent_seq"),
            F.col("version").alias("parent_version"),
            F.col("ex.drill_relation").alias("parent_relation"),
            F.posexplode_outer("ex.arranged").alias("pos", "lk"),
        )
        .where(F.col("lk").isNotNull())
        .select(
            "referer_url", "parent_seq", "parent_version", "parent_relation", "pos",
            F.expr("substring(lk.lib, 8)").alias("rule_key"),  # strip 'urllib:'
            F.col("lk.link").alias("url"),
            F.col("lk.host").alias("host"),
        )
    )
    cand = (
        canon.with_url_identity(links, buckets=ctx.settings["buckets"])
        # first-occurrence-wins cross-page dedup, pinned to (pop order, page pos)
        .withColumn("rn", F.row_number().over(
            Window.partitionBy("url_hash").orderBy("parent_seq", "pos")))
        .where("rn = 1").drop("rn")
    )
    probed = bloom.probe(cand, rnd.shards)
    # ONE branch for bloom-positives AND negatives, with the probe fused into
    # the pe stage job: the url_state left join is a no-op for
    # bloom-negatives (no false negatives ⇒ negatives are never in
    # url_state), so coalesce(m_*, s_*) degenerates to the overlay for them.
    # The url_state side is pruned by the runtime bloom filter / bucket
    # co-location either way; negatives only ride the small candidate side.
    mid_upd = _mid_round_overlay(*out, rnd.ts)
    # discovery volume is not footer-known until the pe stage lands; size it
    # from the fetched batch with a links-per-page allowance (64), floored so
    # a hub-heavy round still spans the cores. Width stays in effect for the
    # updates stage in merge (same discovery-sized data).
    rnd.set_width(batch_rows * 64,
                  floor=min(rnd.dpar, (batch_rows + 49) // 50))
    pe = cat.stage(
        spark, rnd.no, "pe",
        probed.join(
            rnd.url_state.select(
                "url_hash", F.col("status").alias("s_status"),
                F.col("last").alias("s_last"), F.col("version").alias("s_version"),
            ),
            "url_hash", "left",
        )
        .join(mid_upd, "url_hash", "left")
        .withColumn("e_status",
                    F.coalesce("m_status", F.when(F.col("maybe_seen"), F.col("s_status"))))
        .withColumn("e_last",
                    F.coalesce("m_last", F.when(F.col("maybe_seen"), F.col("s_last"))))
        .withColumn("e_version",
                    F.coalesce("m_version", F.when(F.col("maybe_seen"), F.col("s_version"))))
        .drop("m_status", "m_last", "m_version", "s_status", "s_last", "s_version")
        .transform(lambda d: _with_rule_cols(d, ctx, ["interval_s"]))
        .withColumn("d_new", F.col("e_status").isNull())
        .withColumn(
            "d_requeue",
            F.col("e_status").isNotNull()
            & discovery_admit(rnd.ts, F.col("interval_s"), "e_status", "e_last"),
        ),
    )

    # Discovery seq is ARITHMETIC, not a per-rule row_number over every
    # discovered link: that window would sort the hot rule's whole discovery
    # wave in ONE task, a core-count-independent floor. Ordering (parent pop
    # order, then link position on the page) is preserved by ranking only the
    # DISTINCT PARENT PAGES per rule (hub pages: orders of magnitude fewer
    # than links) and composing seq = base + parent_rank·2^14 + pos. pos is
    # capped at 2^14-1 (a page with >16384 admitted links would tie beyond
    # that — far above any real page); parent_rank < 2^18 per rule per round
    # keeps the composite inside the rank-255 stride.
    adm = pe.where(F.col("d_new") | F.col("d_requeue"))
    parent_rank = (
        adm.select("rule_key", "parent_seq").distinct()
        .withColumn(
            "_prank",
            F.row_number().over(
                Window.partitionBy("rule_key").orderBy("parent_seq")) - 1,
        )
    )
    frontier_append = (
        adm.join(parent_rank, ["rule_key", "parent_seq"])
        .withColumn(
            "seq",
            F.lit(rnd.seq_base) + F.lit(DISC_RANK * RANK_STRIDE)
            + F.col("_prank") * F.lit(1 << 14)
            + F.least(F.col("pos"), F.lit((1 << 14) - 1)),
        )
        .select("url_hash", "url", "rule_key", "host", "seq",
                F.lit(rnd.ts).alias("discovered_ts"), "bucket")
    )
    return pe, frontier_append


def merge(ctx: CrawlContext, rnd: _Round, out: _Outcomes, pe: DataFrame):
    """url_state MERGE over touched buckets only: this round's schedule,
    crawl and discovery events, staged as `updates` partitioned by
    (u_bucket, is_new). Returns (updates, merged url_state rows, the
    updates stage's partition values)."""
    spark, cat, st = ctx.spark, ctx.catalog, ctx.settings
    buckets, round_ts = st["buckets"], rnd.ts
    attempts = st["download_retry"] + 1
    upd_sched = out.new_sched.groupBy("url_hash").agg(
        F.flatten(F.collect_list(_ev(["schedule"]))).alias("sched_events"),
        F.max("version").alias("version_set"),
        F.max("is_seed").alias("was_seed"),
    )
    upd_crawl = (
        out.ex.select("url_hash", _ev(["crawling", "crawled_finish"]).alias("crawl_events"))
        .unionByName(
            out.failed.select(
                "url_hash",
                ring3(F.concat(F.array_repeat(F.lit("crawling"), attempts),
                               _ev(["crawled_failure"]))).alias("crawl_events"),
            )
        )
        .unionByName(out.denied.select("url_hash",
                                       _ev(["crawled_failure"]).alias("crawl_events")))
        .groupBy("url_hash")
        .agg(F.flatten(F.collect_list("crawl_events")).alias("crawl_events"))
    )
    upd_disc = pe.where(~F.col("d_new")).select(
        "url_hash",
        F.col("d_requeue").alias("hit_override"),
        F.col("parent_version").alias("version_cand"),
    )
    disc_new = pe.where("d_new").select(
        "url_hash", "url", "rule_key",
        F.col("referer_url").alias("n_referer"),
        F.lit("hit").alias("n_status"),
        F.col("parent_version").alias("n_version"),
        (F.coalesce("parent_relation", F.lit("*")) if st["keep_link_relation"]
         else F.lit(None).cast("string")).alias("n_relation"),
        "bucket",
    )
    seed_new = (
        out.new_sched.where("is_seed")
        .join(rnd.url_state.select("url_hash"), "url_hash", "left_anti")
        .select(
            "url_hash", "url", "rule_key",
            F.lit("").alias("n_referer"), F.lit("schedule").alias("n_status"),
            F.col("version").alias("n_version"),
            F.lit(None).cast("string").alias("n_relation"),
        )
        .withColumn("bucket", canon.bucket_of_hash(buckets))
    )
    # all_new stays UNSTAGED: it derives from already-staged pe/new_sched,
    # and its only consumers are the updates stage below (joined in) and the
    # bloom update (re-derived from the staged updates via is_new)
    all_new = disc_new.unionByName(seed_new).dropDuplicates(["url_hash"])

    updates = (
        upd_sched.join(upd_crawl, "url_hash", "full")
        .join(upd_disc, "url_hash", "full")
        .join(all_new.withColumnRenamed("url", "n_url")
                     .withColumnRenamed("rule_key", "n_rule_key")
                     .withColumnRenamed("bucket", "n_bucket"),
              "url_hash", "full")
        .withColumn(
            "events",
            F.concat(F.coalesce("sched_events", EMPTY_ARR()),
                     F.coalesce("crawl_events", EMPTY_ARR())),
        )
        # creation is not a records push: a just-created 'schedule' row drops
        # its own schedule event (updateLinkState create path :453-478 writes
        # records=[] — only LATER transitions get pushed)
        .withColumn(
            "events",
            F.when(F.col("n_status") == "schedule",
                   F.slice(F.col("events"), 2, 2_000_000_000))
            .otherwise(F.col("events")),
        )
        .withColumn("u_bucket", F.coalesce("n_bucket", canon.bucket_of_hash(buckets)))
        .withColumn("is_new", F.col("n_status").isNotNull().cast("int"))
    )
    # consumed by the merge write AND the bloom update; partitioned by
    # (u_bucket, is_new) so the touched-bucket and bloom-touched sets read
    # off the stage's directory names (a driver-side listdir, not two
    # distinct().collect() jobs)
    updates = cat.stage(spark, rnd.no, "updates", updates,
                        partition_by=["u_bucket", "is_new"])
    parts = cat.stage_partition_values(rnd.no, "updates")
    touched_buckets = sorted({int(p["u_bucket"]) for p in parts})
    merged = (
        rnd.url_state.where(
            F.col("bucket").isin(touched_buckets) if touched_buckets else F.lit(False)
        )
        .alias("s")
        .join(updates.alias("u"), "url_hash", "full")
        .select(
            "url_hash",
            F.coalesce("s.url", "u.n_url").alias("url"),
            F.coalesce("s.rule_key", "u.n_rule_key").alias("rule_key"),
            F.coalesce("s.referer", "u.n_referer").alias("referer"),
            F.when(F.coalesce("u.hit_override", F.lit(False)), F.lit("hit"))
            .otherwise(F.coalesce(F.try_element_at("u.events", F.lit(-1)), "u.n_status", "s.status"))
            .alias("status"),
            F.when(F.col("u.n_status").isNotNull(),
                   ring3(F.coalesce("u.events", EMPTY_ARR())))
            .otherwise(ring3(
                F.concat(F.coalesce("s.records", EMPTY_ARR()),
                         F.coalesce("u.events", EMPTY_ARR()))))
            .alias("records"),
            F.when(
                (F.size(F.coalesce("u.events", EMPTY_ARR())) > 0)
                | F.col("u.n_status").isNotNull(),
                F.lit(round_ts),
            ).otherwise(F.col("s.last")).alias("last"),
            F.coalesce("s.create", F.lit(round_ts)).alias("create"),
            _merge_version().alias("version"),
            F.coalesce("s.drill_relation", "u.n_relation").alias("drill_relation"),
            F.coalesce("s.bucket", "u.u_bucket").alias("bucket"),
        )
    )
    return updates, merged, parts


def _crawled_frame(ctx: CrawlContext, rnd: _Round, ex: DataFrame) -> DataFrame:
    spark = ctx.spark
    crawled = ex.where(F.col("rule_type") == "node").select(
        "url_hash", "url", "rule_key", "referer",
        F.lit(rnd.ts).alias("fetched_ts"), F.lit(rnd.no).alias("round"),
        F.col("page_content").alias("content"),
        F.col("ex.extracted").alias("extracted"),
        F.col("ex.children").alias("extracted_children"),
        F.col("ex.drill_relation").alias("drill_relation"),
    ) if ctx.settings["save_content"] else schema.local_df(spark, [], schema.CRAWLED)
    if ctx.pipeline_hook is not None:
        crawled = ctx.pipeline_hook(crawled, ctx.catalog, rnd.no)
        if crawled is None:  # hook did its own sink; keep round records consistent
            crawled = schema.local_df(spark, [], schema.CRAWLED)
    return crawled


def _fetch_log_frame(rnd: _Round, out: _Outcomes) -> DataFrame:
    """fetch_log rows partitioned-by copies (p_status, p_domain). flog
    derives only from staged parquet (exres/denied): the fetch_log commit
    re-reads a few slim columns, no persist. The metrics rollup (count per
    domain×status) and the round's fetched/failed/denied counters are not
    separate jobs: each count is the row total of its partition's parquet
    footers, already scanned into the manifest, and the metrics table
    commit is a driver-side pyarrow write of O(domains×statuses) rows
    (_commit_metrics_from_flog). p_* are COPIES (hive strips partition cols
    from the physical files; readers use the manifest's explicit file list,
    which does no partition discovery)."""
    def rows(df, status, reason):
        return df.select(
            F.lit(rnd.no).alias("round"), "seq", "url_hash", "url", "host",
            F.lit(status).alias("status"), reason.alias("reason"),
            F.lit(rnd.ts).alias("ts"),
        )

    flog = (
        rows(out.ex, "fetched", F.when(F.size("ex.lacks") > 0, F.lit("data_lack")))
        .unionByName(rows(out.failed, "failed",
                          F.when(F.col("missing"), "missing").otherwise("invalid_content")))
        .unionByName(rows(out.denied, "robots_denied", F.lit("robots")))
    )
    return (
        flog
        .withColumn("p_status", F.col("status"))
        .withColumn("p_domain", F.coalesce(canon.domain_of_host(F.col("host")), F.lit("")))
    )


def commit(ctx: CrawlContext, rnd: _Round, out: _Outcomes,
           frontier_append: DataFrame, updates: DataFrame, merged: DataFrame,
           parts: list[dict], batch_rows: int):
    """Sinks and table commits (a COMMIT_WORKERS-wide pool), then the
    footer-derived metrics. Atomicity: the round record that run_round
    writes afterwards is the only commit point readers trust for resume.
    Returns (snapshot ids, round metrics)."""
    spark, cat, round_no = ctx.spark, ctx.catalog, rnd.no
    crawled = _crawled_frame(ctx, rnd, out.ex)
    # $category routing (pipeline.js:275: extracted_data['$category'] redirects
    # the HBase table). Category values are rule config, not data — derived
    # from ctx.rules with no job; rows with a declared category land in
    # crawled_{category}, everything else in the base table.
    # node rules only: branch pages never reach the crawled sink, so their
    # declared categories would only add always-empty commit jobs
    categories = sorted({
        c for r in ctx.rules if r["type"] == "node"
        for c in [(r.get("extract_rule") or {}).get("category")] if c
    })
    # try_element_at: a row without $category is NULL (→ base table) on any
    # Spark version; element_at raises on a missing key under ANSI on 3.x
    cat_col = F.try_element_at(F.col("extracted"), F.lit("$category"))
    # With categories configured, ALL crawled tables commit from ONE write:
    # the content frame is staged partitioned by routed category (no
    # reshuffle) and each table adopts its partition's files driver-side.
    cat_snaps: dict[str, int] = {}
    # footer-known emptiness (no jobs): a round with no extraction output
    # and no denials appends NOTHING to the content/log tables — skip those
    # Spark writes entirely (empty-delta snapshots via commit_files([]))
    ex_rows = cat.stage_rows(round_no, "exres")
    denied_rows = cat.stage_rows(round_no, "gated", disp="denied")
    flog_empty = ex_rows == 0 and batch_rows == 0 and denied_rows == 0

    def _commit_crawled():
        if ex_rows == 0 and ctx.pipeline_hook is None:
            files = {c: [] for c in [*categories, "__base__"]}
        elif not categories:
            return cat.commit("crawled", crawled, mode="append", round_no=round_no)
        else:
            routed = F.when(cat_col.isin(categories), cat_col).otherwise(F.lit("__base__"))
            cat.stage(spark, round_no, "crawled_out",
                      crawled.withColumn("p_cat", routed),
                      partition_by=["p_cat"], shuffle=False)
            files = {c: cat.stage_partition_files(round_no, "crawled_out", p_cat=c)
                     for c in [*categories, "__base__"]}
        for c in categories:
            cat_snaps[f"crawled_{c}"] = cat.commit_files(
                f"crawled_{c}", files[c], mode="append", round_no=round_no)
        return cat.commit_files("crawled", files["__base__"], mode="append",
                                round_no=round_no)

    flog_partitioned = _fetch_log_frame(rnd, out)
    # bloom rebuilds ONLY the buckets that gained keys — url_state may touch
    # more buckets (status-only updates) whose shards carry over untouched.
    # A rebuilt shard holds every key of its bucket: the pre-round url_state
    # keys plus the new hashes re-read from the staged updates (is_new
    # partition pruning); bloom_touched comes from the dir listing.
    touched_buckets = sorted({int(p["u_bucket"]) for p in parts})
    bloom_touched = sorted({int(p["u_bucket"]) for p in parts if int(p["is_new"]) == 1})
    shards_new = bloom.build_shards(
        rnd.url_state.where(F.col("bucket").isin(bloom_touched))
        .select("url_hash", "bucket")
        .unionByName(updates.where("is_new = 1").select(
            "url_hash", F.col("u_bucket").cast("int").alias("bucket")))
    )

    def _commit_frontier():
        # surviving (unpopped) frontier rows: ADOPT the fr2 stage's
        # popped=false partition files into the snapshot (driver-side
        # hardlink + footer scan — the extra working columns in those files
        # are invisible through the FRONTIER-schema read), then APPEND this
        # round's discoveries as the only Spark write — skipped outright
        # when the pe stage is footer-known empty (no discovery).
        snap = cat.commit_files(
            "frontier",
            cat.stage_partition_files(round_no, "fr2", popped="false"),
            round_no=round_no,
        )
        if cat.stage_rows(round_no, "pe") == 0:
            return snap
        return cat.commit(
            "frontier", frontier_append.select(*schema.FRONTIER.fieldNames()),
            mode="append", round_no=round_no,
        )

    commit_plan = {
        "frontier": _commit_frontier,
        # leftover = the gated stage's disp=left partition, adopted as-is
        # (driver-side, no job; SCHEDULED-schema read projects the extra cols)
        "scheduled": lambda: cat.commit_files(
            "scheduled", cat.stage_partition_files(round_no, "gated", disp="left"),
            round_no=round_no,
        ),
        # no touched buckets (footer-known) → carry the parent snapshot
        # forward with a driver-side empty-delta commit, no Spark job
        "url_state": lambda: (
            cat.commit_files("url_state", [], mode="append", round_no=round_no)
            if not touched_buckets else
            cat.commit(
                "url_state", merged.withColumn("pbucket", F.col("bucket")),
                mode="overwrite-partitions", round_no=round_no, partition_by=["pbucket"],
                replaced_partitions={"pbucket": touched_buckets},
                # split hot buckets across files only once buckets are big
                # enough for writer parallelism to matter — at small state
                # the extra files just cost footer scans (+1-2 s/commit)
                split_col="url_hash",
                files_per_partition=4 if rnd.state_rows > 2_000_000 else 1,
            )
        ),
        "bloom": lambda: (
            cat.commit_files("bloom", [], mode="append", round_no=round_no)
            if not bloom_touched else
            cat.commit(
                "bloom", shards_new.withColumn("pbucket", F.col("bucket")),
                mode="overwrite-partitions", round_no=round_no, partition_by=["pbucket"],
                replaced_partitions={"pbucket": bloom_touched},
            )
        ),
        "crawled": _commit_crawled,
        "fetch_log": lambda: (
            cat.commit_files("fetch_log", [], mode="append", round_no=round_no)
            if flog_empty else
            cat.commit(
                "fetch_log", flog_partitioned, mode="append", round_no=round_no,
                partition_by=["p_status", "p_domain"],
                # status×domain is ~8 values — without the salt a WAVE's
                # flog repartition collapses to 8 writer tasks at ANY core
                # count (1.8x slower at 16 cores than at 4); footer-derived
                # metrics sum rows across a partition's files. Small rounds
                # skip the salt — there the extra files are pure footer-scan
                # overhead.
                split_col="url_hash",
                files_per_partition=(
                    max(4, rnd.dpar // 4) if batch_rows > 100_000 else 1
                ),
            )
        ),
    }

    def _timed(fn):
        t0 = time.time()
        s = fn()
        return s, round(time.time() - t0, 2)

    # one width for the whole commit pool (conf is session-shared; concurrent
    # commit threads must not race it): dominated by the url_state MERGE
    # (state rows + this round's updates) and the fetch_log wave append.
    # Capped at ONE wave of cores so the pool's concurrent jobs do not queue
    # several waves of tasks at once. FLOORED at the touched-bucket count
    # (guide §2.5 — data-derived, not core-derived): the 50k-rows/task width
    # model undersizes the url_state merge, whose rows carry records/events
    # arrays — a 48k-row merge at width 1 runs ONE task writing every bucket
    # dir; at bucket width each bucket's merge+write gets its own task.
    rnd.set_width(rnd.state_rows + cat.stage_rows(round_no, "updates") + batch_rows,
                  floor=min(rnd.dpar, max(1, len(touched_buckets))), cap=rnd.dpar)
    with ThreadPoolExecutor(max_workers=COMMIT_WORKERS) as pool:
        futures = {name: pool.submit(_timed, fn) for name, fn in commit_plan.items()}
        res = {name: fut.result() for name, fut in futures.items()}
    snaps = {name: r[0] for name, r in res.items()}
    snaps.update(cat_snaps)  # category tables committed inside _commit_crawled
    # metrics = footer rollup of the fetch_log commit just made — no Spark job
    snaps["metrics"], status_counts = _commit_metrics_from_flog(cat, round_no, rnd.ts)
    return snaps, {
        "round": round_no,
        "round_ts": rnd.ts,
        "fetched": status_counts.get("fetched", 0),
        "failed": status_counts.get("failed", 0),
        "denied": status_counts.get("robots_denied", 0),
        "scheduled_backlog": rnd.backlog,
        "balance": rnd.balance,
        "commit_s": {name: r[1] for name, r in res.items()},
    }


def _mid_round_overlay(new_sched, ex, failed, denied, round_ts: int):
    """This round's schedule/crawl events as an overlay keyed by url_hash —
    the pinned 'discovery observes fetch outcomes' ordering. Round-sized
    (small), never state-sized."""
    return (
        new_sched.select("url_hash", F.lit("schedule").alias("m_status"),
                         F.lit(round_ts).alias("m_last"), F.col("version"))
        .unionByName(ex.select("url_hash", F.lit("crawled_finish").alias("m_status"),
                               F.lit(round_ts).alias("m_last"), "version"))
        .unionByName(failed.select("url_hash", F.lit("crawled_failure").alias("m_status"),
                                   F.lit(round_ts).alias("m_last"), "version"))
        .unionByName(denied.select("url_hash", F.lit("crawled_failure").alias("m_status"),
                                   F.lit(round_ts).alias("m_last"),
                                   F.lit(None).cast("long").alias("version")))
        .groupBy("url_hash")
        .agg(
            F.max_by("m_status",
                     F.when(F.col("m_status") == "schedule", 0).otherwise(1)).alias("m_status"),
            F.max("m_last").alias("m_last"),
            F.max("version").alias("m_version"),
        )
    )


def _merge_version():
    """version precedence: seed set (schedule_version) → discovery bump (only
    upward, pipeline.js:159-166) → stored/creation."""
    base = F.coalesce(F.col("u.version_set"), F.col("s.version"), F.col("u.n_version"))
    return F.when(
        F.col("u.version_cand").isNotNull()
        & (base.isNull() | (F.col("u.version_cand") > base)),
        F.col("u.version_cand"),
    ).otherwise(base)


def _commit_metrics_from_flog(cat: Catalog, round_no: int, round_ts: int
                              ) -> tuple[int, dict[str, int]]:
    """Round metrics (count per domain×status, the reference's
    count:{yyyymmdd} {metric}:{domain} counters) derived ENTIRELY from the
    fetch_log commit's manifest: the write was partitioned by (p_status,
    p_domain), so each partition's row total — already footer-scanned into
    the manifest — IS the metric value. Appends the O(domains×statuses)-row
    result via the catalog's driver-side pyarrow path: zero Spark jobs.
    Returns (metrics snapshot, per-status totals) — the totals also feed the
    round record's fetched/failed/denied counters."""
    agg: dict[tuple, int] = {}
    for f in cat.new_files("fetch_log"):
        key = (f["partition"].get("p_domain"), f["partition"].get("p_status"))
        agg[key] = agg.get(key, 0) + f["rows"]
    rows = [
        (round_no, _yyyymmdd(round_ts), d, s, n)
        for (d, s), n in sorted(agg.items(), key=lambda kv: (kv[0][0] or "", kv[0][1] or ""))
    ]
    snap = cat.commit_rows("metrics", rows, schema.METRICS, mode="append",
                           round_no=round_no)
    by_status: dict[str, int] = {}
    for (_d, s), n in agg.items():
        by_status[s] = by_status.get(s, 0) + n
    return snap, by_status


def _yyyymmdd(ts_ms: int) -> str:
    import datetime

    return datetime.datetime.fromtimestamp(
        ts_ms / 1000, tz=datetime.timezone.utc
    ).strftime("%Y%m%d")
