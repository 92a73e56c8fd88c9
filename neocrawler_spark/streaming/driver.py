"""Round-loop driver: the Spark analog of the reference's periodic scheduler
(`setTimeout(schedule_interval)` loop, /root/reference/scheduler/index.js:152)
+ always-on spider. The reference's temporal model is wall-clock rounds, not
event-time streams (SURVEY.md §2.8), so this is a batch loop with Iceberg-
style checkpoint/resume rather than Structured Streaming.

Resume semantics: every round commits all table snapshots atomically-enough
(CURRENT pointer swaps) and then a round record pinning the snapshot ids.
`load_state` restores the last COMPLETED round's pointers, so a crash mid-
round replays that round from its inputs — deterministic because the round
clock and all ordering derive from round_no, never from now().
"""

from __future__ import annotations

import time

from ..plans.round import CrawlContext, load_state, run_round


def run_rounds(ctx: CrawlContext, n_rounds: int, verbose: bool = False) -> list[dict]:
    """Run up to n_rounds crawl rounds, resuming from the last completed one.
    Returns per-round metrics.

    Round policy `settings={"requeue_lack": True}`: after every round, pages
    whose latest fetch extracted with missing required fields (reason=
    'data_lack') are re-queued into the frontier and their state reset so the
    next round re-fetches them — the driver-loop analog of the reference's
    operator-invoked incomplete:data:url queue helper
    (/root/reference/tools/queue-helper.js:99-162). Off by default: the
    reference leaves lack pages parked until an operator intervenes."""
    state = load_state(ctx.catalog)
    out = []
    for _ in range(n_rounds):
        t0 = time.time()
        state = run_round(ctx, state)
        if ctx.settings.get("requeue_lack"):
            from ..operators.maintenance import requeue_failures

            requeue_failures(ctx.spark, ctx.catalog,
                             include_fail=False, include_lack=True)
        rec = ctx.catalog.last_completed_round()
        m = rec["metrics"]["round_metrics"]
        m["wall_s"] = time.time() - t0
        out.append(m)
        if verbose:
            print(
                f"round {m['round']}: fetched={m['fetched']} failed={m['failed']} "
                f"denied={m['denied']} wall={m['wall_s']:.2f}s"
            )
    return out
