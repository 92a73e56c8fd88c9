"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for the 100TB/1000-executor target and merely *tested* on
local[N]: AQE on (runtime re-plan, skew-join splitting), Arrow on (every pUDF
crosses the JVM/Python boundary in columnar batches), shuffle partitions
scaled with parallelism instead of the static 200.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """local[N] shares one JVM between driver and executors, so size the heap
    from the machine: ~40% of MemTotal, capped at 48g, floored at 4g (r1
    ADVICE: a hard 48g default OOM-kills smaller hosts). Override with
    SPARK_DRIVER_MEM."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal"))
        gb = max(4, min(48, int(kb * 0.4 / 1024 / 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 8
    return f"{gb}g"


def get_spark(
    app_name: str = "neocrawler_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    shuffle_partitions defaults to the core count — at cluster scale the
    caller passes ~2-3x total cores instead.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] → N; a real cluster sets this to 2-3x total cores.
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else ""
        shuffle_partitions = cpus if n in ("*", "") else int(n)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Default (parallelism-first) AQE coalescing: measured on the scaling
        # corpus, size-first coalescing (advisory 16m) collapses the ~25MB
        # frontier-wave shuffles to 1-2 reduce tasks REGARDLESS of core count
        # — the data rounds stop scaling with cores (eff 0.29 → 0.34 just by
        # reverting). Tiny stages still coalesce to 1 task via minPartitionSize.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # 64m scan splits: a multi-GB corpus yields ≈2×cores splits, which is
        # the pUDF's parallelism on large fetch waves (round.py avoids a
        # repartition there to keep html out of the shuffle)
        .config("spark.sql.files.maxPartitionBytes", "64m")
        # decode() replaces malformed byte sequences with U+FFFD instead of
        # throwing (pre-ANSI semantics) — pages whose real charset differs
        # from the rule's declared one must fail VALIDATION, not the job
        .config("spark.sql.legacy.codingErrorAction", "true")
        # rules may declare any JVM charset (gbk/big5/...), not just the
        # ANSI-approved shortlist
        .config("spark.sql.legacy.javaCharsets", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # frontier/url_state joins at 10^10 rows benefit from runtime bloom
        # filters on the non-broadcast side (Spark 3.3+)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # BypassMergeSortShuffleWriter's NIO transferTo mmaps/unmaps every
        # partition segment; at 32 concurrent writers on a VM the munmap TLB
        # shootdowns (IPIs hitting every vCPU) serialize the whole machine —
        # measured 60-70s of "CPU" per trivial shuffle task, only at high
        # core counts. Stream copy avoids mmap entirely.
        .config("spark.file.transferTo", "false")
        # the round's stage/commit writes are hive-partitioned on LOW-
        # cardinality cols (popped/disp/status×domain/bucket): concurrent
        # writers skip FileFormatWriter's sort-by-partition-cols pass
        # (falls back to sorting only past this many open writers per task)
        .config("spark.sql.maxConcurrentOutputFileWriters", "32")
        # committer v2 renames task output directly at task commit instead
        # of a sequential driver-side merge at job commit — the per-write
        # fixed cost of partitioned commits is driver floor at any core
        # count. Partial-failure debris is not a correctness risk here: the
        # snapshot manifest (CURRENT pointer) is the only commit point.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # local[N] = driver and executors share ONE JVM: size the heap for N
        # concurrent tasks holding page payloads (the sandbox has 128 GiB; a
        # small heap turns the round into a GC/eviction thrash that *inverts*
        # core scaling). A real cluster sets executor memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
