"""The one SparkSession factory of the engine.

It sets no master unless asked: spark-submit's ``--master`` wins, and plain
Python gets PySpark's ``local[*]``. Shuffle partitions default to the
session's ``defaultParallelism``. The only confs it sets are the ones the
engine needs, each with its reason; everything else is Spark's default.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """~40% of MemTotal, capped at 48g, floored at 4g (a fixed 48g would be
    OOM-killed on smaller hosts)."""
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

    master: None keeps the launcher's (spark-submit ``--master``, else
    ``local[*]``). shuffle_partitions: None means ``defaultParallelism``.
    extra_conf overrides the confs set below.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is not None:
        builder = builder.master(master)
    builder = (
        # decode() replaces malformed byte sequences with U+FFFD instead of
        # throwing: a page whose real charset differs from the rule's
        # declared one must fail validation, not the round
        builder.config("spark.sql.legacy.codingErrorAction", "true")
        # rules may declare any JVM charset (gbk, big5, ...), not only the
        # ANSI shortlist
        .config("spark.sql.legacy.javaCharsets", "true")
        # date and timestamp functions must not depend on the host's zone
        .config("spark.sql.session.timeZone", "UTC")
        # one round generates ~300 distinct classes, and Spark's default cache
        # of 100 evicts them before the next round can reuse them
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # no web UI: no port to bind, and no listener keeping every job of
        # every round in driver memory
        .config("spark.ui.enabled", "false")
        # local mode runs driver and executors in one JVM, so this heap holds
        # every concurrent task's pages; a cluster sets executor memory instead.
        # Under spark-submit the JVM is already up: use --driver-memory.
        .config("spark.driver.memory", _default_driver_mem())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if shuffle_partitions is None:
        shuffle_partitions = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    return spark
