"""Fixed StructType schemas for every engine table (SURVEY.md §1).

The reference is schemaless string-valued Redis/HBase
(/root/reference/spider/spider.js:67-84 re-infers types on read); we replace
that with columnar, typed Parquet. Input table shape is fixed by
BASELINE.json input_hint: pages(url, warc_ts, html binary, text, lang).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- input corpus
# Common-Crawl-style pages; the corpus stands in for the network
# (the reference's HTTP fetch, /root/reference/spider/downloader.js:128-267,
# becomes an equi-join against this table).
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------- frontier
# Mirrors the per-rule Redis lists `urllib:driller:{domain}:{alias}`
# (/root/reference/spider/pipeline.js:195-203 push,
#  /root/reference/scheduler/index.js:219-247 pop). `seq` realizes FIFO/LIFO
# as an orderBy instead of lpop/rpop. Partitioned by bucket for 10^10 scale.
FRONTIER = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("rule_key", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
        T.StructField("discovered_ts", T.LongType(), True),  # epoch millis
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------- url_state
# Mirrors the url_info Redis hash keyed md5(url)
# (/root/reference/scheduler/index.js:457-466 shape,
#  records ring buffer capped at 3 /root/reference/scheduler/index.js:434).
# All timestamps epoch-millis (the reference stores (new Date()).getTime()).
URL_STATE = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("rule_key", T.StringType(), True),  # == trace minus 'urllib:'
        T.StructField("referer", T.StringType(), True),
        T.StructField("status", T.StringType(), True),
        # status domain: hit | schedule | crawling | crawled_finish | crawled_failure
        T.StructField("records", T.ArrayType(T.StringType()), True),
        T.StructField("last", T.LongType(), True),
        T.StructField("create", T.LongType(), True),
        T.StructField("version", T.LongType(), True),
        T.StructField("drill_relation", T.StringType(), True),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)

# ---------------------------------------------------------------- scheduled
# Mirrors `queue:scheduled:all` (/root/reference/scheduler/index.js:396-408
# push, /root/reference/spider/spider.js:185 pop). `retry` mirrors the
# spider's bounded retry (/root/reference/spider/spider.js:350-372).
SCHEDULED = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("rule_key", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("seq", T.LongType(), False),
        T.StructField("retry", T.IntegerType(), False),
        T.StructField("referer", T.StringType(), True),
        T.StructField("drill_relation", T.StringType(), True),
        T.StructField("version", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------- crawled
# Mirrors the HBase row (/root/reference/spider/pipeline.js:230-295):
# basic:* columns → scalar fields, data:{field} columns → `extracted` map,
# mapping:true subsets → `extracted_children` (own-table explode available).
CRAWLED = T.StructType(
    [
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("rule_key", T.StringType(), True),
        T.StructField("referer", T.StringType(), True),
        T.StructField("fetched_ts", T.LongType(), True),
        T.StructField("round", T.IntegerType(), True),
        # basic:content — raw page bytes, populated when the rule sets
        # save_page (pipeline.js:245-247); binary-format rules always persist
        # here (the crawled_bin binary:file variant, pipeline.js:388-434)
        T.StructField("content", T.BinaryType(), True),
        T.StructField("extracted", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField(
            "extracted_children",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("category", T.StringType(), True),
                        T.StructField("relate", T.StringType(), True),
                        T.StructField(
                            "fields", T.MapType(T.StringType(), T.StringType()), True
                        ),
                    ]
                )
            ),
            True,
        ),
        T.StructField("drill_relation", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------- fetch_log
# Mirrors the fail: zset + per-URL outcomes
# (/root/reference/spider/spider.js:367, /root/reference/spider/pipeline.js:269-279).
FETCH_LOG = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("seq", T.LongType(), True),  # total crawl order evidence
        T.StructField("url_hash", T.StringType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("host", T.StringType(), True),
        T.StructField("status", T.StringType(), False),  # fetched | failed | robots_denied
        # data_lack (fetched) | missing | invalid_content (failed) | robots (robots_denied)
        T.StructField("reason", T.StringType(), True),
        T.StructField("ts", T.LongType(), True),
    ]
)

# ---------------------------------------------------------------- metrics
# Mirrors the count:{yyyymmdd} {metric}:{domain} counters
# (/root/reference/instance/example/spider_extend.js:97-169).
METRICS = T.StructType(
    [
        T.StructField("round", T.IntegerType(), False),
        T.StructField("date", T.StringType(), False),
        T.StructField("domain", T.StringType(), True),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.LongType(), False),
    ]
)

# ---------------------------------------------------------------- robots
# north_rule addition (absent in the reference — it has no robots handling).
ROBOTS = T.StructType(
    [
        T.StructField("host", T.StringType(), False),
        T.StructField("disallow", T.ArrayType(T.StringType()), True),
        T.StructField("crawl_delay_s", T.DoubleType(), True),
        T.StructField("max_fetches_per_round", T.IntegerType(), True),
    ]
)

def local_df(spark, rows, schema):
    """Driver-built config frame as ONE slice. Plain createDataFrame
    parallelizes into defaultParallelism pickled partitions, so every
    broadcast build / consumer stage over a tiny config frame would pay a
    cores-wide task launch plus a per-partition Python round-trip (and
    coalesce(1) would serialize those round-trips instead of removing them).
    Config frames (rules, seeds, robots, empty table stubs) are bounded by
    operator config, never by corpus size, so one slice is the scale-safe
    shape too."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schema=schema
    )
