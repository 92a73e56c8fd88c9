"""neocrawler_spark — a PySpark-native URL-frontier / schedule / extract engine.

A from-scratch, Spark-first re-implementation of the query and data-processing
capabilities of ahkimkoo/neocrawler (reference at /root/reference, a Node.js +
Redis/SSDB crawler).  Nothing here is a port: the reference's per-URL Redis
chatter becomes columnar DataFrame jobs; its Redis seen-set becomes
per-bucket Bloom shards that tag each discovered link + an exact join against
url_state; its priority/quota loop becomes a window-function top-k; its
cheerio/regex extraction rules become vectorized pandas UDFs.

Layout:
  functions/  — scalar/batch functions (URL canon, CSS engine, extraction,
                text analysis, hashing)
  operators/  — relational operators (frontier seen-set, scheduler quota,
                fetch join, dedup, similarity)
  sources/    — table layer (partitioned parquet + atomic snapshot manifest,
                an Iceberg-shaped contract without the Iceberg jar)
  plans/      — the round job: one crawl scheduling+fetch+extract round as a
                single DataFrame job, checkpoint/resume
  streaming/  — round-loop driver (the reference's temporal behavior is
                periodic rounds, not event-time streams; see SURVEY.md §2.8)
"""

__version__ = "0.1.0"
