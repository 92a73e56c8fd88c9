"""Seeded crawl inputs: the synthetic site of `neocrawler_spark.synth`,
rendered by the engine's own generator (`synth.gen_pages_df`) and written
once to parquet.

The seed picks one of `VARIANTS` site shapes. A variant changes two things:
which detail pages are missing from the corpus (their fetches fail and are
retried in later rounds) and a small jitter in the hot domain's size.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from neocrawler_spark import synth

VARIANTS = 8

# every list page is seeded, so round 1 fetches homes + lists, round 2 is one
# detail wave, and later rounds fetch only retries and the robots-capped
# backlog of domain 1
SITE = dict(n_domains=4, cats=2, lists_per_cat=8, details_per_list=60,
            hot_details_per_list=300, seed_all_lists=True)
HOT_JITTER = 2  # hot details per list grow by this per variant step (<1.5% of the wave)
MISSING_MOD = 101  # about 1% of detail pages are missing


def variant(seed: int) -> int:
    return seed % VARIANTS


def site_params(seed: int) -> dict:
    v = variant(seed)
    site = dict(SITE, hot_details_per_list=SITE["hot_details_per_list"] + HOT_JITTER * (v % 4))
    return synth.site_params(**site)


def is_missing(seed: int) -> Column:
    """True for the detail pages the seed's variant leaves out of the corpus,
    picked by a hash of the detail id in the page's url."""
    detail_id = F.regexp_extract("url", r"/weixin_(\d+)\.html", 1).try_cast("long")
    hit = F.pmod(detail_id * 2654435761 + variant(seed) * 40503, MISSING_MOD) == 0
    return F.coalesce(hit, F.lit(False))  # pages other than details have no id


def pages_df(spark, seed: int):
    """The seed's pages table: the engine's generator minus the missing pages."""
    return synth.gen_pages_df(spark, site_params(seed)).where(~is_missing(seed))


def write_pages(spark, seed: int, path: str) -> None:
    pages_df(spark, seed).write.mode("overwrite").parquet(path)
