"""Partitioned Bloom-filter seen-set shards (north_rule).

Replaces the reference's Redis url_info existence probe
(/root/reference/spider/pipeline.js:119-125 — one hgetall per discovered
link) with a two-stage membership test that scales to a 10^10-URL frontier:

  1. probe the per-bucket Bloom shard (cheap, local after a bucket-equi
     broadcast/shuffle): "definitely new" URLs skip the expensive state join
     entirely — on a converged crawl that's the vast majority of discovered
     links eliminated without touching url_state;
  2. "maybe seen" URLs (Bloom positives incl. false positives) are confirmed
     with an EXACT join against url_state — a false positive can therefore
     never drop a URL, only cost one extra lookup (SURVEY.md §4 watch-list).

Shard layout: one row per bucket `(bucket, m, k, n_items, bits binary)` in
the snapshot catalog. Bucket = same function as url_state partitioning, so
probe and state join share co-location. Sizing: DEFAULT_BITS_PER_KEY≈12 →
~1% FP. At 10^10 keys / 4096 buckets that's ~3.7 MB/shard, ~15 GB total —
held as table files, never driver-side.

Hashing: the url_hash IS md5 hex (computed once, JVM-side). Kirsch-
Mitzenmacher double hashing over its two 64-bit halves gives k independent
indices with zero extra hashing — vectorized with numpy inside applyInPandas.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BLOOM_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("m", T.LongType(), False),
        T.StructField("k", T.IntegerType(), False),
        T.StructField("n_items", T.LongType(), False),
        T.StructField("bits", T.BinaryType(), False),
    ]
)

DEFAULT_BITS_PER_KEY = 12
DEFAULT_K = 7


def _halves(url_hashes: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    h1 = np.array([int(h[:16], 16) for h in url_hashes], dtype=np.uint64)
    h2 = np.array([int(h[16:], 16) for h in url_hashes], dtype=np.uint64)
    return h1, h2


def _indices(h1: np.ndarray, h2: np.ndarray, i: int, m: int) -> np.ndarray:
    return (h1 + np.uint64(i) * h2) % np.uint64(m)


def shard_size_bits(expected_keys_per_bucket: int) -> int:
    m = max(1024, expected_keys_per_bucket * DEFAULT_BITS_PER_KEY)
    return int(m)


def update_shards(
    spark: SparkSession,
    shards: DataFrame,
    new_hashes: DataFrame,
    expected_keys_per_bucket: int = 100_000,
) -> DataFrame:
    """Merge new url_hashes into their bucket shards. Only touched buckets
    are produced — the caller commits with mode='overwrite-partitions' so
    untouched shard files carry over by reference.

    new_hashes: DataFrame(url_hash string, bucket int).
    Returns: DataFrame[BLOOM_SCHEMA] covering exactly the touched buckets.
    """
    m_default = shard_size_bits(expected_keys_per_bucket)
    joined = new_hashes.select("bucket", "url_hash").unionByName(
        shards.join(
            new_hashes.select("bucket").distinct(), "bucket", "left_semi"
        ).select("bucket", F.lit(None).cast("string").alias("url_hash"), "m", "k", "n_items", "bits"),
        allowMissingColumns=True,
    )

    def build(key: Tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(key[0])
        existing = pdf[pdf.url_hash.isna()]
        hashes = pdf.url_hash.dropna()
        if len(existing):
            m = int(existing.m.iloc[0])
            k = int(existing.k.iloc[0])
            n = int(existing.n_items.iloc[0])
            bits = np.frombuffer(existing.bits.iloc[0], dtype=np.uint8).copy()
        else:
            m, k, n = m_default, DEFAULT_K, 0
            bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        if len(hashes):
            h1, h2 = _halves(hashes)
            for i in range(k):
                idx = _indices(h1, h2, i, m)
                np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                                 (1 << (idx & np.uint64(7))).astype(np.uint8))
            n += len(hashes)
        return pd.DataFrame(
            [{"bucket": bucket, "m": m, "k": k, "n_items": n, "bits": bits.tobytes()}]
        )

    return joined.groupBy("bucket").applyInPandas(build, schema=BLOOM_SCHEMA)


def probe(candidates: DataFrame, shards: DataFrame) -> DataFrame:
    """Append `maybe_seen boolean` to candidates(url_hash, bucket, ...).

    Cogrouped-by-bucket probe: candidates and shards are grouped on the SAME
    bucket key, so each shard's bitarray crosses the JVM→Arrow→Python
    boundary exactly ONCE per bucket-group — never joined onto candidate
    rows (a bits-per-row join would ship |candidates| × shard_size bytes;
    at 10^10-frontier shard sizes that dwarfs the candidates themselves).
    Rows in buckets with no shard yet are definitely new. Bucket = the
    url_state partition function, so this shuffle is the same co-location
    the exact-confirm join uses.

    Memory: applyInPandas materializes each bucket's candidate group as one
    pandas frame in the worker, so the bucket count must be sized such that
    max per-bucket candidates fit worker memory (buckets is a config knob;
    skewed discovery bursts argue for more buckets, which also helps the
    state merge). The probe computation itself runs in bounded 64Ki-row
    chunks so its numpy temporaries (k index arrays per chunk) stay a few
    MB regardless of group size.
    """
    cols = [c for c in candidates.columns]
    out_schema = T.StructType(
        candidates.schema.fields + [T.StructField("maybe_seen", T.BooleanType(), False)]
    )
    chunk_rows = 1 << 16

    def run(cdf: pd.DataFrame, sdf: pd.DataFrame) -> pd.DataFrame:
        n = len(cdf)
        hit = np.zeros(n, dtype=bool)
        if len(sdf):
            m = int(sdf.m.iloc[0])
            k = int(sdf.k.iloc[0])
            bits = np.frombuffer(sdf.bits.iloc[0], dtype=np.uint8)
            uh = cdf.url_hash
            for lo in range(0, n, chunk_rows):
                h1, h2 = _halves(uh.iloc[lo:lo + chunk_rows])
                ch = np.ones(len(h1), dtype=bool)
                for i in range(k):
                    idx = _indices(h1, h2, i, m)
                    ch &= (
                        (bits[(idx >> np.uint64(3)).astype(np.int64)]
                         >> (idx & np.uint64(7)).astype(np.uint8)) & 1
                    ) == 1
                hit[lo:lo + len(ch)] = ch
        return cdf[cols].assign(maybe_seen=hit)

    return (
        candidates.groupBy("bucket")
        .cogroup(shards.select("bucket", "m", "k", "bits").groupBy("bucket"))
        .applyInPandas(run, schema=out_schema)
    )
