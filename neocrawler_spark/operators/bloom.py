"""Partitioned Bloom-filter seen-set shards (north_rule).

Replaces the reference's Redis url_info existence probe
(/root/reference/spider/pipeline.js:119-125 — one hgetall per discovered
link) with a per-bucket Bloom filter over url_state's keys. The round's
discovery probe (`probe`) tags every candidate link with `maybe_seen`; `pe`
then left-joins url_state for every candidate and trusts a state row only
where `maybe_seen` holds. A filter has no false negatives, so its
false-positive rate moves no output. The filter does not yet prune the
state join (ROADMAP item 2).

Shard layout: one row per bucket `(bucket, m, k, n_items, bits binary)` in
the snapshot catalog. Bucket = same function as url_state partitioning, so
probe and state join share co-location. Each commit rebuilds the shards of
the buckets that gained keys from every key the bucket holds
(`build_shards`) at 12 bits per key with k = 7 hashes: a fill of ~0.44 and
an estimated false-positive rate of ~0.3%, whatever the bucket's size. At
10^10 keys / 4096 buckets that's ~3.7 MB/shard, ~15 GB total — held as
table files, never driver-side.

Hashing: the url_hash IS md5 hex (computed once, JVM-side). Kirsch-
Mitzenmacher double hashing over its two 64-bit halves gives k independent
indices with zero extra hashing — vectorized with numpy inside applyInPandas.
"""

from __future__ import annotations

from typing import Any, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
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

BITS_PER_KEY = 12
K = 7


def _halves(url_hashes: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    h1 = np.array([int(h[:16], 16) for h in url_hashes], dtype=np.uint64)
    h2 = np.array([int(h[16:], 16) for h in url_hashes], dtype=np.uint64)
    return h1, h2


def _indices(h1: np.ndarray, h2: np.ndarray, i: int, m: int) -> np.ndarray:
    return (h1 + np.uint64(i) * h2) % np.uint64(m)


def shard_size_bits(n_keys: int) -> int:
    return max(1024, BITS_PER_KEY * n_keys)


def build_shards(keys: DataFrame) -> DataFrame:
    """Build one shard per bucket of keys(url_hash string, bucket int) from
    exactly that bucket's keys: m = shard_size_bits(n), k = K, n_items = n.
    The caller passes every key each bucket holds, and commits
    with mode='overwrite-partitions' so the shards of other buckets carry
    over by reference. A bucket's keys are one pandas frame in the worker,
    the same bound as `probe`'s candidate groups.

    Returns: DataFrame[BLOOM_SCHEMA] covering exactly the buckets in keys.
    """

    def build(key: Tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        m = shard_size_bits(n)
        bits = np.zeros((m + 7) // 8, dtype=np.uint8)
        h1, h2 = _halves(pdf.url_hash)
        for i in range(K):
            idx = _indices(h1, h2, i, m)
            np.bitwise_or.at(bits, (idx >> np.uint64(3)).astype(np.int64),
                             (1 << (idx & np.uint64(7))).astype(np.uint8))
        return pd.DataFrame([{"bucket": int(key[0]), "m": m, "k": K,
                              "n_items": n, "bits": bits.tobytes()}])

    return (keys.select("bucket", "url_hash").groupBy("bucket")
            .applyInPandas(build, schema=BLOOM_SCHEMA))


def probe(candidates: DataFrame, shards: DataFrame) -> DataFrame:
    """Append `maybe_seen boolean` to candidates(url_hash, bucket, ...).

    Cogrouped-by-bucket probe: candidates and shards are grouped on the SAME
    bucket key, so each shard's bitarray crosses the JVM→Arrow→Python
    boundary exactly ONCE per bucket-group — never joined onto candidate
    rows (a bits-per-row join would ship |candidates| × shard_size bytes;
    at 10^10-frontier shard sizes that dwarfs the candidates themselves).
    Rows in buckets with no shard yet hold no seen key, so they probe
    negative. A positive is only "maybe seen": the round's `pe` stage
    left-joins url_state for every candidate and keeps the state row where
    maybe_seen holds. Bucket = the url_state partition function, so this
    shuffle is the same co-location that join uses.

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
