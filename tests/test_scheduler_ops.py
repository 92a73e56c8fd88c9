"""Unit tests: quota carry math (python vs distributed drawdown window),
consume_quota pop semantics, per-host budget, bloom shard membership,
snapshot catalog commit modes."""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from neocrawler_spark.operators import bloom
from neocrawler_spark.operators.scheduler import consume_quota, per_host_budget
from neocrawler_spark.rules import quota_with_carry


# ------------------------------------------------------------- quota math
def test_quota_with_carry_reference_semantics():
    # scheduler/index.js:210/250-254: ct=ceil(avg*rate)+carry, carry=ct-count
    rows = [
        {"key": "a", "rate": 4.0, "available": 1},
        {"key": "b", "rate": 2.0, "available": 100},
        {"key": "c", "rate": 1.0, "available": 0},
    ]
    # balance=70, total=7 → avg=10; a: ct=40,count=1,left=39; b: ct=20+39=59,
    # count=59,left=0; c: ct=10,count=0,left=10
    cts = quota_with_carry(rows, 70, 7.0)
    assert cts == {"a": 40, "b": 59, "c": 10}


def test_quota_drawdown_window_matches_python(spark):
    """The distributed drawdown-identity realization (analytics.q_weighted_
    fair_quota) must equal the sequential reference recursion for the same
    inputs."""
    from neocrawler_spark.operators.analytics import (
        _QUOTA_BALANCE,
        q_weighted_fair_quota,
    )

    got = {
        r["o_orderpriority"]: (r["ct"], r["scheduled"])
        for r in q_weighted_fair_quota(spark, "/root/testdata/sf0.001").collect()
    }
    rates = {"1": 110.0, "2": 55.0, "3": 36.0, "4": 27.0, "5": 22.0}
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    avail = {
        r["o_orderpriority"]: r["n"]
        for r in orders.groupBy("o_orderpriority").agg(F.count("*").alias("n")).collect()
    }
    rows = [
        {"key": k, "rate": rates[k[0]], "available": v} for k, v in avail.items()
    ]
    cts = quota_with_carry(rows, _QUOTA_BALANCE, sum(rates[k[0]] for k in avail))
    for k, (ct, sched) in got.items():
        assert cts[k] == ct, k
        assert sched == min(avail[k], ct), k


# ------------------------------------------------------------- consume_quota
def test_consume_quota_pops_past_rejected(spark):
    """Rejected pops are consumed without counting (checkURL false → lpop
    continues): admit pattern [Y,N,Y,N,Y] with ct=2 → the pop loop stops
    after the 2nd admit (seq 3); the rejected seq 2 is still consumed."""
    rows = [("r", i, i % 2 == 1) for i in range(1, 6)]  # seq 1..5
    df = spark.createDataFrame(rows, "rule_key string, seq long, admit boolean")
    ct = spark.createDataFrame([("r", 2)], "rule_key string, ct long")
    out = consume_quota(df, ct, set()).orderBy("seq").collect()
    assert [r["popped"] for r in out] == [True, True, True, False, False]
    assert [r["sched"] for r in out] == [True, False, True, False, False]


def test_consume_quota_lifo(spark):
    rows = [("r", i, True) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "rule_key string, seq long, admit boolean")
    ct = spark.createDataFrame([("r", 2)], "rule_key string, ct long")
    out = consume_quota(df, ct, {"r"}).orderBy("seq").collect()
    # LIFO pops highest seq first
    assert [r["sched"] for r in out] == [False, False, False, True, True]


# ------------------------------------------------------------- host budget
def test_per_host_budget_exact_topk(spark):
    rows = [(f"u{i}", "hot.test" if i < 50 else "cold.test", i, 3) for i in range(60)]
    df = spark.createDataFrame(
        rows, "url_hash string, host string, seq long, max_fetches_per_round int"
    )
    out = per_host_budget(df, ["seq"], salts=4)
    picked = out.where("in_budget").orderBy("host", "host_rank").collect()
    hot = [r for r in picked if r["host"] == "hot.test"]
    cold = [r for r in picked if r["host"] == "cold.test"]
    assert len(hot) == 3 and len(cold) == 3
    # exact k smallest seq per host despite salting
    assert [r["seq"] for r in hot] == [0, 1, 2]
    assert [r["seq"] for r in cold] == [50, 51, 52]


# ------------------------------------------------------------- bloom
def _md5_keys(start, n):
    """(url_hash, bucket) rows shaped as the round's: md5 hex keys, bucket
    from the first 3 hex digits as canon.bucket_of_hash at 4 buckets."""
    hs = [hashlib.md5(f"http://k.test/{i}".encode()).hexdigest()
          for i in range(start, start + n)]
    return [(h, int(h[:3], 16) % 4) for h in hs]


def test_bloom_update_and_probe(spark):
    df = spark.createDataFrame(_md5_keys(0, 200), "url_hash string, bucket int")
    shards = bloom.build_shards(df).persist()
    rows = shards.collect()
    assert len(rows) == 4 and sum(r["n_items"] for r in rows) == 200
    assert all(r["m"] == bloom.shard_size_bits(r["n_items"]) for r in rows)

    # no false negatives
    probed = bloom.probe(df, shards)
    assert probed.where(~F.col("maybe_seen")).count() == 0

    # unseen keys: mostly negative (FP rate small), never errors
    other = spark.createDataFrame(_md5_keys(10_000, 500), "url_hash string, bucket int")
    fp = bloom.probe(other, shards).where("maybe_seen").count()
    assert fp < 25  # ~0.3% expected at 12 bits/key

    # a bucket rebuilt from its old keys plus new ones keeps both sets positive
    more = spark.createDataFrame(
        [r for r in _md5_keys(777, 400) if r[1] == 1][:50], "url_hash string, bucket int"
    )
    rebuilt = bloom.build_shards(df.where("bucket = 1").unionByName(more))
    merged = shards.where("bucket != 1").unionByName(rebuilt)
    assert bloom.probe(df, merged).where(~F.col("maybe_seen")).count() == 0
    assert bloom.probe(more, merged).where(~F.col("maybe_seen")).count() == 0


# ------------------------------------------------------------- catalog
def test_catalog_commit_modes(spark, catalog):
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    s1 = catalog.commit("t", df1)
    assert catalog.read(spark, "t", df1.schema).count() == 2

    s2 = catalog.commit("t", spark.createDataFrame([(3, "c")], "id long, v string"), mode="append")
    assert catalog.read(spark, "t", df1.schema).count() == 3
    assert catalog.manifest("t")["parent"] == s1

    # rollback via pointer swap
    catalog.set_current("t", s1)
    assert catalog.read(spark, "t", df1.schema).count() == 2
    catalog.set_current("t", s2)

    # overwrite-partitions: replace bucket 0 only
    part = spark.createDataFrame([(0, 10, "x"), (1, 20, "y")], "bucket int, id long, v string")
    catalog.commit("p", part.withColumn("pbucket", F.col("bucket")),
                   partition_by=["pbucket"])
    repl = spark.createDataFrame([(0, 99, "z")], "bucket int, id long, v string")
    catalog.commit("p", repl.withColumn("pbucket", F.col("bucket")),
                   mode="overwrite-partitions", partition_by=["pbucket"],
                   replaced_partitions={"pbucket": [0]})
    sch = "bucket int, id long, v string"
    from pyspark.sql.types import StructType
    rows = sorted(
        (r["bucket"], r["id"], r["v"])
        for r in catalog.read(spark, "p", part.schema).collect()
    )
    assert rows == [(0, 99, "z"), (1, 20, "y")]

    # lineage metrics recorded
    m = catalog.manifest("p")
    assert m["total_rows"] == 2 and all("rows" in f and "bytes" in f for f in m["files"])
