"""The benchmark's own tests that need Spark: the query fingerprint taken
while a query runs, and the seeded crawl corpus.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import pytest

from perfbench import checks, corpus


@pytest.fixture(scope="module")
def spark():
    from neocrawler_spark.session import get_spark

    return get_spark("perfbench-tests", master="local[2]", shuffle_partitions=2,
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def _fp(df, name="q"):
    observed, obs = checks.observe_fingerprint(df, name)
    observed.write.format("noop").mode("overwrite").save()
    return checks.fingerprint(df, obs)


def test_fingerprint_is_order_insensitive_and_flags_a_perturbed_value(spark):
    rows = [(1, "a", 0.5), (2, "b", 2.0), (3, None, 1 / 3)]
    schema = "id long, s string, x double"
    base = _fp(spark.createDataFrame(rows, schema))
    assert base["rows"] == 3 and base["cols"] == ["id", "s", "x"]
    assert _fp(spark.createDataFrame(rows[::-1], schema).repartition(3)) == base
    perturbed = [(1, "a", 0.5), (2, "b", 2.0), (3, None, 0.3334)]
    assert not checks.query_ok(_fp(spark.createDataFrame(perturbed, schema)), base)
    dropped = rows[:2]
    assert not checks.query_ok(_fp(spark.createDataFrame(dropped, schema)), base)


def test_seed_variant_leaves_out_some_detail_pages(spark):
    from neocrawler_spark import synth

    full = {r.url for r in synth.gen_pages_df(spark, corpus.site_params(5)).select("url").collect()}
    kept = {r.url for r in corpus.pages_df(spark, 5).select("url").collect()}
    other = {r.url for r in corpus.pages_df(spark, 5 + corpus.VARIANTS).select("url").collect()}
    dropped = full - kept
    assert kept <= full and other == kept
    assert 0 < len(dropped) < len(full) // 50
    assert all("/weixin_" in u for u in dropped)
    # another variant leaves out other pages
    assert {r.url for r in corpus.pages_df(spark, 1).select("url").collect()} != kept
