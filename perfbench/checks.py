"""Output checks. A wrong output counts as a failed operation.

Crawl: the per-(round, status) fetch_log fingerprint (rows, seq sum, first
and last url, the rule of the `crawl_round_smoke` oracle) and the url_state
row count must equal the values recorded for the seed's site variant;
url_state must hold no duplicate `url_hash`; every url_state hash must probe
positive in the Bloom shards. The cold run of the wave, which the warm run
replaces, must leave the same fetch_log entries for its round.

Analytics: each query's row count, column names and an order-insensitive
value hash must equal the recorded DuckDB-oracle fingerprint. The hash is
taken while the query runs (`DataFrame.observe`), so checking costs no
extra Spark job.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

P31 = 2147483647


# -------------------------------------------------------------------- crawl
def read_columns(cat, name: str, columns: list[str]) -> pa.Table:
    """The current snapshot of a catalog table, read with pyarrow."""
    man = cat.manifest(name)
    parts = [pq.ParquetFile(f["path"]).read(columns=columns) for f in (man or {}).get("files", [])]
    if not parts:
        return pa.table({c: [] for c in columns})
    return pa.concat_tables(parts)


def fetch_log_fingerprint(flog: pa.Table) -> dict[str, list]:
    """{"<round>|<status>": [n, seq_sum, min_url, max_url]}."""
    out = {}
    if flog.num_rows == 0:
        return out
    grouped = flog.group_by(["round", "status"]).aggregate(
        [("url", "count"), ("seq", "sum"), ("url", "min"), ("url", "max")])
    for row in grouped.to_pylist():
        out[f"{row['round']}|{row['status']}"] = [
            row["url_count"], row["seq_sum"], row["url_min"], row["url_max"]]
    return out


def round_entries(fp: dict[str, list], round_no: int) -> dict[str, list]:
    """The entries of a fetch_log fingerprint that belong to one round."""
    return {k: v for k, v in fp.items() if k.split("|", 1)[0] == str(round_no)}


def crawl_outputs(spark, cat) -> dict:
    """What the crawl left behind, in the form the checks compare."""
    from neocrawler_spark import schema
    from neocrawler_spark.operators import bloom

    flog = read_columns(cat, "fetch_log", ["round", "status", "seq", "url"])
    hashes = read_columns(cat, "url_state", ["url_hash"]).column("url_hash")
    n_state = len(hashes)
    dups = n_state - len(pc.unique(hashes))
    state = cat.read(spark, "url_state", schema.URL_STATE).select("url_hash", "bucket")
    shards = cat.read(spark, "bloom", bloom.BLOOM_SCHEMA)
    spark.sparkContext.setJobDescription("check:bloom")
    misses = bloom.probe(state, shards).where(~F.col("maybe_seen")).count()
    spark.sparkContext.setJobDescription(None)
    return {
        "fetch_log": fetch_log_fingerprint(flog),
        "url_state_rows": n_state,
        "url_state_dup_hashes": dups,
        "bloom_misses": misses,
    }


def crawl_failed_rounds(out: dict, expected: dict, n_rounds: int) -> list[int]:
    """Rounds whose output is wrong. A round fails when its fetch_log
    fingerprint differs; a wrong end state fails the last round."""
    got, want = out["fetch_log"], expected["fetch_log"]
    failed = {
        min(max(int(key.split("|", 1)[0]), 1), n_rounds)
        for key in set(got) | set(want) if got.get(key) != want.get(key)
    }
    if (out["url_state_rows"] != expected["url_state_rows"]
            or out["url_state_dup_hashes"] or out["bloom_misses"]):
        failed.add(n_rounds)
    return sorted(failed)


# ---------------------------------------------------------------- analytics
def _canonical(field: T.StructField):
    """A column as hashed: floating values as text, integral ones as whole
    numbers (the `scripts/verify_gate.py` rule), everything else as is."""
    c = F.col(f"`{field.name}`")
    if isinstance(field.dataType, (T.FloatType, T.DoubleType)):
        c = c.cast("double")
        return (F.when((c == F.floor(c)) & (F.abs(c) < 1e15), c.cast("long").cast("string"))
                .otherwise(F.format_string("%.9e", c)))
    return c


def observe_fingerprint(df: DataFrame, name: str) -> tuple[DataFrame, Observation]:
    """Attach the fingerprint aggregates to df; they are filled in when any
    action runs it."""
    fields = sorted(df.schema.fields, key=lambda f: f.name)
    cols = [_canonical(f) for f in fields]
    obs = Observation(f"fp_{name}")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(P31))).alias("h1"),
        F.sum(F.pmod(F.hash(*cols), F.lit(P31))).alias("h2"),
    )
    return observed, obs


def fingerprint(df: DataFrame, obs: Observation) -> dict:
    m = obs.get
    return {"rows": int(m["rows"]), "cols": sorted(df.columns),
            "h1": int(m["h1"] or 0), "h2": int(m["h2"] or 0)}


def query_ok(got: dict, expected: dict) -> bool:
    return all(got.get(k) == expected.get(k) for k in ("rows", "cols", "h1", "h2"))
