"""URL canonicalization / hashing — pure functions + Arrow-batched UDFs.

Reproduces, bug-for-bug, the reference's URL identity semantics:

* top-level-domain reduction: ``domain.split('.')``, >2 labels → drop ONLY the
  first label (``www.baidu.com → baidu.com`` but also ``a.b.co.uk → b.co.uk``;
  not a public-suffix algorithm) — /root/reference/scheduler/index.js:269-273,
  /root/reference/spider/extractor.js:49-54.
* id_parameter canonicalization: keep only whitelisted query params, in
  whitelist order; a leading ``'#'`` whitelist entry strips ALL params —
  /root/reference/scheduler/index.js:305-329,
  /root/reference/spider/extractor.js:121-133,
  /root/reference/spider/pipeline.js:98-116.
* URL identity = md5 hex lowercase of the canonical URL —
  /root/reference/scheduler/index.js:344.
* seed pagination macro ``prefix#suffix#min#max#step`` →
  ``prefix{x}suffix`` for x in [min, max] step —
  /root/reference/scheduler/index.js:167-178.

The vectorized entry points are JVM column expressions where Spark has the
primitives (md5 identity, hash bucket, TLD of a host) and pandas UDFs (Arrow
batches) where the rule needs urllib; the scalar pure-Python versions are
shared with the test oracle so parity is by construction on the Python side
and asserted against Spark output in tests.
"""

from __future__ import annotations

import hashlib
from urllib.parse import parse_qsl, quote, urljoin, urlsplit, urlunsplit

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# ----------------------------------------------------------------- pure python


def top_level_domain(host: str | None) -> str | None:
    """Bug-compatible TLD reduction (drop only the first label when >2)."""
    if not host:
        return None
    arr = host.split(".")
    if len(arr) <= 2:
        return host
    return ".".join(arr[1:])


def url_host(url: str) -> str | None:
    """Lowercased hostname (Node url.parse lowercases the host)."""
    try:
        h = urlsplit(url).hostname
        return h if h else None
    except ValueError:
        return None


def url_domain(url: str) -> str | None:
    return top_level_domain(url_host(url))


def _qs_stringify(pairs: list[tuple[str, str]]) -> str:
    """Node querystring.stringify: k=v joined by &, URI-component encoding."""
    return "&".join(
        f"{quote(k, safe='')}={quote(v, safe='')}" for k, v in pairs
    )


def canonicalize(url: str, id_parameter: list[str] | None) -> str:
    """Apply the id_parameter whitelist; returns the URL unchanged when the
    rule has no id_parameter (empty list counts as none, matching the
    reference's ``id_parameter.length>0`` guard)."""
    if not id_parameter:
        return url
    try:
        parts = urlsplit(url)
    except ValueError:
        return url
    params = parse_qsl(parts.query, keep_blank_values=True)
    new_pairs: list[tuple[str, str]] = []
    seen: set[str] = set()
    for x, name in enumerate(id_parameter):
        if x == 0 and name == "#":
            break  # ['#'] first ⇒ strip all params
        if name in seen:
            continue  # JS object key: duplicate whitelist names collapse
        seen.add(name)
        for k, v in params:
            if k == name:
                new_pairs.append((k, v))
    query = _qs_stringify(new_pairs)
    return urlunsplit((parts.scheme, parts.netloc, parts.path, query, parts.fragment))


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def expand_seed(seed: str) -> list[str]:
    """Seed pagination macro; non-macro seeds pass through as singletons."""
    arr = seed.split("#")
    if len(arr) >= 5:
        lo, hi, step = int(arr[2]), int(arr[3]), int(arr[4])
        return [f"{arr[0]}{x}{arr[1]}" for x in range(lo, hi + 1, step)]
    return [seed]


def resolve_link(page_url: str, link: str) -> str | None:
    """Node url.resolve equivalent for relative→absolute resolution."""
    try:
        return urljoin(page_url, link)
    except ValueError:
        return None


def wash_links(page_url: str, links: list[str | None]) -> list[str]:
    """Trim; drop #…/javascript…/void(… ; resolve; drop self-links; dedupe
    keeping first occurrence — /root/reference/spider/extractor.js:62-79."""
    out: list[str] = []
    seen: set[str] = set()
    for raw in links:
        if not raw:
            continue
        link = raw.strip()
        if link.startswith("#") or link.startswith("javascript") or link.startswith("void("):
            continue
        resolved = resolve_link(page_url, link)
        if resolved and resolved != page_url and resolved not in seen:
            seen.add(resolved)
            out.append(resolved)
    return out


# --------------------------------------------------------------- pandas UDFs
# Hot-path batch versions. URL hashing itself stays JVM-side (F.md5);
# canonicalization needs Python's urllib so it runs as an Arrow-batched pUDF
# (never a row-at-a-time Python UDF).


def canonicalize_udf(id_param_by_rule: dict[str, list[str] | None]):
    """Factory: a pUDF canonicalizing (url, rule_key) with the rule map
    captured in the closure (rules are tiny config — broadcast by value)."""

    @pandas_udf(StringType())
    def _canon(urls: pd.Series, rule_keys: pd.Series) -> pd.Series:
        return pd.Series(
            [
                canonicalize(u, id_param_by_rule.get(rk)) if isinstance(u, str) else None
                for u, rk in zip(urls, rule_keys)
            ]
        )

    return _canon


# ------------------------------------------------------------ column helpers


def with_url_identity(df, buckets: int):
    """Append url_hash (JVM md5 of `url`) + bucket columns. Bucket = first 3
    hex chars mod buckets — cheap, uniform, and computable from the hash
    alone so both sides of any state join bucket identically."""
    return df.withColumn("url_hash", F.md5(F.col("url"))).withColumn(
        "bucket", bucket_of_hash(buckets)
    )


def bucket_of_hash(buckets: int):
    return (F.conv(F.substring("url_hash", 1, 3), 16, 10).cast("int") % F.lit(buckets)).cast("int")


def domain_of_host(host):
    """top_level_domain as a JVM column expression over a host column (the
    round's metrics key {metric}:{domain}, spider_extend.js:97-169)."""
    parts = F.split(host, r"\.")
    return F.when(F.size(parts) <= 2, host).otherwise(
        F.array_join(F.slice(parts, 2, 1_000), ".")
    )
