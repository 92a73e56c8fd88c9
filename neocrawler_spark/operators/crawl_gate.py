"""Driver-gate queries for the crawl-core operator family that round 1 left
`untested*`: each exercises the REAL production function (canon / extract /
scheduler / multimodal) over the driver's testdata tables, paired with an
independent DuckDB oracle expressing the same reference semantics.

Reference provenance per query is cited inline (file:line under
/root/reference/). URLs/links/payloads are synthesized deterministically from
table columns inside BOTH the Spark query and the oracle SQL, so the gate
compares the operator's semantics, not the synthesis.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..functions import multimodal
from ..functions.canon import domain_of_host, wash_links
from ..functions.extract import content_valid, regex_selector, sniff_charset
from .analytics import ROUND_TS_MS, load
from .scheduler import discovery_admit

# --------------------------------------------------------------------------
# 1. Bug-compatible top-level-domain reduction (scheduler/index.js:269-273,
# extractor.js:49-54): split('.'), >2 labels -> drop ONLY the first label.
# Spark side runs the JVM expression the round keys its metrics domain by
# (canon.domain_of_host); oracle re-states the algorithm in SQL over the same
# synthesized host shapes (1/2/3/5 labels).
_HOST_CASE = """CASE c_custkey % 4
  WHEN 0 THEN 'c' || c_custkey || '.test'
  WHEN 1 THEN 'www.c' || c_custkey || '.test'
  WHEN 2 THEN 'a.b.c' || c_custkey || '.co.uk'
  ELSE 'localhost' || c_custkey END"""


def q_tld_reduce(spark, sf_dir):
    c = load(spark, sf_dir, "customer").select("c_custkey", F.expr(_HOST_CASE).alias("host"))
    return c.select("c_custkey", "host", domain_of_host(F.col("host")).alias("domain"))


SQL_TLD_REDUCE = f"""
WITH h AS (SELECT c_custkey, {_HOST_CASE} AS host FROM customer)
SELECT c_custkey, host,
       CASE WHEN len(string_split(host, '.')) <= 2 THEN host
            ELSE array_to_string(string_split(host, '.')[2:], '.') END AS domain
FROM h
"""


# --------------------------------------------------------------------------
# 2. Link washing (extractor.js:62-79): trim; drop #…/javascript…/void(…;
# resolve relative->absolute against the page URL; drop self-links; dedupe
# keeping first occurrence. Spark side runs the production canon.wash_links
# via an Arrow pUDF over a constructed link array; the oracle states the
# expected output per synthesized link shape.
def _wash_udf():
    @pandas_udf(ArrayType(StringType()))
    def _wash(page_urls: pd.Series, link_arrays: pd.Series) -> pd.Series:
        return pd.Series(
            [wash_links(u, list(ls)) for u, ls in zip(page_urls, link_arrays)]
        )

    return _wash


def q_link_wash(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    page = F.concat(
        F.lit("http://h"), F.col("doc_id") % 7, F.lit(".test/a/page"),
        F.col("doc_id"), F.lit(".html"),
    )
    links = F.array(
        F.concat(F.lit("  /l"), F.col("doc_id") % 10, F.lit(".html  ")),  # trim+resolve
        F.lit("#frag"),                                                   # dropped
        F.lit("javascript:void(0)"),                                      # dropped
        F.lit("void(0)"),                                                 # dropped
        F.concat(F.lit("http://ext.test/e"), F.col("doc_id") % 5),        # absolute
        F.concat(F.lit("/l"), F.col("doc_id") % 10, F.lit(".html")),      # dup of 1st
        F.concat(F.lit("/a/page"), F.col("doc_id"), F.lit(".html")),      # self-link
        F.concat(F.lit("rel"), F.col("doc_id"), F.lit(".html")),          # dir-relative
    )
    return (
        d.select("doc_id", _wash_udf()(page, links).alias("washed"))
        .select("doc_id", F.posexplode("washed").alias("pos", "washed_url"))
    )


SQL_LINK_WASH = """
SELECT doc_id, pos, washed_url FROM (
  SELECT doc_id, 0 AS pos,
         'http://h' || (doc_id % 7) || '.test/l' || (doc_id % 10) || '.html' AS washed_url
  FROM documents
  UNION ALL
  SELECT doc_id, 1, 'http://ext.test/e' || (doc_id % 5) FROM documents
  UNION ALL
  SELECT doc_id, 2, 'http://h' || (doc_id % 7) || '.test/a/rel' || doc_id || '.html'
  FROM documents
)
"""


# --------------------------------------------------------------------------
# 3/4. Regex selectors, JS `new RegExp(expr,'ig')` semantics
# (extractor.js:376-390): index>0 -> that group of the FIRST match; index<0
# -> group 1 of EVERY match. Spark side runs the production
# extract.regex_selector in a pUDF; oracle uses DuckDB regexp_extract(_all).
_REGEX_PAT = "(ba[a-z]+)"


def _regex_single_udf():
    @pandas_udf(StringType())
    def _rx(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [(regex_selector(t, _REGEX_PAT, 1) or "") for t in texts]
        )

    return _rx


def _regex_all_udf():
    @pandas_udf(StringType())
    def _rx(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [",".join(regex_selector(t, _REGEX_PAT, -1)) for t in texts]
        )

    return _rx


def q_regex_extract_single(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", _regex_single_udf()(F.col("text")).alias("first_match"))


SQL_REGEX_SINGLE = f"""
SELECT doc_id, regexp_extract(text, '{_REGEX_PAT}', 1, 'i') AS first_match FROM documents
"""


def q_regex_extract_all(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", _regex_all_udf()(F.col("text")).alias("all_matches"))


SQL_REGEX_ALL = f"""
SELECT doc_id,
       coalesce(array_to_string(regexp_extract_all(text, '{_REGEX_PAT}', 1, 'i'), ','), '') AS all_matches
FROM documents
"""


# --------------------------------------------------------------------------
# 5. Content validation predicate (extractor.js:392-414): length >= 500
# (binary 20) AND every validation keyword present. Spark side runs the
# round's own validation expression (extract.content_valid): length +
# forall/contains — no Python in the hot path.
_KEYWORDS = ["table", "row"]


def q_content_validation(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    is_binary = (F.col("doc_id") % 7) == 0
    has_kw = (F.col("doc_id") % 3) == 0
    kw_arr = F.when(has_kw, F.array(*[F.lit(k) for k in _KEYWORDS])).otherwise(
        F.array().cast("array<string>")
    )
    valid = content_valid(F.col("text"), is_binary, kw_arr)
    return d.select("doc_id", valid.alias("valid"))


SQL_CONTENT_VALIDATION = f"""
SELECT doc_id,
       (length(text) >= CASE WHEN doc_id % 7 = 0 THEN 20 ELSE 500 END)
       AND (doc_id % 3 <> 0
            OR (text LIKE '%{_KEYWORDS[0]}%' AND text LIKE '%{_KEYWORDS[1]}%')) AS valid
FROM documents
"""


# --------------------------------------------------------------------------
# 6. Discovery-flavor recrawl window (pipeline.js:127-172): same CASE shape
# as the scheduler flavor but crawling/schedule -> 10 min, hit -> 2 days,
# crawled_failure bypasses. Runs the production scheduler.discovery_admit
# column expression over an events-derived url_state stand-in.
_STATUS_MAP = """CASE event_type WHEN 'click' THEN 'crawling' WHEN 'view' THEN 'schedule'
 WHEN 'purchase' THEN 'crawled_finish' WHEN 'error' THEN 'crawled_failure' ELSE 'hit' END"""


def q_recrawl_window_discovery(spark, sf_dir):
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("status", F.expr(_STATUS_MAP))
        .withColumn("last", F.unix_millis(F.col("ts").cast("timestamp")))
        .withColumn("interval_s", (F.col("user_id") % 3 + 1) * 3600)
    )
    admit = discovery_admit(ROUND_TS_MS, F.col("interval_s"))
    return ev.where(admit).groupBy("status").agg(F.count("*").alias("admitted"))


SQL_RECRAWL_DISCOVERY = f"""
WITH s AS (
  SELECT {_STATUS_MAP} AS status, epoch_ms(ts) AS last,
         (user_id % 3 + 1) * 3600 AS interval_s
  FROM events
), r AS (
  SELECT status, last,
         CASE WHEN status IN ('crawling','schedule') THEN 600000
              WHEN status = 'hit' THEN 172800000
              ELSE interval_s * 1000 END AS real_interval
  FROM s
)
SELECT status, count(*) AS admitted
FROM r
WHERE status = 'crawled_failure' OR ({ROUND_TS_MS} - last) >= real_interval
GROUP BY status
"""


# --------------------------------------------------------------------------
# 7. Multimodal metadata sniff (functions/multimodal.py — binary columns with
# typed metadata; the magic-byte map is the SURVEY's media_kind contract).
# Payload synthesized deterministically: a magic prefix chosen by doc_id + the
# utf-8 document text. Digest = md5 over the hex dump (DuckDB has no blob
# md5/sha1; hex is uppercase in both engines).
# The production sha1 column is dropped from this gate row because DuckDB has
# no sha1 function at all; the exact payload BYTES are still pinned by the
# md5-of-hex digest below, and sha1 itself (Spark built-in vs hashlib) is
# golden-verified in tests/test_multimodal.py — pytest-verified only.
_MAGIC_HEX = ["FFD8FF", "89504E47", "47494638", "52494646", "494433", "000102"]
_KINDS = ["image/jpeg", "image/png", "image/gif", "audio/wav-or-avi",
          "audio/mp3", "application/octet-stream"]


def q_media_metadata(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    magic = F.element_at(
        F.array(*[F.lit(h) for h in _MAGIC_HEX]), (F.col("doc_id") % 6 + 1).cast("int")
    )
    blob = F.concat(F.unhex(magic), F.encode("text", "utf-8"))
    d2 = d.withColumn("payload", blob)
    meta = multimodal.media_metadata(d2, "doc_id", "payload")
    digests = d2.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.md5(F.hex("payload")).alias("digest"),
    )
    return meta.drop("sha1").join(digests, "media_id")


def sql_media_metadata() -> str:
    magic_case = " ".join(
        f"WHEN {i} THEN '{h}'" for i, h in enumerate(_MAGIC_HEX)
    )
    return f"""
WITH b AS (
  SELECT doc_id,
         from_hex(CASE doc_id % 6 {magic_case} END) || encode(text) AS payload
  FROM documents
)
SELECT CAST(doc_id AS VARCHAR) AS media_id,
       CAST(octet_length(payload) AS BIGINT) AS n_bytes,
       substr(hex(payload), 1, 8) AS magic,
       CASE substr(hex(payload), 1, 6)
            WHEN 'FFD8FF' THEN 'image/jpeg'
            WHEN '494433' THEN 'audio/mp3'
            ELSE CASE substr(hex(payload), 1, 8)
                 WHEN '89504E47' THEN 'image/png'
                 WHEN '47494638' THEN 'image/gif'
                 WHEN '52494646' THEN 'audio/wav-or-avi'
                 ELSE 'application/octet-stream' END END AS media_kind,
       md5(hex(payload)) AS digest
FROM b
"""


# --------------------------------------------------------------------------
# 8. Charset sniff (functions/extract.sniff_charset — the content analog of
# the reference's response-encoding sniff, downloader.js:272-285 header
# charset regex + the meta/xml declaration fallback). Page bytes are
# synthesized deterministically: a declaration prefix chosen by doc_id + the
# (all-ASCII) document text, so the 2048-BYTE python window equals the
# 2048-CHAR SQL window. Covers: uppercase meta, http-equiv, xml encoding,
# no declaration, unknown codec -> default, declaration past the 2KB window.
_SNIFF_PREFIXES = [
    '<html><head><META CHARSET="GBK"></head>',
    '<html><head><meta http-equiv="Content-Type"'
    ' content="text/html; charset=ISO-8859-1"></head>',
    '<?xml version="1.0" encoding="Big5"?><page>',
    "<html><head><title>no decl</title></head>",
    '<html><head><meta charset="bogus-enc"></head>',
    " " * 2100 + '<meta charset="gbk">',
]
_SNIFF_KNOWN = ("gbk", "iso-8859-1", "big5")
# the production regex, restated for DuckDB (RE2): same alternation, same
# groups; both engines take the LEFTMOST match and its non-empty group
_SNIFF_PAT_SQL = (
    "<meta[^>]+charset\\s*=\\s*[\"']?\\s*([a-zA-Z0-9_\\-]+)"
    "|<\\?xml[^>]+encoding\\s*=\\s*[\"']([a-zA-Z0-9_\\-]+)"
)


def _sniff_udf():
    @pandas_udf(StringType())
    def _sn(blobs: pd.Series) -> pd.Series:
        return pd.Series([sniff_charset(bytes(b)) for b in blobs])

    return _sn


def q_charset_sniff(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    prefix = F.element_at(
        F.array(*[F.lit(p) for p in _SNIFF_PREFIXES]), (F.col("doc_id") % 6 + 1).cast("int")
    )
    page = F.encode(F.concat(prefix, F.col("text")), "utf-8")
    return d.select("doc_id", _sniff_udf()(page).alias("charset"))


def sql_charset_sniff() -> str:
    prefix_case = " ".join(
        f"WHEN {i} THEN '{p.replace(chr(39), chr(39) * 2)}'"
        for i, p in enumerate(_SNIFF_PREFIXES)
    )
    pat = _SNIFF_PAT_SQL.replace("'", "''")
    known = ", ".join(f"'{k}'" for k in _SNIFF_KNOWN)
    return f"""
WITH p AS (
  SELECT doc_id,
         substr((CASE doc_id % 6 {prefix_case} END) || text, 1, 2048) AS head
  FROM documents
), m AS (
  SELECT doc_id,
         lower(coalesce(nullif(regexp_extract(head, '{pat}', 1, 'i'), ''),
                        nullif(regexp_extract(head, '{pat}', 2, 'i'), ''))) AS tok
  FROM p
)
SELECT doc_id,
       CASE WHEN tok IN ({known}) THEN tok ELSE 'utf-8' END AS charset
FROM m
"""


QUERIES = {
    "tld_reduce": (q_tld_reduce, SQL_TLD_REDUCE),
    "link_wash": (q_link_wash, SQL_LINK_WASH),
    "regex_extract_single": (q_regex_extract_single, SQL_REGEX_SINGLE),
    "regex_extract_all": (q_regex_extract_all, SQL_REGEX_ALL),
    "content_validation": (q_content_validation, SQL_CONTENT_VALIDATION),
    "recrawl_window_discovery": (q_recrawl_window_discovery, SQL_RECRAWL_DISCOVERY),
    "media_metadata": (q_media_metadata, sql_media_metadata()),
    "charset_sniff": (q_charset_sniff, sql_charset_sniff()),
}
