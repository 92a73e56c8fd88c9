"""Rule-driven field/link extraction — the reference's extractor middleware
re-expressed as a vectorized pandas UDF over html/text columns.

Semantics replicated from /root/reference/spider/extractor.js:

* regex selector (:376-390): JS ``new RegExp(expr,'ig')`` → ``re.I``;
  index==0 → 1; index>0 → group(index) of the FIRST match; index<0 → group 1
  of EVERY match (a list).
* css selector (:316-340): falsy index → 1; 1-based element index; index==-1
  → pick from every match, single-element result collapsed to scalar (:333).
* picks (:347-367): ``@attr`` → attribute, text/innertext → cheerio .text(),
  html/innerhtml → inner HTML; truthy results ``.trim()``-ed (:365).
* extract_data rule tree (:215-294): ``$category``, ``relate`` back-reference
  into the parent's data, ``value`` mode = literal, ``xpath``/``json`` modes
  are declared-but-no-op in the reference (:231-237) and therefore here too,
  ``subset`` recursion over each matched element, ``require`` with any-of
  sub-lists (:267-292, checksublack :296-306).
* storage encoding (/root/reference/spider/pipeline.js:253-258): object
  values JSON-stringified, scalars stored raw, undefined skipped.
* link extraction (:32-41): per drill_rule selector, <img> → @src else @href.
* validation (:392-414): status 200 ∧ len ≥ 500 (binary 20) ∧ all
  validation_keywords present; status > 300 invalid.

The per-document evaluator is pure Python (shared with the test oracle); the
Spark entry point `extract_udf` maps it over Arrow batches.
"""

from __future__ import annotations

import json
import re
from typing import Any

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from . import css
from .canon import url_host, wash_links

# --------------------------------------------------------------- selectors


def regex_selector(content: str, expression: str, index: Any) -> str | list[str] | None:
    try:
        idx = int(index)
    except (TypeError, ValueError):
        idx = 1
    if idx == 0:
        idx = 1
    try:
        patt = re.compile(expression, re.I)
    except re.error:
        return None
    if idx > 0:
        m = patt.search(content)
        # JS matched.length>index ⇔ group `index` exists
        if m and len(m.groups()) >= idx:
            return m.group(idx)
        return None
    return [m.group(1) for m in patt.finditer(content) if m.groups()]


def _pick(node: css.Node | None, pick: str, source: str) -> str | None:
    if pick.startswith("@"):
        result = node.attr(pick[1:]) if node is not None else None
    else:
        p = pick.lower()
        if p in ("text", "innertext"):
            result = node.text() if node is not None else ""
        elif p in ("html", "innerhtml"):
            result = node.inner_html(source) if node is not None else ""
        else:
            result = None
    if result:
        result = result.strip()
    return result


def css_selector(
    root: css.Node, expression: str, pick: str | None, index: Any, source: str
):
    """Returns: node list when pick is falsy (subset mode); else a picked
    string, a list of picked strings (index==-1, >1 match), or None/''."""
    try:
        idx = int(index) if index else 1
    except (TypeError, ValueError):
        idx = 1
    nodes = css.select(root, expression)
    if not pick:
        return nodes
    real_index = idx - 1
    if real_index >= 0:
        node = nodes[real_index] if real_index < len(nodes) else None
        return _pick(node, pick, source)
    arr = [_pick(n, pick, source) for n in nodes]
    if len(arr) == 1:
        return arr[0]
    return arr


def _truthy_nonempty(v: Any) -> bool:
    """JS `tmp_result && !isEmpty(tmp_result)` for strings/lists."""
    if v is None or v == "" or v == []:
        return False
    return True


# ------------------------------------------------------------ rule tree


def extract_data(
    url: str,
    content: str,
    extract_rule: dict,
    upper_data: dict | None,
    dom: css.Node | None,
    lacks_out: list[str] | None = None,
) -> dict:
    """Evaluate an extract_rule tree against one document. Mirrors
    extractor.js:215-294; `lacks_out` collects missing required fields
    (the reference logs them to incomplete:data:url but still persists)."""
    data: dict[str, Any] = {}
    if extract_rule.get("category"):
        data["$category"] = extract_rule["category"]
    if extract_rule.get("relate"):
        data["relate"] = (upper_data or {}).get(extract_rule["relate"])
    root = dom if dom is not None else css.parse_html(content)
    for field, rule in (extract_rule.get("rule") or {}).items():
        mode = rule.get("mode")
        baser = url if rule.get("base") == "url" else content
        if mode == "regex":
            data[field] = regex_selector(baser, rule.get("expression", ""), rule.get("index", 1))
        elif mode == "value":
            data[field] = rule.get("expression")
        elif mode in ("xpath", "json"):
            pass  # declared but no-op in the reference (extractor.js:231-237)
        else:  # css (default)
            if rule.get("subset"):
                sub_nodes = css_selector(root, rule.get("expression", ""), None, rule.get("index", 1), content)
                result_arr = [
                    extract_data(url, content, rule["subset"], data, sub, lacks_out)
                    for sub in sub_nodes
                ]
                if result_arr:
                    data[field] = result_arr
            else:
                tmp = css_selector(root, rule.get("expression", ""), rule.get("pick", "text"), rule.get("index", 1), content)
                if _truthy_nonempty(tmp):
                    data[field] = tmp
    # require validation (any-of for nested lists)
    for key in extract_rule.get("require") or []:
        if isinstance(key, (list, tuple)):
            sub = [k for k in key if not data.get(k)]
            if len(sub) == len(key) and lacks_out is not None:
                lacks_out.extend(sub)
        elif not data.get(key) and lacks_out is not None:
            lacks_out.append(key)
    return data


def encode_extracted(data: dict) -> dict[str, str]:
    """Storage encoding per pipeline.js:253-258: objects JSON-stringified
    (compact, non-ASCII preserved like JS), scalars raw, None skipped,
    $category kept (it routes the HBase table in the reference)."""
    out = {}
    for k, v in data.items():
        if v is None:
            continue
        if isinstance(v, (list, dict)):
            out[k] = json.dumps(v, ensure_ascii=False, separators=(",", ":"))
        else:
            out[k] = str(v)
    return out


# ------------------------------------------------------------ link drill


def extract_links(root: css.Node, drill_rules: list[str]) -> list[str | None]:
    """extractor.js:32-41 — per selector, <img> yields @src else @href."""
    links: list[str | None] = []
    for sel in drill_rules:
        for node in css.select(root, sel):
            links.append(node.attr("src") if node.tag == "img" else node.attr("href"))
    return links


def drill_relation_value(
    root: css.Node, url: str, content: str, rule: dict | None, origin_relation: str | None
) -> str:
    """extractor.js:151-173 — '%s->%s' lineage chain."""
    origin = origin_relation or "*"
    new_rel: Any = "*"
    if rule:
        if rule.get("mode") == "regex":
            base = url if rule.get("base") == "url" else content
            new_rel = regex_selector(base, rule.get("expression", ""), rule.get("index", 1))
        else:
            new_rel = css_selector(root, rule.get("expression", ""), rule.get("pick", "text"), rule.get("index", 1), content)
    return f"{origin}->{new_rel}"


# ------------------------------------------------------------ validation


def validate_content(
    status_code: int, content: str, is_binary: bool, validation_keywords: list[str] | None
) -> bool:
    """extractor.js:392-414."""
    if status_code == 200:
        limit = 20 if is_binary else 500
        if len(content) < limit:
            return False
        for kw in validation_keywords or []:
            if kw not in content:
                return False
        return True
    return not status_code > 300  # 30x/40x/50x invalid; <=300 passes


def content_valid(content: Column, is_binary: Column, keywords: Column) -> Column:
    """validate_content's status-200 branch as one JVM column expression —
    the check the round applies to every fetched page, with no Python in the
    hot path. A NULL is_binary counts as html, a NULL keyword array as no
    keywords."""
    return (
        (F.length(content) >= F.when(is_binary, F.lit(20)).otherwise(F.lit(500)))
        & F.forall(F.coalesce(keywords, F.array().cast("array<string>")),
                   lambda k: content.contains(k))
    )


# ------------------------------------------------------------ document eval


def process_document(
    url: str,
    html_text: str,
    rule: dict,
    origin_relation: str | None,
    keep_link_relation: bool = True,
) -> dict:
    """Full extractor pass for one fetched document under its driller rule:
    drill links (raw — washing needs the page URL, arranging needs the whole
    rule set, both done by the caller), extracted fields, lineage, lacks."""
    root = css.parse_html(html_text)
    raw_links: list[str | None] = []
    if rule.get("drill_rules"):
        raw_links = extract_links(root, rule["drill_rules"])
    washed = wash_links(url, raw_links)
    lacks: list[str] = []
    extract_rule = rule.get("extract_rule") or {}
    data = (
        extract_data(url, html_text, extract_rule, None, root, lacks)
        if extract_rule.get("rule")
        else {}
    )
    relation = None
    if keep_link_relation and rule.get("drill_rules"):
        relation = drill_relation_value(
            root, url, html_text, rule.get("drill_relation_rule"), origin_relation
        )
    return {
        "links": washed,
        "extracted": encode_extracted(data),
        "children": [
            {"category": c.get("$category"), "relate": c.get("relate"),
             "fields": encode_extracted(c)}
            for v in data.values() if isinstance(v, list)
            for c in v if isinstance(c, dict)
        ],
        "drill_relation": relation,
        "lacks": lacks,
    }


# ------------------------------------------------------------ charset sniff

_CHARSET_RE = re.compile(
    rb"""<meta[^>]+charset\s*=\s*["']?\s*([a-zA-Z0-9_\-]+)"""
    rb"""|<\?xml[^>]+encoding\s*=\s*["']([a-zA-Z0-9_\-]+)""",
    re.I,
)


def sniff_charset(head: bytes, default: str = "utf-8") -> str:
    """Charset sniff for pages whose rule declares no encoding — the content
    analog of the reference's response sniff (downloader.js:213-233 reads
    charset from the Content-Type header / meta tag before iconv-decoding,
    :272-285). Our corpus-as-network has no headers, so only the meta/xml
    declaration in the first 2KB is consulted; unknown/missing -> default."""
    import codecs

    m = _CHARSET_RE.search(head[:2048])
    if not m:
        return default
    enc = (m.group(1) or m.group(2)).decode("ascii", "ignore").lower()
    try:
        # NOT b"".decode(enc): CPython short-circuits decoding empty bytes
        # and never validates the codec name (r3 gate caught a bogus
        # declared charset passing through)
        codecs.lookup(enc)
    except (LookupError, ValueError):
        return default
    return enc


# ------------------------------------------------------------ Spark UDF

_RESULT_SCHEMA = (
    "arranged array<struct<lib:string, link:string, host:string>>, "
    "extracted map<string,string>, "
    "children array<struct<category:string, relate:string, fields:map<string,string>>>, "
    "drill_relation string, lacks array<string>"
)


def extract_udf(
    rules_by_key: dict[str, dict],
    by_domain: dict[str, dict[str, dict]],
    keep_link_relation: bool = True,
):
    """Factory for the extraction pandas UDF. The rule config (rule_key →
    rule, domain → alias → rule) is tiny and captured in the closure —
    Spark ships it to executors once per task, the Spark-side analog of the
    reference's driller_rules reload (spider.js:87-129).

    Output `arranged` is the washed+arranged link set: (target urllib key,
    canonical URL, its host) triples, page-order, deduped per lib
    (extractor.js:111-143).
    """
    from ..rules import arrange_links

    @F.pandas_udf(_RESULT_SCHEMA)
    def _extract(urls: pd.Series, htmls: pd.Series, rule_keys: pd.Series,
                 origin_relations: pd.Series) -> pd.DataFrame:
        rows = []
        for url, html, rk, orel in zip(urls, htmls, rule_keys, origin_relations):
            rule = rules_by_key.get(rk)
            if rule is None or html is None:
                rows.append({"arranged": [], "extracted": {}, "children": [],
                             "drill_relation": None, "lacks": []})
                continue
            if isinstance(html, (bytes, bytearray)):
                raw = bytes(html)
                # rule encoding wins (spider.js applies the rule's `encoding`);
                # no declared encoding -> sniff (downloader.js:213-233 analog)
                enc = rule.get("encoding") or sniff_charset(raw)
                html = raw.decode(enc, errors="replace")
            res = process_document(url, html, rule, orel, keep_link_relation)
            arranged = [
                {"lib": lib, "link": link, "host": url_host(link)}
                for lib, links in arrange_links(res["links"], by_domain).items()
                for link in links
            ]
            rows.append({"arranged": arranged, "extracted": res["extracted"],
                         "children": res["children"],
                         "drill_relation": res["drill_relation"],
                         "lacks": res["lacks"]})
        return pd.DataFrame(rows)

    return _extract
