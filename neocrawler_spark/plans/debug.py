"""Single-URL debug path — the reference's only reproducible "query"
(`node run.js -a test -l URL`, SURVEY.md §3.3): one URL in → one JSON
document out (debug-page.html + debug-result.json,
/root/reference/spider/pipeline.js:518-544). Anchors the byte-identical
extracted-text invariant for ad-hoc inspection."""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import functions as F

from ..functions.extract import process_document, validate_content
from ..rules import arrange_links, detect_link


def test_url(ctx, url: str, out_dir: str | Path | None = None) -> dict:
    """wrapLink (spider.js:317-345): detect the rule (active filter bypassed
    in the reference's test mode — we only carry active rules, documented
    divergence), fetch the page from the corpus, run validation + extraction,
    return the debug document. Optionally writes debug-page.html +
    debug-result.json like the reference's test sink."""
    rule = detect_link(url, ctx.by_domain)
    if rule is None:
        return {"url": url, "error": "no rule matches"}
    row = ctx.pages.where(F.col("url") == url).select("html").limit(1).collect()
    if not row:
        return {"url": url, "rule": rule["key"], "error": "not in corpus (fetch failure)"}
    html = bytes(row[0]["html"]).decode(rule.get("encoding") or "utf-8", errors="replace")
    valid = validate_content(200, html, rule["format"] == "binary",
                             rule.get("validation_keywords"))
    res = process_document(url, html, rule, "*", ctx.settings.get("keep_link_relation", True))
    doc = {
        "url": url,
        "rule": rule["key"],
        "valid": valid,
        "drill_link": arrange_links(res["links"], ctx.by_domain),
        "extracted_data": res["extracted"],
        "extracted_children": res["children"],
        "drill_relation": res["drill_relation"],
        "lacks": res["lacks"],
    }
    if out_dir is not None:
        out = Path(out_dir)
        out.mkdir(parents=True, exist_ok=True)
        (out / "debug-page.html").write_text(html)
        (out / "debug-result.json").write_text(
            json.dumps(doc, ensure_ascii=False, indent=2)
        )
    return doc
