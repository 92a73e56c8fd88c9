"""Deterministic synthetic web fixtures (FIXTURES.md): a site graph rendered
into the input_hint `pages` table shape, plus matching driller rules, seeds
and robots budgets. Seed-free arithmetic generation (no RNG, no now()) so the
same params always produce byte-identical corpora, at test scale (10^2 pages)
or bench scale (10^6+ pages) — generation itself is distributed (spark.range
→ arrow pUDF), never a driver-side loop.

Site shape mirrors the reference's home/category/list/detail hierarchy
(/root/reference/README.md:258-259 and the rule examples :272-553):

  home      http://www1.site{d}.test/
  category  http://www1.site{d}.test/fenlei_{c}.html
  list      http://www1.site{d}.test/t_{c}_{p}.html
  detail    http://www1.site{d}.test/weixin_{id}.html?id={id}   (canonical)
            linked from list pages as ...?id={id}&from=rss      (dirty)

Skew knob: domain 0 is "hot" — its lists carry hot_k details per page so it
holds roughly half the corpus (exercises salt-and-repartition + AQE skew).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema

BASE_TS_MS = 1767225600000  # 2026-01-01T00:00:00Z, fixed epoch for determinism

PAD = (
    "<!-- 这是用于满足正文长度校验的确定性填充文本 deterministic padding for the "
    "content-length validation gate of five hundred bytes minimum; "
    "0123456789 abcdefghijklmnopqrstuvwxyz -->"
)


def site_params(
    n_domains: int = 3,
    cats: int = 2,
    lists_per_cat: int = 2,
    details_per_list: int = 3,
    hot_details_per_list: int | None = None,
    seed_all_lists: bool = False,
    save_pages: bool = True,
) -> dict:
    hot = hot_details_per_list if hot_details_per_list is not None else details_per_list * 4
    return {
        "n_domains": n_domains,
        "cats": cats,
        "lists_per_cat": lists_per_cat,
        "details_per_list": details_per_list,
        "hot_details_per_list": hot,
        "k_max": max(details_per_list, hot),
        "save_pages": save_pages,
        # seed every list page via pagination macros (one macro per
        # domain×cat): collapses the crawl's discovery waves into one big
        # detail wave — the steady-state shape used for scaling runs
        "seed_all_lists": seed_all_lists,
    }


def _detail_id(d: int, c: int, p: int, k: int, params: dict) -> int:
    return ((d * params["cats"] + c) * params["lists_per_cat"] + p) * params["k_max"] + k


def host_of(d: int) -> str:
    return f"www1.site{d}.test"


def domain_of(d: int) -> str:
    return f"site{d}.test"  # == bug-compatible TLD of host_of(d)


# ------------------------------------------------------------- HTML templates


def render_home(d: int, params: dict) -> tuple[str, str]:
    links = "".join(
        f'<li class="cat"><a href="/fenlei_{c}.html">Category {c}</a></li>'
        for c in range(params["cats"])
    )
    title = f"Site {d} home"
    html = (
        f"<html><head><title>{title}</title></head><body>"
        f'<div class="sub_box_t"><ul>{links}</ul></div>'
        f'<a href="#top">top</a><a href="javascript:void(0)">js</a>'
        f'<a href="http://unmatched.example.org/x">ext</a>'
        f"{PAD}{PAD}{PAD}</body></html>"
    )
    return html, title


def render_category(d: int, c: int, params: dict) -> tuple[str, str]:
    links = "".join(
        f'<a href="/t_{c}_{p}.html">list {p}</a>' for p in range(params["lists_per_cat"])
    )
    title = f"Site {d} category {c}"
    html = (
        f"<html><head><title>{title}</title></head><body>"
        f'<div class="catlinks">{links}</div>'
        f'<a href="/fenlei_{c}.html">self</a>'
        f"{PAD}{PAD}{PAD}</body></html>"
    )
    return html, title


def render_list(d: int, c: int, p: int, params: dict) -> tuple[str, str]:
    k_n = params["hot_details_per_list"] if d == 0 else params["details_per_list"]
    items = "".join(
        f'<a href="/weixin_{_detail_id(d, c, p, k, params)}.html'
        f'?id={_detail_id(d, c, p, k, params)}&from=rss">acct {k}</a>'
        for k in range(k_n)
    )
    nxt = (
        f'<a href="/t_{c}_{p + 1}.html">next</a>'
        if p + 1 < params["lists_per_cat"]
        else ""
    )
    title = f"Site {d} list {c}-{p}"
    html = (
        f"<html><head><title>{title}</title></head><body>"
        f'<div class="list">{items}{nxt}</div>'
        f"{PAD}{PAD}{PAD}</body></html>"
    )
    return html, title


def render_detail(d: int, i: int) -> tuple[str, str]:
    """Returns (html, golden_text) — golden_text is the byte-exact expected
    cheerio-.text() of '#bodyContent' (the invariant column)."""
    body_text = f"Profile of account {i} on site {d}. 公众号 wx_{i} 的主页。"
    related = "".join(
        f'<div class="item"><span class="name">rel_{i}_{x}</span>'
        f'<span class="score">{(i + x) % 97}</span></div>'
        for x in range(3)
    )
    title = f"Account wx_{i} - Site {d}"
    html = (
        f"<html><head><title>{title}</title></head><body>"
        f'<div class="crumb"><a href="/">Home</a></div>'
        f'<div class="_title"><strong>account_{i}</strong></div>'
        f'<div id="bodyContent">{body_text}</div>'
        f"<table><tr><td>微信号：wx_{i}</td></tr>"
        f"<tr><td>功能介绍：intro_{i}</td></tr></table>"
        f'<div class="avatar"><img src="/img/{i}.jpg"/></div>'
        f'<div class="related">{related}</div>'
        f"{PAD}{PAD}{PAD}</body></html>"
    )
    return html, body_text


# ------------------------------------------------------------- page generation


def gen_pages_df(spark: SparkSession, params: dict) -> DataFrame:
    """Distributed corpus generation: one spark.range per tier, rendered by an
    Arrow-batched mapInPandas (never a driver loop — bench scale is 10^6+)."""
    D, C, P = params["n_domains"], params["cats"], params["lists_per_cat"]
    Kmax = params["k_max"]

    homes = spark.range(D).select(
        F.lit("home").alias("tier"), F.col("id").alias("d"),
        F.lit(0).alias("c"), F.lit(0).alias("p"), F.lit(0).alias("k"),
    )
    cats = spark.range(D * C).select(
        F.lit("category").alias("tier"), (F.col("id") / C).cast("long").alias("d"),
        (F.col("id") % C).alias("c"), F.lit(0).alias("p"), F.lit(0).alias("k"),
    )
    lists_ = spark.range(D * C * P).select(
        F.lit("list").alias("tier"),
        (F.col("id") / (C * P)).cast("long").alias("d"),
        ((F.col("id") / P).cast("long") % C).alias("c"),
        (F.col("id") % P).alias("p"), F.lit(0).alias("k"),
    )
    details = (
        spark.range(D * C * P * Kmax)
        .select(
            F.lit("detail").alias("tier"),
            (F.col("id") / (C * P * Kmax)).cast("long").alias("d"),
            ((F.col("id") / (P * Kmax)).cast("long") % C).alias("c"),
            ((F.col("id") / Kmax).cast("long") % P).alias("p"),
            (F.col("id") % Kmax).alias("k"),
        )
        # non-hot domains only have details_per_list details per list page
        .where(
            (F.col("d") == 0) | (F.col("k") < F.lit(params["details_per_list"]))
        )
    )
    skeleton = homes.unionByName(cats).unionByName(lists_).unionByName(details)

    p = dict(params)  # plain dict for the closure

    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            det = pdf[pdf.tier == "detail"]
            rest = pdf[pdf.tier != "detail"]
            frames = []
            if len(det):
                d = det.d.astype(int)
                ids = pd.Series(
                    ((d * p["cats"] + det.c.astype(int)) * p["lists_per_cat"]
                     + det.p.astype(int)) * p["k_max"] + det.k.astype(int),
                    index=det.index)
                ds, istr = d.astype(str), ids.astype(str)
                host = "www1.site" + ds + ".test"
                url = "http://" + host + "/weixin_" + istr + ".html?id=" + istr
                body = "Profile of account " + istr + " on site " + ds + ". 公众号 wx_" + istr + " 的主页。"
                related = ""
                for x in range(3):
                    related = (related
                               + '<div class="item"><span class="name">rel_' + istr
                               + "_" + str(x) + '</span><span class="score">'
                               + ((ids + x) % 97).astype(str) + "</span></div>")
                title = "Account wx_" + istr + " - Site " + ds
                html = ("<html><head><title>" + title + "</title></head><body>"
                        + '<div class="crumb"><a href="/">Home</a></div>'
                        + '<div class="_title"><strong>account_' + istr + "</strong></div>"
                        + '<div id="bodyContent">' + body + "</div>"
                        + "<table><tr><td>微信号：wx_" + istr + "</td></tr>"
                        + "<tr><td>功能介绍：intro_" + istr + "</td></tr></table>"
                        + '<div class="avatar"><img src="/img/' + istr + '.jpg"/></div>'
                        + '<div class="related">' + related + "</div>"
                        + PAD + PAD + PAD + "</body></html>")
                frames.append(pd.DataFrame({
                    "url": url,
                    "warc_ts": pd.to_datetime(
                        BASE_TS_MS + url.map(hash_free_offset) % 86_400_000, unit="ms"),
                    "html": html.map(lambda h: h.encode("utf-8")),
                    "text": body,
                    "lang": "zh",
                }))
            if len(rest):
                rows = []
                for tier, d, c, pp, k in zip(rest.tier, rest.d, rest.c, rest.p, rest.k):
                    d, c, pp, k = int(d), int(c), int(pp), int(k)
                    host = host_of(d)
                    if tier == "home":
                        url = f"http://{host}/"
                        html, text = render_home(d, p)
                    elif tier == "category":
                        url = f"http://{host}/fenlei_{c}.html"
                        html, text = render_category(d, c, p)
                    else:
                        url = f"http://{host}/t_{c}_{pp}.html"
                        html, text = render_list(d, c, pp, p)
                    ts_ms = BASE_TS_MS + (hash_free_offset(url) % 86_400_000)
                    rows.append({
                        "url": url,
                        "warc_ts": pd.Timestamp(ts_ms, unit="ms"),
                        "html": html.encode("utf-8"),
                        "text": text,
                        "lang": "en",
                    })
                frames.append(pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"]))
            out = pd.concat(frames, ignore_index=True) if frames else pd.DataFrame(
                columns=["url", "warc_ts", "html", "text", "lang"])
            yield out

    return skeleton.mapInPandas(render, schema=schema.PAGES)


def hash_free_offset(s: str) -> int:
    """Deterministic small offset without Python's randomized hash()."""
    h = 0
    for ch in s:
        h = (h * 131 + ord(ch)) % 1_000_003
    return h


# ----------------------------------------------------- clustered embeddings
def gen_clustered_embeddings_df(spark: SparkSession, n_vecs: int = 2000,
                                dim: int = 64, n_clusters: int = 32,
                                noise: float = 0.05) -> DataFrame:
    """Mixture-of-centroids embeddings fixture (r4 VERDICT #6): the driver's
    synthetic embeddings are isotropic gaussians, on which ANY IVF index
    degenerates to recall ≈ probed-mass fraction (nprobe/K) — the property a
    100-TB ANN user buys (recall ≥ 0.9 at nprobe/K ≪ 1) is only measurable
    on CLUSTERED data, which is what real text embeddings are.

    Deterministic and seed-free (synth.py convention): every value is an
    md5-derived uniform in [-1, 1), computed JVM-side per row —
      centroid[c][d] = u('c', c, d)           (cluster spread ~ unit cube)
      vec[i][d]      = centroid[i % C][d] + noise * u('v', i, d)
    With dim=64 the expected inter-centroid L2 is ~6.5 vs a noise-ball radius
    of ~0.23 at noise=0.05 — well-separated tight clusters, the FAISS-IVF
    textbook regime. Schema matches the driver's embeddings.parquet exactly
    (vec_id bigint, embedding array<float>, label int); label = true cluster.
    """
    u = ("(cast(conv(substring(md5(concat('{p}', cast({x} as string), '-', d)),"
         " 1, 8), 16, 10) as bigint) / 2147483647.5 - 1.0)")
    cent = u.format(p="c-", x=f"vec_id % {n_clusters}")
    nz = u.format(p="v-", x="vec_id")
    return spark.range(n_vecs).select(
        F.col("id").alias("vec_id"),
        F.expr(f"cast(transform(sequence(1, {dim}), d -> {cent} + {noise} * {nz})"
               " as array<float>)").alias("embedding"),
        (F.col("id") % n_clusters).cast("int").alias("label"),
    )


# ------------------------------------------------------------------ rules


def gen_rules(params: dict) -> list[dict]:
    """Driller rules mirroring the reference's schema (README.md:164-209):
    4 tiers/domain; detail rules carry id_parameter + extract_rule with a
    nested subset + relate + any-of require (doc/extract_rule.txt:31-68);
    domain 1's list rule is LIFO; one inactive rule; domain 0 seeds include a
    pagination macro (scheduler/index.js:167-178)."""
    rules: list[dict] = []
    for d in range(params["n_domains"]):
        dom, host = domain_of(d), host_of(d)
        seeds = [f"http://{host}/"]
        if params.get("seed_all_lists"):
            for c in range(params["cats"]):
                seeds.append(
                    f"http://{host}/t_{c}_#.html#0#{params['lists_per_cat'] - 1}#1"
                )
        elif d == 0:
            # macro: prefix#suffix#min#max#step over list pages of category 0
            seeds.append(
                f"http://{host}/t_0_#.html#0#{params['lists_per_cat'] - 1}#1"
            )
        rules.append(
            {
                "domain": dom, "alias": "home",
                "url_pattern": f"^http://{host}/$".replace(".", r"\."),
                "type": "branch", "format": "html", "save_page": False,
                "priority": 1, "weight": 10, "schedule_interval": 3600,
                "active": True, "seed": seeds, "schedule_rule": "FIFO",
                "drill_rules": [".cat a"],
                "extract_rule": {"category": "home", "rule": {}},
            }
        )
        rules.append(
            {
                "domain": dom, "alias": "category",
                "url_pattern": r"fenlei_[0-9]+\.html",
                "type": "branch", "format": "html",
                "priority": 2, "weight": 5, "schedule_interval": 3600,
                "active": True, "seed": [], "schedule_rule": "FIFO",
                "drill_rules": [".catlinks a"],
                "extract_rule": {"category": "category", "rule": {}},
            }
        )
        rules.append(
            {
                "domain": dom, "alias": "list",
                "url_pattern": r"t_[0-9]+_[0-9]+\.html",
                "type": "branch", "format": "html",
                "priority": 2, "weight": 8, "schedule_interval": 1800,
                "active": True, "seed": [],
                "schedule_rule": "LIFO" if d == 1 else "FIFO",
                "drill_rules": [".list a"],
                "extract_rule": {"category": "list", "rule": {}},
            }
        )
        rules.append(
            {
                "domain": dom, "alias": "detail",
                "url_pattern": r"weixin_[0-9]+\.html",
                "type": "node", "format": "html",
                # save_page stores raw bytes in the content sink; the scaling
                # bench turns it off (params["save_pages"]=False) so the
                # measured wave is schedule+extract, not an 8GB byte copy
                "save_page": params.get("save_pages", True),
                "priority": 3, "weight": 100, "schedule_interval": 86400,
                "active": True, "seed": [], "schedule_rule": "FIFO",
                "id_parameter": ["id"],
                "validation_keywords": ["微信号"],
                "drill_rules": [],
                "extract_rule": {
                    "category": "weixin",
                    "rule": {
                        "title": {"mode": "css", "expression": "title", "pick": "text", "index": 1},
                        "account": {"mode": "css", "expression": "._title > strong", "pick": "text", "index": 1},
                        "body": {"mode": "css", "expression": "#bodyContent", "pick": "text", "index": 1},
                        "weixin_no": {"mode": "regex", "expression": ">微信号：(wx_[0-9]+)</td>", "index": 1},
                        "avatar": {"mode": "css", "expression": ".avatar > img", "pick": "@src", "index": 1},
                        "page_id": {"mode": "regex", "base": "url", "expression": "id=([0-9]+)", "index": 1},
                        "origin": {"mode": "value", "expression": "synthetic"},
                        "related": {
                            "mode": "css", "expression": ".related .item", "index": 1,
                            "subset": {
                                "category": "related",
                                "relate": "account",
                                "rule": {
                                    "name": {"mode": "css", "expression": ".name", "pick": "text", "index": 1},
                                    "score": {"mode": "css", "expression": ".score", "pick": "text", "index": 1},
                                },
                            },
                        },
                    },
                    "require": ["title", ["weixin_no", "account"]],
                },
            }
        )
    rules.append(
        {
            "domain": "inactive.test", "alias": "noop", "url_pattern": "noop",
            "type": "branch", "priority": 1, "weight": 0,
            "schedule_interval": 60, "active": False, "seed": [],
        }
    )
    return rules


def gen_robots_rows(params: dict) -> list[dict]:
    """Politeness budgets (north_rule addition). Host 1 gets a disallow prefix
    + tight budget; the hot domain gets a budget that forces multi-round
    draining; others default-open."""
    rows = []
    for d in range(params["n_domains"]):
        if d == 1:
            rows.append(
                {"host": host_of(d), "disallow": ["/fenlei_1"],
                 "crawl_delay_s": 0.5, "max_fetches_per_round": 50}
            )
        else:
            rows.append(
                {"host": host_of(d), "disallow": [],
                 "crawl_delay_s": 0.0, "max_fetches_per_round": 1 << 30}
            )
    return rows


def gen_robots_df(spark: SparkSession, params: dict) -> DataFrame:
    # one-slice config frame: this df is broadcast every round (schema.local_df)
    return schema.local_df(spark, gen_robots_rows(params), schema.ROBOTS)
