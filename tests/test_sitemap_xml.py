"""Raw sitemap XML -> crawl path (S4/S5 hard path, verdict-r1 gap #3).

Synthetic XML blobs exercise: namespaced + namespace-less documents, gzip
(magic-byte sniff AND not-actually-gzipped tolerance), sitemap-index
recursion, domain filtering, malformed XML, the any-loc fallback, the 50 MB
cap, well-known-path probing and robots ``Sitemap:`` directives.
"""

import gzip

from web2llmstxt_spark.operators.sitemap import flatten_sitemap_index
from web2llmstxt_spark.operators.sitemap_xml import (
    MAX_SITEMAP_SIZE,
    auto_discover_sitemaps,
    parse_sitemap_blob,
    parse_sitemaps,
    sitemaps_from_robots,
)

BASE = "https://shop.example"
NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'

INDEX_XML = f"""<?xml version="1.0" encoding="UTF-8"?>
<sitemapindex {NS}>
  <sitemap><loc>{BASE}/sitemap-a.xml.gz</loc></sitemap>
  <sitemap><loc>{BASE}/sitemap-b.xml</loc></sitemap>
  <sitemap><loc>https://evil.example/sitemap.xml</loc></sitemap>
</sitemapindex>"""

CHILD_A = f"""<?xml version="1.0"?>
<urlset {NS}>
  <url><loc>{BASE}/products/1</loc><lastmod>2024-01-01</lastmod></url>
  <url><loc>{BASE}/products/2</loc></url>
  <url><loc>https://evil.example/x</loc></url>
</urlset>"""

# namespace-less variant (the reference's second findall branch)
CHILD_B = f"""<urlset>
  <url><loc>{BASE}/about</loc></url>
  <url><loc>{BASE}/pricing</loc></url>
</urlset>"""

# nonstandard tags -> only the any-loc fallback finds these
WEIRD = f"""<feed><entry><loc>{BASE}/weird/1</loc></entry></feed>"""


def _blobs(spark, rows):
    return spark.createDataFrame(rows, "sitemap_url string, body binary")


def test_parse_blob_kernel_variants():
    valid = {"shop.example", "www.shop.example"}
    urls, subs = parse_sitemap_blob(f"{BASE}/sitemap.xml", INDEX_XML.encode(), valid)
    assert urls == []
    assert subs == [f"{BASE}/sitemap-a.xml.gz", f"{BASE}/sitemap-b.xml"]  # evil dropped

    # gzipped child, sniffed via magic bytes even without .gz suffix
    urls, subs = parse_sitemap_blob(
        f"{BASE}/whatever.xml", gzip.compress(CHILD_A.encode()), valid
    )
    assert urls == [f"{BASE}/products/1", f"{BASE}/products/2"] and subs == []

    # .gz suffix but NOT actually gzipped -> used as-is (reference tolerance)
    urls, _ = parse_sitemap_blob(f"{BASE}/c.xml.gz", CHILD_B.encode(), valid)
    assert urls == [f"{BASE}/about", f"{BASE}/pricing"]

    # malformed XML -> empty, no raise
    assert parse_sitemap_blob(f"{BASE}/bad.xml", b"<urlset><url>", valid) == ([], [])
    # size cap
    assert parse_sitemap_blob(
        f"{BASE}/huge.xml", b"x" * (MAX_SITEMAP_SIZE + 1), valid
    ) == ([], [])
    # any-loc fallback on nonstandard structure
    urls, _ = parse_sitemap_blob(f"{BASE}/weird.xml", WEIRD.encode(), valid)
    assert urls == [f"{BASE}/weird/1"]


def test_parse_sitemaps_to_flatten_pipeline(spark):
    """Raw blobs -> mapInPandas parse -> recursive index flatten: the full S5
    path from bytes, no pre-parsed table anywhere."""
    blobs = _blobs(
        spark,
        [
            (f"{BASE}/sitemap.xml", INDEX_XML.encode()),
            (f"{BASE}/sitemap-a.xml.gz", gzip.compress(CHILD_A.encode())),
            (f"{BASE}/sitemap-b.xml", CHILD_B.encode()),
        ],
    )
    entries = parse_sitemaps(blobs, BASE)
    rows = {(r.sitemap_url, r.url, r.is_index) for r in entries.collect()}
    assert (f"{BASE}/sitemap.xml", f"{BASE}/sitemap-a.xml.gz", True) in rows
    assert (f"{BASE}/sitemap-a.xml.gz", f"{BASE}/products/1", False) in rows
    assert not any("evil" in u for _, u, _i in rows)

    urls = {r.url for r in flatten_sitemap_index(entries, [f"{BASE}/sitemap.xml"]).collect()}
    assert urls == {
        f"{BASE}/products/1",
        f"{BASE}/products/2",
        f"{BASE}/about",
        f"{BASE}/pricing",
    }


def test_pipeline_sitemap_strategy_from_raw_xml(spark, tmp_path):
    """generate_llmstxt(crawl_strategy='sitemap') end-to-end from raw XML
    blobs: auto-discovery (robots + well-known path) -> mapInPandas parse ->
    index recursion -> prioritized seeds -> crawl engine -> llms.txt — and
    the result equals the same crawl over the corpus' pre-parsed
    sitemap_entries table."""
    from web2llmstxt_spark import schemas
    from web2llmstxt_spark.operators.frontier import FrontierCrawler
    from web2llmstxt_spark.operators.sitemap import SitemapConfig, sitemap_seeds
    from web2llmstxt_spark.plans.pipeline import generate_llmstxt
    from web2llmstxt_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(seed=53, n_hosts=1, pages_per_host=30)
    base = corpus.seeds[0][1]
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()

    # render the corpus' sitemap graph as raw XML bytes (alternate gzipped)
    from web2llmstxt_spark.sources.corpus import render_sitemap_blobs

    blobs = spark.createDataFrame(
        render_sitemap_blobs(corpus), "sitemap_url string, body binary"
    )

    res = generate_llmstxt(
        spark, site, base, str(tmp_path), max_pages=10,
        crawl_strategy="sitemap", sitemap_blobs=blobs,
        robots_text=f"User-agent: *\nSitemap: {base.rstrip('/')}/sitemap.xml\n",
        collect_entries=True,
    )
    assert res["metadata"]["crawl_strategy_used"] == "sitemap"
    assert 0 < len(res["pages"]) <= 10
    assert all(p["discovery_phase"] == "sitemap" for p in res["pages"])

    # equivalence with the pre-parsed-table path (same urls, same order)
    entries_tbl = spark.createDataFrame(
        corpus.sitemap_entries,
        "sitemap_url string, parent_sitemap string, url string, is_index boolean",
    )
    seeds = sitemap_seeds(entries_tbl, base, [f"{base.rstrip('/')}/sitemap.xml"], 10)
    crawler = FrontierCrawler(spark, site, SitemapConfig(max_pages=10))
    direct, _seen = crawler.crawl(seeds)
    try:
        assert [p["url"] for p in res["pages"]] == [
            r.url for r in direct.orderBy("rank").collect()]
    finally:
        crawler.release()
        site.unpersist()


def test_pipeline_sitemap_one_page_per_normalized_url(spark, tmp_path):
    """A sitemap that lists one page as /a, /a/ and /a?utm_source=x gives
    one page and one llms.txt bullet: the crawl's identity is the
    normalized URL (P1). The page takes the place of its first raw URL in
    the prioritized order."""
    import re
    import urllib.parse
    from xml.sax.saxutils import escape

    from web2llmstxt_spark import schemas
    from web2llmstxt_spark.functions.kernels import normalize_url
    from web2llmstxt_spark.operators.sitemap import prioritize_sitemap_urls
    from web2llmstxt_spark.plans.pipeline import generate_llmstxt
    from web2llmstxt_spark.session import local_frame
    from web2llmstxt_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(seed=53, n_hosts=1, pages_per_host=12)
    base = corpus.seeds[0][1]
    site = local_frame(spark, corpus.site_pages_rows(), schemas.SITE_PAGES).cache()

    def variants(url):
        parts = urllib.parse.urlsplit(url)
        slash = parts._replace(path=parts.path.rstrip("/") + "/")
        query = "&".join(q for q in (parts.query, "utm_source=x") if q)
        return [url, urllib.parse.urlunsplit(slash),
                urllib.parse.urlunsplit(parts._replace(query=query))]

    listed = [v for _sm, _p, url, is_index in corpus.sitemap_entries
              if not is_index for v in variants(url)]
    root = f"{base}sitemap.xml"
    body = "<urlset>" + "".join(f"<url><loc>{escape(u)}</loc></url>" for u in listed)
    blobs = local_frame(spark, [(root, (body + "</urlset>").encode())],
                        "sitemap_url string, body binary")
    # a budget past the list: no variant is cut by the limit
    res = generate_llmstxt(
        spark, site, base, str(tmp_path), max_pages=len(listed) + 1,
        crawl_strategy="sitemap", sitemap_blobs=blobs, root_sitemaps=[root],
        collect_entries=True, generated_at="2024-01-01T00:00:00",
    )
    try:
        got = [p["url"] for p in res["pages"]]
        raw = [r.url for r in prioritize_sitemap_urls(
            local_frame(spark, [(u,) for u in listed], "url string"), base,
            len(listed)).collect()]
    finally:
        site.unpersist()
    first = list(dict.fromkeys(normalize_url(u) for u in raw))
    assert len(got) > 3 and len(got) == len(set(got)), got
    # each page sits where its first raw URL sits in the prioritized order
    assert got == [u for u in first if u in set(got)]
    txt = open(next(p for p in res["paths"] if p.endswith("-llms.txt"))).read()
    bullets = re.findall(r"^- \[.*\]\((.*?)\): ", txt, re.M)
    assert sorted(bullets) == sorted(got)


def test_auto_discovery(spark):
    robots = (
        "User-agent: *\nDisallow: /admin\n"
        f"Sitemap: {BASE}/from-robots.xml\n"
        "sitemap: https://evil.example/s.xml\n"  # wrong domain -> dropped
        f"SITEMAP: {BASE}/sitemap.xml\n"  # duplicate of probe hit -> deduped
    )
    blobs = _blobs(
        spark,
        [
            (f"{BASE}/sitemap.xml", INDEX_XML.encode()),
            (f"{BASE}/wp-sitemap.xml", CHILD_B.encode()),
            (f"{BASE}/unrelated.xml", CHILD_B.encode()),  # not a known path
        ],
    )
    found = auto_discover_sitemaps(blobs, BASE, robots_text=robots)
    # probe hits in well-known-path order, then robots discoveries
    assert found == [
        f"{BASE}/sitemap.xml",
        f"{BASE}/wp-sitemap.xml",
        f"{BASE}/from-robots.xml",
    ]
    valid = {"shop.example"}
    assert sitemaps_from_robots("Sitemap: relative/path.xml", valid) == []


def test_cli_crawl_all_strategies(tmp_path):
    """python -m web2llmstxt_spark.cli crawl works for every strategy
    (the reference's run.py surface)."""
    import json
    import os
    import subprocess
    import sys

    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    for strategy in ("systematic", "bestfirst", "sitemap"):
        out = subprocess.run(
            [sys.executable, "-m", "web2llmstxt_spark.cli", "crawl",
             "--seed", "https://ex0.example/", "--max-pages", "6",
             "--strategy", strategy, "--cores", "4",
             "--out", str(tmp_path / strategy)],
            capture_output=True, text=True, timeout=900,
            cwd=repo_root,
        )
        assert out.returncode == 0, (strategy, out.stderr[-2000:])
        res = json.loads(out.stdout.strip().splitlines()[-1])
        assert res["strategy"] == strategy and res["pages"] > 0, res
        assert res["paths"] and all("llms" in p for p in res["paths"])
