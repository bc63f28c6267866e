"""Sitemap crawl strategy (S4/S5/O4 + the v1 ``crawl_from_sitemap`` path).

Reference: crawler/web_crawler.py:761-813 (strategy), :901-1079 (recursive
sitemap-index parse), :801-806 (prioritization), :1081-1191 (url-list crawl,
wc>=50, score=1.0, depth=0, source='sitemap').

Here the already-parsed ``sitemap_entries`` table (FIXTURES.md §5) replaces
live XML fetching: one row per (sitemap_url, url, is_index). Recursive index
flattening is the standard iterative driver loop (each round = one
DataFrame job; recursion depth = sitemap-index nesting, tiny).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..functions import kernels, udfs
from ..session import local_frame
from . import ranking
from .frontier import TableFetcher


def flatten_sitemap_index(entries: DataFrame, root_sitemaps: list[str],
                          max_depth: int = 10, caches: list | None = None) -> DataFrame:
    """URLs reachable from root sitemaps through index edges (S5 recursion).

    Returns a DataFrame(url) of page URLs (is_index=false rows), deduped.
    Cycle-safe: visited sitemaps are excluded each round. ``caches``
    receives each round's checkpoints, for the caller to release
    (``session.release``) once the result is read.
    """
    if caches is None:
        caches = []
    spark = entries.sparkSession
    current = local_frame(spark, [(s,) for s in root_sitemaps], "sitemap_url string")
    visited = current
    urls = None
    for _ in range(max_depth):
        hit = entries.join(F.broadcast(current), "sitemap_url")
        pages = hit.filter(~F.col("is_index")).select("url")
        urls = pages if urls is None else urls.unionByName(pages)
        nxt = (
            hit.filter(F.col("is_index"))
            .select(F.col("url").alias("sitemap_url"))
            .join(visited, "sitemap_url", "left_anti")
            .distinct()
        )
        nxt = nxt.localCheckpoint(eager=True)
        caches.append(nxt)
        if nxt.isEmpty():
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=True)
        caches.append(visited)
        current = nxt
    return (urls if urls is not None else local_frame(spark, [], "url string")).distinct()


def _domain_filter_udf(valid_domains: set[str]):
    @pandas_udf(BooleanType())
    def ok(urls: pd.Series) -> pd.Series:
        return urls.map(lambda u: kernels.is_valid_domain_url(u, valid_domains))

    return ok


def prioritize_sitemap_urls(urls: DataFrame, base_url: str, max_pages: int) -> DataFrame:
    """Domain-variant filter + the (slashes, length) shallowest-first sort +
    limit (O4; ref crawler/web_crawler.py:801-806; url asc canonical
    tie-break, quirk Q1 treatment)."""
    import urllib.parse

    base_domain = urllib.parse.urlparse(base_url).netloc
    variants = kernels.get_domain_variants(base_domain)
    filtered = urls.filter(_domain_filter_udf(variants)(F.col("url")))
    return (
        filtered.withColumn("n_slash", F.size(F.split(F.col("url"), "/")) - 1)
        .withColumn("url_len", F.length("url"))
        .orderBy(F.asc("n_slash"), F.asc("url_len"), F.asc("url"))
        .limit(max_pages)
        .select("url")
    )


def crawl_from_sitemap(
    spark,
    site_pages: DataFrame,
    sitemap_entries: DataFrame,
    base_url: str,
    root_sitemaps: list[str],
    max_pages: int = 50,
    caches: list | None = None,
) -> DataFrame:
    """The full sitemap strategy: flatten -> prioritize -> fetch -> quality.

    Pages carry score=1.0, depth=0, discovery_phase='sitemap'
    (ref crawler/web_crawler.py:1142-1153). ``caches`` receives the
    checkpoints the result reads, for the caller to release once it is
    done with the pages.
    """
    urls = flatten_sitemap_index(sitemap_entries, root_sitemaps, caches=caches)
    todo = prioritize_sitemap_urls(urls, base_url, max_pages)
    # keep the RAW url for ordering: crawl order = the prioritized raw-url
    # order restricted to kept pages (the reference crawls the url list in
    # that order and appends kept results, :1142-1153); normalization may
    # change the slash/length sort keys
    todo = todo.withColumn("url_raw", F.col("url")).withColumn(
        "url", udfs.normalize_url_udf(F.col("url"))
    )
    fetched = TableFetcher(site_pages).fetch(todo)
    kept = fetched.filter(F.col("success") & (F.col("wc") >= 50))
    order = (
        F.asc(F.size(F.split(F.col("url_raw"), "/")) - 1),
        F.asc(F.length("url_raw")),
        F.asc("url_raw"),
    )
    kept = ranking.global_rank(kept, order, "rank", caches=caches)
    return kept.select(
        "url",
        udfs.extract_title_udf(F.col("title"), F.col("content"), F.col("url")).alias("title"),
        "content",
        F.col("wc").alias("word_count"),
        F.lit(1.0).alias("score"),
        F.lit(0).alias("depth"),
        F.lit("sitemap").alias("discovery_phase"),
        "rank",
    )
