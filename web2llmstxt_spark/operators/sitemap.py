"""Sitemap crawl strategy (S4/S5/O4, the v1 ``crawl_from_sitemap`` path).

Reference: crawler/web_crawler.py:761-813 (strategy), :901-1079 (recursive
sitemap-index parse), :801-806 (prioritization), :1081-1191 (url-list crawl,
wc>=50, score=1.0, depth=0, source='sitemap').

Here the already-parsed ``sitemap_entries`` table (FIXTURES.md §5) replaces
live XML fetching: one row per (sitemap_url, url, is_index). Recursive index
flattening is the standard iterative driver loop (each round = one
DataFrame job; recursion depth = sitemap-index nesting, tiny).

The crawl itself is the superstep engine's depth 0: ``sitemap_seeds`` turns
the prioritized URL list into seeds and ``SitemapConfig`` holds the policy
``operators/frontier.FrontierCrawler`` reads, so the URL list is fetched,
gated, titled and ranked as any crawl's seeds are.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import BooleanType

from ..functions import kernels
from ..session import local_frame, release


@dataclass
class SitemapConfig:
    """The sitemap crawl: its one setting, and the policy values the
    superstep engine (operators/frontier.FrontierCrawler) reads.
    ``oracle.crawl_oracle.CrawlConfig`` holds the BFS values of the same
    names.

    The seeds are the prioritized sitemap URLs (``sitemap_seeds``) and the
    crawl is depth 0 only (ref crawler/web_crawler.py:1142-1153): each URL
    is fetched once, a page is kept at word_count >= 50 with score 1.0,
    depth 0 and phase 'sitemap', and no link is followed. No superstep
    runs, so the names only a superstep reads are not defined here.
    """

    max_pages: int = 50

    # --- policy (class constants, not settings) ---------------------------
    seed_score = 1.0
    seed_phase = "sitemap"
    seed_min_words = 50
    # one superstep per depth and no depth past the seeds: no superstep
    superstep_is_depth = True
    depth_limit = 0
    # max_pages bounds the URL list: every seed is an attempt against it
    budget_counts_attempts = True
    seen_on_enqueue = False  # seen: the fetched URLs
    scorer = "importance"
    seen_prefilter = False  # no superstep probes seen
    # the BFS options the sitemap crawl does not have, off
    comprehensive = enforce_robots = False
    host_caps = deny_hosts = None

    @property
    def effective_safety_limit(self) -> int:
        """The budget: the URL list's length."""
        return self.max_pages


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


def sitemap_seeds(entries: DataFrame, base_url: str, roots: list[str],
                  max_pages: int) -> list[tuple[int, str]]:
    """The sitemap crawl's seeds: at most ``max_pages`` prioritized raw
    URLs (flatten -> prioritize), numbered by position. A depth-0 page's
    rank is its seed order, so the crawl order is this order; of raw URLs
    that normalize to one URL the crawler keeps the first. Frees flatten's
    checkpoints before it returns."""
    caches: list = []
    try:
        urls = flatten_sitemap_index(entries, roots, caches=caches)
        rows = prioritize_sitemap_urls(urls, base_url, max_pages).collect()
    finally:
        release(caches)
    return [(i, r.url) for i, r in enumerate(rows)]
