"""Resumable crawl state (north rule: checkpointed frontier/seen, resume).

Layout written by FrontierCrawler(run_dir=...):

    run_dir/
      superstep=0/ pages/ seen/ frontier/ metrics.json
      superstep=1/ pages/ seen/ frontier/ metrics.json
      ...

Each metrics.json carries the superstep's counters plus per-partition
lineage: ``frontier_by_bucket`` / ``pages_by_bucket`` row counts keyed by
the salted host-hash bucket id that partitions the Bloom/seen state.

Each ``superstep=N`` directory is a consistent snapshot AFTER superstep N
(parquet `_SUCCESS` markers make partial writes detectable). This is the
Iceberg-snapshot pattern with plain parquet so the sandbox needs no extra
jars; swap ``_read``/``_write`` for Iceberg `snapshot-id` travel on a real
cluster.

``resume_crawl`` restores the latest complete snapshot and continues the BFS
from the next depth — killing the driver mid-crawl and resuming yields the
identical final result (tests/test_resume.py).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from .. import schemas
from ..oracle.crawl_oracle import CrawlConfig
from ..operators.frontier import FrontierCrawler


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def last_complete_superstep(run_dir: str) -> int | None:
    """Highest N whose snapshot committed.

    A superstep counts as complete ONLY once its ``_COMMIT`` marker exists —
    written strictly after pages, seen, frontier and metrics (see
    FrontierCrawler._commit_superstep). A crash between the seen and frontier
    writes therefore rolls back to the previous superstep instead of
    resuming from a half-snapshot (which silently truncated the crawl).
    Legacy fallback (pre-marker run dirs): all three state tables _SUCCESS.
    """
    best = None
    if not os.path.isdir(run_dir):
        return None
    for name in os.listdir(run_dir):
        if not name.startswith("superstep="):
            continue
        n = int(name.split("=")[1])
        base = os.path.join(run_dir, name)
        committed = os.path.exists(os.path.join(base, "_COMMIT")) or all(
            _complete(os.path.join(base, t)) for t in ["pages", "seen", "frontier"]
        )
        if committed and (best is None or n > best):
            best = n
    return best


def _read(spark: SparkSession, path: str, name: str):
    """One snapshot table, read with its known schema (no inference job)."""
    return spark.read.schema(schemas.SNAPSHOTS[name]).parquet(path)


def load_state(spark: SparkSession, run_dir: str, superstep: int):
    base = os.path.join(run_dir, f"superstep={superstep}")
    pages_parts = []
    for n in range(superstep + 1):
        p = os.path.join(run_dir, f"superstep={n}", "pages")
        if _complete(p):
            pages_parts.append(_read(spark, p, "pages"))
    pages = pages_parts[0]
    for df in pages_parts[1:]:
        pages = pages.unionByName(df)
    seen = _read(spark, os.path.join(base, "seen"), "seen")
    fr_path = os.path.join(base, "frontier")
    frontier = _read(spark, fr_path, "frontier") if _complete(fr_path) else None
    return pages, seen, frontier


def resume_crawl(
    spark: SparkSession,
    site_pages,
    cfg: CrawlConfig,
    run_dir: str,
    seeds: list[tuple[int, str]],
    **crawler_kwargs,
):
    """Continue (or start) a checkpointed crawl. Returns (pages, seen)."""
    last = last_complete_superstep(run_dir)
    crawler = FrontierCrawler(spark, site_pages, cfg, run_dir=run_dir, **crawler_kwargs)
    if last is None:
        return crawler.crawl(seeds)
    pages, seen, frontier = load_state(spark, run_dir, last)
    return crawler.crawl(seeds, _resume=(last, pages, seen, frontier))
