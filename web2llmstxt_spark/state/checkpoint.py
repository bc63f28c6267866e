"""Resumable crawl state (north rule: checkpointed frontier/seen, resume).

Layout committed by FrontierCrawler(run_dir=...):

    run_dir/
      superstep=0/ pages/ seen/ frontier/ metrics.json _COMMIT
      superstep=1/ pages/ seen/ frontier/ metrics.json _COMMIT
      ...

A durable crawl is the in-memory crawl plus a commit: after superstep N
advances its state, ``FrontierCrawler._commit`` writes the tables it holds
(N's pages, the full seen set and frontier), then metrics.json, then
``_COMMIT``. A superstep is complete once its ``_COMMIT`` exists, and only
then. metrics.json carries the counters plus per-partition lineage:
``frontier_by_bucket`` / ``pages_by_bucket`` row counts keyed by the salted
host-hash bucket that partitions the Bloom/seen state, taken from the state
checkpoint's Observation and the attempt set's stats action. A resume reads
its page total and frontier size from them instead of counting.

This is the Iceberg-snapshot pattern with plain parquet so the sandbox needs
no extra jars; swap ``_read`` and the commit's writes for Iceberg
`snapshot-id` travel on a real cluster.

``resume_crawl`` restores the latest committed snapshot and continues the
BFS from the next depth — killing the driver mid-crawl and resuming yields
the identical final result (tests/test_resume.py); an incomplete table in a
committed snapshot raises instead of resuming from partial state.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession

from .. import schemas
from ..oracle.crawl_oracle import CrawlConfig
from ..operators.frontier import FrontierCrawler


def last_complete_superstep(run_dir: str) -> int | None:
    """Highest N whose snapshot committed: its ``_COMMIT`` marker exists.

    The marker is written strictly after pages, seen, frontier and
    metrics.json (FrontierCrawler._commit), so a crash anywhere in a commit
    rolls back to the previous superstep instead of resuming from a
    half-snapshot (which silently truncated the crawl).
    """
    if not os.path.isdir(run_dir):
        return None
    committed = [
        int(name.split("=")[1])
        for name in os.listdir(run_dir)
        if name.startswith("superstep=")
        and os.path.exists(os.path.join(run_dir, name, "_COMMIT"))
    ]
    return max(committed, default=None)


def _read(spark: SparkSession, path: str, name: str):
    """One committed snapshot table, read with its known schema (no
    inference job). Raises if the table's parquet write did not complete."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        raise ValueError(f"committed snapshot table {path} is incomplete (no _SUCCESS)")
    return spark.read.schema(schemas.SNAPSHOTS[name]).parquet(path)


def load_state(spark: SparkSession, run_dir: str, superstep: int):
    """(pages of supersteps 0..N, seen and frontier after N) of a committed
    superstep N."""
    base = os.path.join(run_dir, f"superstep={superstep}")
    pages = _read(spark, os.path.join(run_dir, "superstep=0", "pages"), "pages")
    for n in range(1, superstep + 1):
        pages = pages.unionByName(
            _read(spark, os.path.join(run_dir, f"superstep={n}", "pages"), "pages")
        )
    seen = _read(spark, os.path.join(base, "seen"), "seen")
    frontier = _read(spark, os.path.join(base, "frontier"), "frontier")
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
    with open(os.path.join(run_dir, f"superstep={last}", "metrics.json")) as f:
        committed = json.load(f)
    return crawler.crawl(seeds, _resume=(last, pages, seen, frontier, committed))
