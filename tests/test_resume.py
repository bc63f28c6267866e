"""Kill-and-resume: a crawl resumed from any superstep snapshot must produce
the identical final pages (order included) and URL-seen set (north rule)."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from web2llmstxt_spark import schemas
from web2llmstxt_spark.operators import bloom
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig
from web2llmstxt_spark.operators.frontier import FrontierCrawler
from web2llmstxt_spark.sources.corpus import generate_corpus
from web2llmstxt_spark.state import checkpoint


def run_full(spark, corpus, cfg, run_dir):
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES)
    crawler = FrontierCrawler(spark, site, cfg, run_dir=run_dir)
    seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    pages, seen = crawler.crawl(seeds)
    return (
        [tuple(r) for r in pages.select("rank", "url", "depth", "score").orderBy("rank").collect()],
        {r.url for r in seen.collect()},
        site,
        seeds,
    )


def resume_from_each_superstep(spark, tmp_path, corpus, cfg):
    """Crash the durable crawl right after each committed superstep in turn
    and resume it: every resume equals the uninterrupted crawl. Returns the
    last committed superstep."""
    run_dir = str(tmp_path / "full")
    full_pages, full_seen, site, seeds = run_full(spark, corpus, cfg, run_dir)
    last = checkpoint.last_complete_superstep(run_dir)
    assert last is not None

    for cut in range(0, last + 1):
        # simulate a crash right after superstep `cut`: copy the prefix of
        # the snapshot history into a fresh run_dir and resume there
        resume_dir = str(tmp_path / f"resume_{cut}")
        os.makedirs(resume_dir)
        for n in range(cut + 1):
            src = os.path.join(run_dir, f"superstep={n}")
            shutil.copytree(src, os.path.join(resume_dir, f"superstep={n}"))
        pages, seen = checkpoint.resume_crawl(spark, site, cfg, resume_dir, seeds)
        got_pages = [tuple(r) for r in pages.select("rank", "url", "depth", "score").orderBy("rank").collect()]
        got_seen = {r.url for r in seen.collect()}
        assert got_pages == full_pages, f"resume from {cut}: pages mismatch"
        assert got_seen == full_seen, f"resume from {cut}: seen mismatch"
    return last


def test_resume_from_each_superstep(spark, tmp_path):
    corpus = generate_corpus(seed=37, n_hosts=1, pages_per_host=30)
    assert resume_from_each_superstep(spark, tmp_path, corpus, CrawlConfig(max_pages=8)) >= 1


def test_resume_when_seeds_spend_the_budget(spark, tmp_path):
    """Three kept seeds against a budget of two: no superstep runs, so
    depth 0 checkpoints no state and commits its lazy seen and frontier
    as an exiting superstep does; the resume from it equals the crawl."""
    corpus = generate_corpus(seed=37, n_hosts=3, pages_per_host=10)
    cfg = CrawlConfig(max_pages=1, safety_limit=2)
    assert resume_from_each_superstep(spark, tmp_path, corpus, cfg) == 0
    # the commit observed the lazy frontier it wrote
    base = str(tmp_path / "full" / "superstep=0")
    with open(os.path.join(base, "metrics.json")) as f:
        by_bucket = json.load(f)["frontier_by_bucket"]
    assert sum(by_bucket.values()) == spark.read.parquet(os.path.join(base, "frontier")).count() > 0


def test_partial_snapshot_detected(spark, tmp_path):
    corpus = generate_corpus(seed=37, n_hosts=1, pages_per_host=20)
    cfg = CrawlConfig(max_pages=5)
    run_dir = str(tmp_path / "p")
    run_full(spark, corpus, cfg, run_dir)
    last = checkpoint.last_complete_superstep(run_dir)
    assert last >= 1
    # crash after `seen` write: _COMMIT (written last) and everything after
    # the crash point are absent — the snapshot must roll back a superstep
    os.remove(os.path.join(run_dir, f"superstep={last}", "_COMMIT"))
    os.remove(os.path.join(run_dir, f"superstep={last}", "seen", "_SUCCESS"))
    assert checkpoint.last_complete_superstep(run_dir) == last - 1
    # one commit rule: all three tables carrying _SUCCESS does not make a
    # superstep complete — the crash hit before metrics.json and _COMMIT
    open(os.path.join(run_dir, f"superstep={last}", "seen", "_SUCCESS"), "w").close()
    os.remove(os.path.join(run_dir, f"superstep={last}", "metrics.json"))
    assert checkpoint.last_complete_superstep(run_dir) == last - 1


def test_crash_between_seen_and_frontier_rolls_back(spark, tmp_path):
    """The round-1 advice scenario: driver dies after pages+seen but before
    frontier. Pre-marker logic deemed the snapshot complete and resume
    silently returned a truncated crawl; the _COMMIT marker must reject it
    and resume must still reproduce the full result."""
    corpus = generate_corpus(seed=37, n_hosts=1, pages_per_host=30)
    cfg = CrawlConfig(max_pages=8)
    run_dir = str(tmp_path / "full")
    full_pages, full_seen, site, seeds = run_full(spark, corpus, cfg, run_dir)
    last = checkpoint.last_complete_superstep(run_dir)
    assert last >= 1

    crash_dir = str(tmp_path / "crash")
    os.makedirs(crash_dir)
    for n in range(last + 1):
        shutil.copytree(
            os.path.join(run_dir, f"superstep={n}"),
            os.path.join(crash_dir, f"superstep={n}"),
        )
    # superstep `last` crashed mid-write: frontier + metrics + _COMMIT missing
    shutil.rmtree(os.path.join(crash_dir, f"superstep={last}", "frontier"))
    os.remove(os.path.join(crash_dir, f"superstep={last}", "_COMMIT"))
    assert checkpoint.last_complete_superstep(crash_dir) == last - 1

    pages, seen = checkpoint.resume_crawl(spark, site, cfg, crash_dir, seeds)
    got_pages = [tuple(r) for r in pages.select("rank", "url", "depth", "score").orderBy("rank").collect()]
    got_seen = {r.url for r in seen.collect()}
    assert got_pages == full_pages
    assert got_seen == full_seen


def test_incomplete_committed_table_raises(spark, tmp_path):
    """A committed superstep whose table lacks _SUCCESS must fail the
    resume loudly: skipping a pages part (or reading a half-written seen or
    frontier) used to return a truncated crawl with no error."""
    corpus = generate_corpus(seed=37, n_hosts=1, pages_per_host=30)
    cfg = CrawlConfig(max_pages=8)
    run_dir = str(tmp_path / "full")
    _, _, site, seeds = run_full(spark, corpus, cfg, run_dir)
    last = checkpoint.last_complete_superstep(run_dir)
    assert last >= 1
    # pages of an earlier superstep are read too; seen/frontier of the last
    for table, n in (("pages", 1), ("seen", last), ("frontier", last)):
        broken = str(tmp_path / f"no_{table}")
        shutil.copytree(run_dir, broken)
        os.remove(os.path.join(broken, f"superstep={n}", table, "_SUCCESS"))
        with pytest.raises(ValueError, match="incomplete"):
            checkpoint.resume_crawl(spark, site, cfg, broken, seeds)


def test_snapshot_metrics_carry_partition_lineage(spark, tmp_path):
    """Every committed superstep's metrics.json records per-partition
    (host-hash bucket) frontier and page counts whose totals equal the
    snapshotted state tables (north rule: per-partition lineage + metrics)."""
    corpus = generate_corpus(seed=41, n_hosts=2, pages_per_host=20)
    cfg = CrawlConfig(max_pages=6)
    run_dir = str(tmp_path / "lineage")
    run_full(spark, corpus, cfg, run_dir)
    last = checkpoint.last_complete_superstep(run_dir)
    assert last is not None and last >= 1

    for n in range(last + 1):
        base = os.path.join(run_dir, f"superstep={n}")
        with open(os.path.join(base, "metrics.json")) as f:
            m = json.load(f)
        fr = spark.read.parquet(os.path.join(base, "frontier"))
        pg = spark.read.parquet(os.path.join(base, "pages"))
        assert sum(m["frontier_by_bucket"].values()) == fr.count()
        assert sum(m["pages_by_bucket"].values()) == pg.count()
        # exact per bucket: the salted host-hash bucket of the Bloom/seen
        # state (default num_buckets=32), empty buckets left out
        for key, df in (("frontier_by_bucket", fr), ("pages_by_bucket", pg)):
            by_bucket = df.groupBy(
                bloom._bucket_col(F.col("url"), 32).alias("b")
            ).count().collect()
            assert m[key] == {str(r["b"]): r["count"] for r in by_bucket}, (n, key)


def test_snapshots_read_back_with_their_known_schema(spark, tmp_path):
    """Each snapshot table's on-disk schema is the one load_state reads it
    with, so loading a snapshot submits no Spark job (no schema inference)."""
    corpus = generate_corpus(seed=37, n_hosts=1, pages_per_host=30)
    run_dir = str(tmp_path / "known")
    run_full(spark, corpus, CrawlConfig(max_pages=8), run_dir)
    last = checkpoint.last_complete_superstep(run_dir)
    for n in range(last + 1):
        for name, schema in schemas.SNAPSHOTS.items():
            path = os.path.join(run_dir, f"superstep={n}", name)
            assert spark.read.parquet(path).schema == schema, (n, name)

    sc = spark.sparkContext
    sc.setJobGroup("load_state", "load_state")
    try:
        pages, seen, frontier = checkpoint.load_state(spark, run_dir, last)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert list(sc.statusTracker().getJobIdsForGroup("load_state")) == []
    assert pages.count() > 0 and seen.count() > 0 and frontier is not None
