"""generate_llmstxt as an entry point: it refuses a crawl strategy or option
it would not honour before any Spark job, and it frees what its crawl
cached once the sinks are written."""

import pytest

from web2llmstxt_spark import schemas
from web2llmstxt_spark.operators import ranking
from web2llmstxt_spark.plans import pipeline
from web2llmstxt_spark.session import local_frame
from web2llmstxt_spark.sources.corpus import generate_corpus, render_sitemap_blobs

BASE = "https://x.example/"
# a value away from the default (None / False) for each plain crawl option;
# run_dir and sitemap_blobs are built in the test
SET = {
    "safety_limit": 100,
    "robots_rules": [("x.example", "*", "disallow", "/private")],
    "enforce_robots": True,
    "host_caps": {"x.example": 2},
    "seeds": [(0, BASE)],
    "robots_text": f"Sitemap: {BASE}sitemap.xml\n",
    "root_sitemaps": [f"{BASE}sitemap.xml"],
    "bestfirst_batch_size": 20,
}
BFS_ONLY = ["safety_limit", "robots_rules", "enforce_robots", "host_caps", "run_dir", "seeds"]
SITEMAP_ONLY = ["sitemap_blobs", "robots_text", "root_sitemaps"]
BESTFIRST_ONLY = ["bestfirst_batch_size"]
IGNORED = (
    [("bestfirst", name) for name in BFS_ONLY + SITEMAP_ONLY]
    + [("sitemap", name) for name in BFS_ONLY + BESTFIRST_ONLY]
    + [("systematic", name) for name in SITEMAP_ONLY + BESTFIRST_ONLY]
)


@pytest.mark.parametrize(
    "strategy,option", [("bfs", None)] + IGNORED,
    ids=["unknown-strategy"] + [f"{s}-{o}" for s, o in IGNORED],
)
def test_ignored_crawl_option_rejected_before_any_job(spark, tmp_path, strategy, option):
    """A typo'd strategy would silently run the BFS crawl; an option its
    strategy does not read would be dropped. Both raise before a job runs."""
    sc = spark.sparkContext
    site = local_frame(spark, [], schemas.SITE_PAGES)
    kw = {}
    if option == "sitemap_blobs":
        kw[option] = local_frame(spark, [], "sitemap_url string, body binary")
    elif option == "run_dir":
        kw[option] = str(tmp_path / "run")
    elif option is not None:
        kw[option] = SET[option]
    match = "crawl_strategy must be one of" if option is None else (
        rf"'{strategy}' ignores {option};")
    sc.setJobGroup("crawl-options", "crawl-options")
    try:
        with pytest.raises(ValueError, match=match):
            pipeline.generate_llmstxt(
                spark, site, BASE, str(tmp_path / "out"), crawl_strategy=strategy, **kw
            )
        assert sc.statusTracker().getJobIdsForGroup("crawl-options") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert not (tmp_path / "out").exists() and not (tmp_path / "run").exists()


@pytest.mark.parametrize("batch_size", [None, 0, "AUTO"])
def test_bestfirst_batch_size_is_a_positive_int_or_auto(spark, tmp_path, batch_size):
    sc = spark.sparkContext
    site = local_frame(spark, [], schemas.SITE_PAGES)
    sc.setJobGroup("batch-size", "batch-size")
    try:
        with pytest.raises(ValueError, match="batch_size must be a positive int or 'auto'"):
            pipeline.generate_llmstxt(
                spark, site, BASE, str(tmp_path / "out"), crawl_strategy="bestfirst",
                bestfirst_batch_size=batch_size,
            )
        assert sc.statusTracker().getJobIdsForGroup("batch-size") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)


@pytest.mark.parametrize("strategy", ["systematic", "bestfirst", "sitemap"])
def test_crawl_caches_released(spark, tmp_path, persisted, monkeypatch, strategy):
    """Two calls in one session: neither leaves a persisted RDD behind (the
    crawl's caches, state checkpoints and rank checkpoints are freed once
    the sinks are written). The systematic crawl is durable, with robots
    and caps, and cut by the budget in comprehensive mode and then in
    normal mode; the best-first crawl's pop is cut by its budget too."""
    if strategy == "systematic":
        corpus = generate_corpus(seed=17, n_hosts=2, pages_per_host=25)
        caps = {h: c for h, _r, c, _d in corpus.host_policies}
        calls = [dict(max_pages=2, include_full_text=full_text,
                      robots_rules=corpus.robots_rules, enforce_robots=True,
                      host_caps=caps, run_dir=str(tmp_path / f"run{run}"))
                 for run, full_text in enumerate((True, False))]
    else:
        corpus = generate_corpus(seed=53, n_hosts=1, pages_per_host=30)
        kw = dict(max_pages=10, crawl_strategy=strategy)
        if strategy == "sitemap":
            kw.update(
                sitemap_blobs=local_frame(spark, render_sitemap_blobs(corpus),
                                          "sitemap_url string, body binary"),
                robots_text=f"Sitemap: {corpus.seeds[0][1].rstrip('/')}/sitemap.xml\n",
            )
        calls = [kw, kw]
    site = local_frame(spark, corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    site.count()
    cut_in = []

    def spy(real):
        def call(*args, **kwargs):
            cut_in.append(spark.sparkContext.getLocalProperty("spark.job.description"))
            return real(*args, **kwargs)
        return call

    # the budget cuts: comprehensive mode's rank before its waves, every pop's top-k
    monkeypatch.setattr(ranking, "global_rank", spy(ranking.global_rank))
    monkeypatch.setattr(ranking, "top_k", spy(ranking.top_k))
    try:
        for run, kw in enumerate(calls):
            before = persisted()
            cut_in.clear()
            res = pipeline.generate_llmstxt(
                spark, site, corpus.seeds[0][1], str(tmp_path / f"out{run}"), **kw)
            assert res["metadata"]["total_pages_crawled"] > 0
            if strategy != "sitemap":
                # the call reached a budget-cut superstep
                assert any(c.endswith("-attempt") for c in cut_in), cut_in
            assert persisted() <= before, f"call {run} left persisted RDDs"
    finally:
        site.unpersist()
