"""Exact crawl-order + URL-seen parity: Spark engine vs pure-Python oracle.

The north-rule correctness gate (BASELINE.json): same seed list + politeness
budget => identical BFS crawl ordering and final URL-seen set. Compared
field-by-field (url, title, content, word_count, score, depth, phase) in
exact rank order.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from web2llmstxt_spark import schemas
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig, crawl
from web2llmstxt_spark.operators.frontier import FrontierCrawler
from web2llmstxt_spark.sources.corpus import generate_corpus

PAGE_FIELDS = ["url", "title", "content", "word_count", "score", "depth", "discovery_phase", "seed_id"]


def run_both(spark, corpus, cfg, seeds=None, use_bloom=True, run_dir=None):
    oracle_res = crawl(corpus, cfg, seeds)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    engine = FrontierCrawler(
        spark,
        site,
        cfg,
        robots_rules=corpus.robots_rules,
        use_bloom=use_bloom,
        run_dir=run_dir,
    )
    if seeds is None:
        seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    pages_df, seen_df = engine.crawl(seeds)
    engine_pages = [r.asDict() for r in pages_df.orderBy("rank").collect()]
    engine_seen = {r.url for r in seen_df.collect()}
    return oracle_res, engine_pages, engine_seen


def assert_parity(oracle_res, engine_pages, engine_seen):
    assert engine_seen == oracle_res.seen, (
        f"seen mismatch: only_engine={sorted(engine_seen - oracle_res.seen)[:5]} "
        f"only_oracle={sorted(oracle_res.seen - engine_seen)[:5]}"
    )
    assert len(engine_pages) == len(oracle_res.pages)
    for i, (e, o) in enumerate(zip(engine_pages, oracle_res.pages)):
        for f in PAGE_FIELDS:
            assert e[f] == o[f], f"rank {i} field {f}: engine={e[f]!r} oracle={o[f]!r}"


# durable crawls (run_dir) go through the same gates: they are the in-memory
# crawl plus a commit of the state it holds
DURABLE = pytest.mark.parametrize("durable", [False, True], ids=["memory", "durable"])


@pytest.mark.parametrize("seed,n_hosts,ppl,durable", [
    pytest.param(7, 1, 25, False, id="7-1-25"),
    pytest.param(7, 1, 25, True, id="7-1-25-durable"),
    pytest.param(21, 2, 30, False, id="21-2-30"),
])
def test_normal_mode_parity(spark, tmp_path, seed, n_hosts, ppl, durable):
    corpus = generate_corpus(seed=seed, n_hosts=n_hosts, pages_per_host=ppl)
    cfg = CrawlConfig(max_pages=10, comprehensive=False)
    run_dir = str(tmp_path) if durable else None
    assert_parity(*run_both(spark, corpus, cfg, run_dir=run_dir))


@DURABLE
def test_comprehensive_mode_parity(spark, tmp_path, durable):
    # comprehensive: depth 5, threshold 0.0, no slice, mid-depth budget cut
    corpus = generate_corpus(seed=11, n_hosts=1, pages_per_host=35)
    cfg = CrawlConfig(max_pages=6, comprehensive=True)
    run_dir = str(tmp_path) if durable else None
    assert_parity(*run_both(spark, corpus, cfg, run_dir=run_dir))


@DURABLE
def test_comprehensive_cut_skipped_when_it_cannot_bite(spark, tmp_path, monkeypatch, durable):
    """Comprehensive mode runs its budget cut (ranking.global_rank, the
    fetch waves) only on a superstep whose observed |frontier| exceeds the
    budget left: cand ⊆ frontier, so below that every candidate is
    attempted. Here superstep 1 holds 18 frontier URLs against 19 pages
    left and superstep 2 holds 31 against 6 and is cut mid-depth. The
    crawl equals the oracle's, and a durable crawl resumed from each
    committed superstep equals the uninterrupted one."""
    from web2llmstxt_spark.operators import ranking
    from web2llmstxt_spark.state import checkpoint

    calls = []
    rank = ranking.global_rank

    def spy(*args, **kwargs):
        calls.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return rank(*args, **kwargs)

    monkeypatch.setattr(ranking, "global_rank", spy)
    corpus = generate_corpus(seed=1, n_hosts=1, pages_per_host=30)
    cfg = CrawlConfig(max_pages=2, comprehensive=True)
    oracle_res = crawl(corpus, cfg)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    run_dir = str(tmp_path / "full") if durable else None
    engine = FrontierCrawler(spark, site, cfg, run_dir=run_dir)
    pages_df, seen_df = engine.crawl(seeds)
    engine_pages = [r.asDict() for r in pages_df.orderBy("rank").collect()]
    engine_seen = {r.url for r in seen_df.collect()}
    assert_parity(oracle_res, engine_pages, engine_seen)
    steps = {m["superstep"]: m for m in engine.metrics}
    budget = cfg.effective_safety_limit
    assert sum(steps[0]["frontier_by_bucket"].values()) <= budget - steps[0]["pages_total"]
    assert steps[2]["pages_total"] == budget  # the cut bit
    # the rank runs on the cut superstep and in finalize, not on superstep 1
    assert calls == ["crawl:ss2-attempt", "crawl:finalize"]
    if not durable:
        return

    def rows(df):
        return [tuple(r) for r in df.select(*PAGE_FIELDS).orderBy("rank").collect()]

    full_pages = rows(pages_df)
    for cut in range(checkpoint.last_complete_superstep(run_dir)):
        resume_dir = str(tmp_path / f"resume_{cut}")
        for n in range(cut + 1):
            shutil.copytree(os.path.join(run_dir, f"superstep={n}"),
                            os.path.join(resume_dir, f"superstep={n}"))
        calls.clear()
        pages, seen = checkpoint.resume_crawl(spark, site, cfg, resume_dir, seeds)
        assert rows(pages) == full_pages, f"resume from {cut}: pages mismatch"
        assert {r.url for r in seen.collect()} == engine_seen, f"resume from {cut}"
        assert calls == ["crawl:ss2-attempt", "crawl:finalize"], (cut, calls)


def test_comprehensive_cut_fetches_only_attempts(spark):
    """A comprehensive cut superstep fetches its ranked candidates in
    waves, each the next `remaining - successes` of them, so it fetches
    exactly the URLs the reference attempts. A fetcher that records each
    call's URL hint under its job description sees, on every superstep,
    distinct URLs as many as the superstep's `attempted`. On the seed-1
    corpus the cut superstep (31 frontier URLs, 6 pages left) takes 3
    waves: failed or thin pages leave the first two short of the budget."""
    from web2llmstxt_spark.operators.frontier import TableFetcher

    class HintRecorder(TableFetcher):
        def __init__(self, site_df):
            super().__init__(site_df)
            self.hints = {}   # job description -> one URL list per fetch call

        def fetch(self, cand, url_hint=None):
            desc = spark.sparkContext.getLocalProperty("spark.job.description")
            self.hints.setdefault(desc, []).append(url_hint)
            return super().fetch(cand, url_hint=url_hint)

    corpus = generate_corpus(seed=1, n_hosts=1, pages_per_host=30)
    cfg = CrawlConfig(max_pages=2, comprehensive=True)
    oracle_res = crawl(corpus, cfg)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    recorder = HintRecorder(site)
    engine = FrontierCrawler(spark, site, cfg, fetcher=recorder)
    pages_df, seen_df = engine.crawl([(sid, url) for sid, url, _ in corpus.seeds])
    engine_pages = [r.asDict() for r in pages_df.orderBy("rank").collect()]
    assert_parity(oracle_res, engine_pages, {r.url for r in seen_df.collect()})
    engine.release()

    def step(desc):
        # the seed fetch runs before the crawl tags its first phase
        if desc and desc.startswith("crawl:ss") and desc.endswith("-attempt"):
            return int(desc[len("crawl:ss"):-len("-attempt")])
        return 0

    hinted = {}
    for desc, calls in recorder.hints.items():
        assert all(h is not None for h in calls), (desc, calls)
        hinted.setdefault(step(desc), []).extend(u for h in calls for u in h)
    budget = cfg.effective_safety_limit
    assert engine.metrics[-1]["pages_total"] == budget  # the cut bit
    for m in engine.metrics:
        urls = hinted[m["superstep"]]
        assert len(set(urls)) == len(urls), m["superstep"]
        assert len(urls) == m["attempted"], (m["superstep"], len(urls), m["attempted"])
    last = f"crawl:ss{engine.metrics[-1]['superstep']}-attempt"
    assert len(recorder.hints[last]) == 3


def test_multi_seed_merged_frontier(spark):
    corpus = generate_corpus(seed=13, n_hosts=3, pages_per_host=20)
    cfg = CrawlConfig(max_pages=15)
    assert_parity(*run_both(spark, corpus, cfg))


def test_duplicate_seeds_lowest_seed_id_wins(spark):
    """The depth-0 seed frame keeps one row per normalized URL, the one
    with the lowest seed_id, whatever the input order. Host-case and
    trailing-slash variants with higher ids are given first (descending
    seed_id): the crawl equals the oracle's over the three canonical seeds,
    and superstep 0 attempts each normalized URL once."""
    corpus = generate_corpus(seed=13, n_hosts=3, pages_per_host=20)
    cfg = CrawlConfig(max_pages=15)
    canonical = [(sid, url) for sid, url, _ in corpus.seeds]   # ex0..ex2, ids 0..2
    seeds = [
        (7, "https://EX0.example/"),
        (6, "https://ex1.example"),
        (5, "https://Ex2.Example"),
        (4, "https://ex0.example"),
    ] + canonical[::-1]
    oracle_res = crawl(corpus, cfg, canonical)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    engine = FrontierCrawler(spark, site, cfg)
    pages_df, seen_df = engine.crawl(seeds)
    engine_pages = [r.asDict() for r in pages_df.orderBy("rank").collect()]
    assert_parity(oracle_res, engine_pages, {r.url for r in seen_df.collect()})
    assert [(p["seed_id"], p["url"]) for p in engine_pages if p["depth"] == 0] == canonical
    assert {p["seed_id"] for p in engine_pages} == {0, 1, 2}
    assert engine.metrics[0]["superstep"] == 0
    assert engine.metrics[0]["attempted"] == len(canonical)


@DURABLE
def test_robots_and_host_caps(spark, tmp_path, durable):
    corpus = generate_corpus(seed=17, n_hosts=2, pages_per_host=25)
    caps = {h: c for h, _r, c, _d in corpus.host_policies}
    cfg = CrawlConfig(max_pages=12, enforce_robots=True, host_caps=caps)
    run_dir = str(tmp_path) if durable else None
    oracle_res, engine_pages, engine_seen = run_both(spark, corpus, cfg, run_dir=run_dir)
    assert_parity(oracle_res, engine_pages, engine_seen)
    # robots actually bit: no crawled page under a disallowed prefix
    assert not any("/signup" in p["url"] or "/search" in p["url"] for p in engine_pages)


def test_bloom_off_equals_on(spark):
    corpus = generate_corpus(seed=19, n_hosts=1, pages_per_host=30)
    cfg = CrawlConfig(max_pages=10)
    _, pages_on, seen_on = run_both(spark, corpus, cfg, use_bloom=True)
    _, pages_off, seen_off = run_both(spark, corpus, cfg, use_bloom=False)
    assert seen_on == seen_off
    assert pages_on == pages_off


def test_state_compaction_parity(spark, monkeypatch):
    """The in-memory crawl keeps seen/frontier as unions of per-superstep
    parts and folds them into one checkpoint past STATE_COMPACT_PARTS.
    With the bound at 1 every advancing superstep compacts; the crawl must
    still equal the oracle's."""
    from web2llmstxt_spark.operators import frontier

    monkeypatch.setattr(frontier, "STATE_COMPACT_PARTS", 1)
    tags = []
    checkpoint = FrontierCrawler._checkpoint_state

    def spy(self, frontier_df, bloom_df, tag, seen_df=None):
        tags.append((str(tag), seen_df is not None))
        return checkpoint(self, frontier_df, bloom_df, tag, seen_df=seen_df)

    monkeypatch.setattr(FrontierCrawler, "_checkpoint_state", spy)
    corpus = generate_corpus(seed=19, n_hosts=2, pages_per_host=40)
    assert_parity(*run_both(spark, corpus, CrawlConfig(max_pages=12)))
    assert any(t.endswith("c") and full for t, full in tags), tags


def test_failed_fetches_enter_seen(spark):
    # quirk Q5: attempted-but-failed URLs are in seen, never retried
    corpus = generate_corpus(seed=23, n_hosts=1, pages_per_host=30, p_fetch_fail=0.4)
    cfg = CrawlConfig(max_pages=10)
    oracle_res, engine_pages, engine_seen = run_both(spark, corpus, cfg)
    assert_parity(oracle_res, engine_pages, engine_seen)
    crawled_urls = {p["url"] for p in engine_pages}
    assert engine_seen - crawled_urls, "expected some attempted-but-not-kept URLs in seen"


def test_midscale_budget_cut_parity(spark, tmp_path):
    """Regression net for the distributed budget cut (ranking.global_rank):
    a bulk corpus where the cut bites at depth>=2; engine (bloom + native
    scorer + distributed top-k) must match the oracle exactly."""
    from web2llmstxt_spark.sources.corpus import corpus_from_parquet, generate_corpus_fast

    out = str(tmp_path / "bulk")
    meta = generate_corpus_fast(seed=77, n_hosts=4, pages_per_host=300, out_links=25,
                                out_dir=out)
    corpus = corpus_from_parquet(f"{out}/site_pages.parquet", meta["seeds"])
    cfg = CrawlConfig(max_pages=150, safety_limit=700)  # cut bites mid-crawl
    oracle_res = crawl(corpus, cfg)
    site = spark.read.parquet(f"{out}/site_pages.parquet")
    engine = FrontierCrawler(spark, site, cfg, use_bloom=True)
    pages_df, seen_df = engine.crawl([(i, u) for i, u in enumerate(meta["seeds"])])
    engine_pages = [r.asDict() for r in pages_df.orderBy("rank").collect()]
    engine_seen = {r.url for r in seen_df.collect()}
    # slice under-fills on failures without backfill (SURVEY quirk); the cut
    # is active when pages land close to (but possibly under) the budget
    assert 600 <= len(oracle_res.pages) <= 700
    assert_parity(oracle_res, engine_pages, engine_seen)


def test_superstep_metrics_match_oracle_depth_counts(spark, tmp_path):
    """A3/A4: the per-superstep metrics (attempted, pages_kept) must equal
    the oracle's per-depth counts — the analytics the reference logs at
    crawler/web_crawler.py:299,337,358 (round-1 verdict: previously only
    indirectly asserted)."""
    corpus = generate_corpus(seed=23, n_hosts=1, pages_per_host=30)
    cfg = CrawlConfig(max_pages=12)
    oracle_res = crawl(corpus, cfg)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    engine = FrontierCrawler(spark, site, cfg, run_dir=str(tmp_path))
    engine.crawl([(sid, url) for sid, url, _ in corpus.seeds])

    from collections import Counter

    kept_by_depth = Counter(p["depth"] for p in oracle_res.pages)
    # oracle seen = depth-0 mains + every attempted URL; per-depth attempts
    # reconstructed by replaying the oracle's seen growth is overkill — the
    # strong invariants: kept counts match exactly per depth, attempted >= kept,
    # and total attempted == |seen| - (seeds fetched at depth 0)
    by_step = {m["superstep"]: m for m in engine.metrics}
    for depth, m in by_step.items():
        assert m["pages_kept"] == kept_by_depth.get(depth, 0), (depth, m)
        assert m["attempted"] >= m["pages_kept"]
    # oracle seen at depth 0 holds only SUCCESSFUL seed fetches (quirk Q5
    # applies from depth 1 on), so the attempted identity sums depths >= 1;
    # the superstep-0 entry reports the deduped seed count instead
    n_depth0 = kept_by_depth.get(0, 0)
    assert sum(
        m["attempted"] for d, m in by_step.items() if d >= 1
    ) == len(oracle_res.seen) - n_depth0
    # one metrics schema: every entry, superstep 0 included, has the keys
    assert all(m.keys() == engine.metrics[0].keys() for m in engine.metrics)
    # an exit superstep (budget or depth reached) does not advance the
    # filter, durable or not: resume rebuilds it from seen
    last = engine.metrics[-1]
    exited = (last["pages_total"] >= cfg.effective_safety_limit
              or last["superstep"] == cfg.depth_limit)
    assert engine.bloom_deltas == len(engine.metrics) - 1 - exited
    # persisted metrics.json per superstep agrees with the in-memory list
    import json as _json
    import os as _os

    for m in engine.metrics:
        p = _os.path.join(str(tmp_path), f"superstep={m['superstep']}", "metrics.json")
        assert _json.load(open(p)) == m


def test_native_robots_matches_oracle():
    """The registry's DuckDB robots oracle (native.robots_disallowed_sql,
    used by q_robots_filter) must agree with oracle.robots_disallowed on
    every URL of a two-host corpus PLUS hand-built edge cases (empty path,
    query-only, duplicate-prefix allow/disallow tie, nested
    allow-under-disallow, host case). The engine's own matcher is held to
    the same oracle by test_properties::test_robots_join_matches_oracle."""
    import duckdb

    from web2llmstxt_spark.functions import native
    from web2llmstxt_spark.oracle.crawl_oracle import robots_disallowed

    corpus = generate_corpus(seed=31, n_hosts=2, pages_per_host=25)
    rules_by_host = {}
    for host, _agent, rule, prefix in corpus.robots_rules:
        rules_by_host.setdefault(host, []).append((rule, prefix))
    # nested + tie cases on a synthetic host
    rules_by_host["edge.example"] = [
        ("disallow", "/private/"),
        ("allow", "/private/docs/"),
        ("allow", "/dup"),
        ("disallow", "/dup"),  # duplicate prefix: allow must win the tie
    ]
    urls = [u for u in corpus.pages] + [
        "https://edge.example",            # empty path -> '/'
        "https://edge.example/",
        "https://edge.example?page=2",     # query-only
        "https://edge.example/private/x",
        "https://edge.example/private/docs/x",
        "https://edge.example/dup/inside",
        "https://EDGE.example/private/y",  # host case-insensitivity
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE urls(url VARCHAR)")
    con.executemany("INSERT INTO urls VALUES (?)", [(u,) for u in urls])
    sql = native.robots_disallowed_sql("url", rules_by_host)
    rows = con.execute(f"SELECT url, {sql} FROM urls").fetchall()
    assert len(rows) == len(urls)
    for u, d in rows:
        assert d == robots_disallowed(u, rules_by_host), u


def test_native_host_bucket_matches_kernel(spark):
    """The JVM md5 bucket id (the Bloom prefilter's partition key since r4)
    must equal kernels.host_bucket for every corpus host plus empty/None."""
    from web2llmstxt_spark.functions import kernels, native

    corpus = generate_corpus(seed=37, n_hosts=3, pages_per_host=10)
    hosts = sorted({u.split("/")[2] for u in corpus.pages}) + ["", None]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    got = {
        r.host: r.b
        for r in df.select(
            "host", native.host_bucket_native(F.col("host"), 32).alias("b")
        ).collect()
    }
    for h in hosts:
        assert got[h] == kernels.host_bucket(h or "", 32), h


def test_salted_crawl_parity(spark):
    """North-rule skew salting live in the crawl: salting the seed host
    across 8 buckets changes ONLY partition co-location — pages, order and
    seen must stay byte-identical to the oracle (and the Bloom path is the
    one exercised: use_bloom=True)."""
    corpus = generate_corpus(seed=41, n_hosts=2, pages_per_host=25)
    seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    salt = {s[1].split("/")[2]: 8 for s in seeds}
    cfg = CrawlConfig(max_pages=12)
    oracle_res = crawl(corpus, cfg, seeds)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES)
    engine = FrontierCrawler(spark, site, cfg, use_bloom=True, salt_hosts=salt)
    pages_df, seen_df = engine.crawl(seeds)
    engine_pages = [r.asDict() for r in pages_df.orderBy("rank").collect()]
    engine_seen = {r.url for r in seen_df.collect()}
    assert_parity(oracle_res, engine_pages, engine_seen)


def test_fetch_url_hint_parity(spark):
    """The depth-0 url_hint pushdown is semantics-free: filtering the corpus
    side of the left-outer fetch join to a superset of the candidate URL set
    (here: exactly the seed list, known driver-side) must produce the same
    rows as the unfiltered join — including left rows with NO corpus match
    (a seed URL absent from the corpus)."""
    from web2llmstxt_spark.operators.frontier import TableFetcher

    corpus = generate_corpus(seed=43, n_hosts=2, pages_per_host=15)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES)
    urls = sorted(corpus.pages)[:5] + ["https://nowhere.example/missing"]
    cand = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "seed_id int, url string")
    fetcher = TableFetcher(site)
    cols = ["url", "found", "success", "title", "content", "wc"]
    plain = {tuple(r) for r in fetcher.fetch(cand).select(*cols).collect()}
    hinted = {tuple(r) for r in fetcher.fetch(cand, url_hint=urls).select(*cols).collect()}
    assert plain == hinted
    assert any(not r[1] for r in hinted)  # the missing URL survived as found=False
    # over-bound hint list disables the prefilter but must stay correct too
    big_hint = urls + [f"https://pad.example/{i}" for i in range(TableFetcher.URL_HINT_MAX + 1)]
    over = {tuple(r) for r in fetcher.fetch(cand, url_hint=big_hint).select(*cols).collect()}
    assert over == plain
    # the hint is parsed as SQL string literals: quotes, backslashes,
    # escape-like sequences and non-ASCII must round-trip exactly
    tricky = ["https://q.example/it's", "https://b.example/a\\b",
              "https://n.example/x\\n\\'y", "https://u.example/ü/é"]
    odd_site = spark.createDataFrame(
        [(u,) + r[1:] for u, r in zip(tricky, corpus.site_pages_rows())], schemas.SITE_PAGES)
    odd = TableFetcher(odd_site)
    odd_cand = spark.createDataFrame(list(enumerate(tricky)), "seed_id int, url string")
    odd_hinted = {tuple(r) for r in odd.fetch(odd_cand, url_hint=tricky).select(*cols).collect()}
    assert odd_hinted == {tuple(r) for r in odd.fetch(odd_cand).select(*cols).collect()}
    assert all(r[1] for r in odd_hinted)
    # an empty hint keeps no corpus row
    empty = odd.fetch(odd_cand, url_hint=[]).select("url", "found").collect()
    assert {tuple(r) for r in empty} == {(u, False) for u in tricky}


def test_superstep_url_hint_taken_and_invariant(spark):
    """Supersteps >= 1 push the attempt-URL list into the corpus scan
    whenever the previous checkpoint's Observation proved the frontier
    small (frontier.py _fetch_attempts). Assert (a) the hint path is
    actually TAKEN at depth >= 1 — not just at depth 0 — and (b) a
    hint-incapable fetcher (URL_HINT_MAX=0) gets no hint at any depth,
    depth 0 included (one rule for every fetch), and crawls
    byte-identically, so the pruning is pure scan optimization."""
    from web2llmstxt_spark.operators.frontier import TableFetcher

    corpus = generate_corpus(seed=47, n_hosts=2, pages_per_host=25)
    seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    cfg = CrawlConfig(max_pages=12)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()

    class SpyFetcher(TableFetcher):
        def __init__(self, site_df):
            super().__init__(site_df)
            self.hints = []   # one entry per fetch() call

        def fetch(self, cand, url_hint=None):
            self.hints.append(None if url_hint is None else len(url_hint))
            return super().fetch(cand, url_hint=url_hint)

    class NoHintFetcher(SpyFetcher):
        URL_HINT_MAX = 0   # crawl() must fall through to the plain join

    spy = SpyFetcher(site)
    engine = FrontierCrawler(spark, site, cfg, robots_rules=corpus.robots_rules, fetcher=spy)
    pages_df, seen_df = engine.crawl(seeds)
    hinted_pages = [tuple(r) for r in pages_df.select(*PAGE_FIELDS).orderBy("rank").collect()]
    hinted_seen = {r.url for r in seen_df.collect()}
    assert len(spy.hints) >= 2, "expected a depth-0 fetch AND >=1 superstep fetch"
    assert spy.hints[0] is not None, "depth-0 fetch must carry the seed hint"
    assert any(h is not None for h in spy.hints[1:]), (
        f"no superstep fetch carried a url_hint: {spy.hints}"
    )

    nohint = NoHintFetcher(site)
    engine2 = FrontierCrawler(spark, site, cfg, robots_rules=corpus.robots_rules, fetcher=nohint)
    pages2_df, seen2_df = engine2.crawl(seeds)
    plain_pages = [tuple(r) for r in pages2_df.select(*PAGE_FIELDS).orderBy("rank").collect()]
    assert nohint.hints[0] is None, "URL_HINT_MAX=0 fetcher got the seed hint"
    assert all(h is None for h in nohint.hints[1:]), (
        f"URL_HINT_MAX=0 fetcher still got a superstep hint: {nohint.hints}"
    )
    assert hinted_pages == plain_pages
    assert hinted_seen == {r.url for r in seen2_df.collect()}


def test_trap_denylist_parity(spark):
    # deny one of three hosts: engine and oracle drop the SAME candidates
    # (depth>=1 — depth-0 seeds are fetched regardless, like the reference's
    # main-page fetch), and the denied host contributes no crawled page
    # beyond its seed
    corpus = generate_corpus(seed=31, n_hosts=3, pages_per_host=20)
    denied = sorted({u.split("/")[2] for _sid, u, _p in corpus.seeds})[1]
    cfg = CrawlConfig(max_pages=15, deny_hosts=frozenset({denied}))
    oracle_res, engine_pages, engine_seen = run_both(spark, corpus, cfg)
    assert_parity(oracle_res, engine_pages, engine_seen)
    deep_denied = [
        p for p in engine_pages if p["depth"] >= 1 and denied in p["url"]
    ]
    assert deep_denied == []
    # and the denylist actually changed the crawl vs no-denylist
    base_res = crawl(corpus, CrawlConfig(max_pages=15))
    assert {p["url"] for p in base_res.pages} != {p["url"] for p in engine_pages}


def test_join_robots_matches_oracle(spark):
    """S6 r5 hot path: the broadcast-join rule-array matcher
    (robots.with_robots_decision) must agree with oracle.robots_disallowed
    on the same edge battery the DuckDB oracle is held to — through BOTH
    the broadcast and the shuffled-join carrier."""
    from web2llmstxt_spark.operators import robots as robots_mod
    from web2llmstxt_spark.oracle.crawl_oracle import robots_disallowed

    corpus = generate_corpus(seed=31, n_hosts=2, pages_per_host=25)
    rules_by_host = {}
    for host, _agent, rule, prefix in corpus.robots_rules:
        rules_by_host.setdefault(host, []).append((rule, prefix))
    rules_by_host["edge.example"] = [
        ("disallow", "/private/"),
        ("allow", "/private/docs/"),
        ("allow", "/dup"),
        ("disallow", "/dup"),  # duplicate prefix: allow must win the tie
    ]
    urls = [u for u in corpus.pages] + [
        "https://edge.example",
        "https://edge.example/",
        "https://edge.example?page=2",
        "https://edge.example/private/x",
        "https://edge.example/private/docs/x",
        "https://edge.example/dup/inside",
        "https://EDGE.example/private/y",
        "https://nohost.example/anything",  # host with no rules -> allowed
    ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rules_df = robots_mod.rules_array_from_list(spark, rules_by_host)
    for bc in (True, False):
        got = {
            r.url: r.disallowed
            for r in robots_mod.with_robots_decision(df, rules_df, broadcast=bc).collect()
        }
        for u in urls:
            assert got[u] == robots_disallowed(u, rules_by_host), (bc, u)


def test_join_robots_many_hosts(spark):
    """The join carrier at a scale a closure dict or a compiled WHEN chain
    could not carry: 10^4 hosts x 5 rules (5 x 10^4 rules, 100x the 512-rule
    bound a WHEN chain stays practical at). Decisions must match the oracle
    on a deterministic URL sample hitting allowed, disallowed, tie, and
    rule-less hosts."""
    from web2llmstxt_spark.operators import robots as robots_mod
    from web2llmstxt_spark.oracle.crawl_oracle import robots_disallowed

    n_hosts = 10_000
    rules_by_host = {
        f"h{i}.example": [
            ("disallow", "/private"),
            ("allow", "/private/ok"),
            ("disallow", f"/sec{i % 7}"),
            ("allow", "/"),
            ("disallow", "/"),  # tie with allow: allow wins
        ]
        for i in range(n_hosts)
    }
    rules_df = robots_mod.rules_array_from_list(spark, rules_by_host)
    urls = []
    for i in range(0, n_hosts, 97):  # deterministic stride sample
        urls += [
            f"https://h{i}.example/private/x",
            f"https://h{i}.example/private/ok/y",
            f"https://h{i}.example/sec{i % 7}/z",
            f"https://h{i}.example/public",
            f"https://missing{i}.example/private/x",
        ]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {
        r.url: r.disallowed
        for r in robots_mod.with_robots_decision(df, rules_df).collect()
    }
    assert len(got) == len(urls)
    for u in urls:
        assert got[u] == robots_disallowed(u, rules_by_host), u
    # the enforcement wrapper drops exactly the disallowed rows
    kept = {
        r.url for r in robots_mod.enforce_robots_join(df, rules_df).collect()
    }
    assert kept == {u for u in urls if not robots_disallowed(u, rules_by_host)}
