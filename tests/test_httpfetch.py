"""Loopback-HTTP fetch transport (sources/httpfetch.py): the REAL S2 path.

An in-process ThreadingHTTPServer publishes the synthetic corpus as HTML;
FrontierCrawler runs over HttpFetcher (mapInPandas + urllib + UDF-internal
retry) and must match the TableFetcher crawl byte-for-byte on pages + seen.
Politeness is asserted SERVER-side from the request log.
"""

import pytest
from pyspark.sql import functions as F

from web2llmstxt_spark import schemas
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig, crawl
from web2llmstxt_spark.operators.frontier import FrontierCrawler, TableFetcher
from web2llmstxt_spark.sources import httpfetch
from web2llmstxt_spark.sources.corpus import generate_corpus

PAGE_FIELDS = [
    "url", "title", "content", "word_count", "score", "depth",
    "discovery_phase", "seed_id",
]


def test_html_round_trip_all_span_kinds():
    corpus = generate_corpus(
        seed=41, n_hosts=1, pages_per_host=20,
        media_kinds=("image", "audio", "video"),
    )
    checked = 0
    for url, page in corpus.pages.items():
        body = httpfetch.render_page_html(page.title, page.spans, page.out_links)
        back = httpfetch.parse_page_html(body)
        want = [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for k, t, m, o in page.spans
        ]
        assert back["title"] == page.title, url
        assert back["spans"] == want, url  # (kind, text, media_ref, order)
        assert back["out_links"] == page.out_links, url
        checked += 1
    assert checked >= 20


def test_round_trip_hostile_text():
    spans = [
        ("heading", "# T <b>&amp;</b>", "", 0),
        ("text", 'quotes "x" & <tags>  　 nbsp', "", 1),
        ("code", "```python\nif a < b and c > d: pass\n```", "", 2),
        ("link", "[more](docs)", "https://h/docs?a=1&b=2", 3),
        ("image", "", "https://h/i.png?x=<>&q=\"", 4),
        ("weird-kind", "payload & <stuff>", "ref<>&", 5),
    ]
    body = httpfetch.render_page_html('T "x" & <y>', spans, ["https://h/a?u=1&v=2", "/rel"])
    back = httpfetch.parse_page_html(body)
    assert back["title"] == 'T "x" & <y>'
    assert back["spans"] == [
        {"kind": k, "text": t, "media_ref": m, "offset": o} for k, t, m, o in spans
    ]
    assert back["out_links"] == ["https://h/a?u=1&v=2", "/rel"]


@pytest.fixture(scope="module")
def corpus():
    return generate_corpus(seed=17, n_hosts=2, pages_per_host=25)


def _crawl_with(spark, corpus, cfg, fetcher):
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    engine = FrontierCrawler(
        spark, site, cfg, robots_rules=corpus.robots_rules, fetcher=fetcher
    )
    seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    pages_df, seen_df = engine.crawl(seeds)
    pages = [
        tuple(r[f] for f in PAGE_FIELDS)
        for r in pages_df.orderBy("rank").collect()
    ]
    return pages, {r.url for r in seen_df.collect()}


def test_http_crawl_matches_table_fetcher_byte_for_byte(spark, corpus):
    cfg = CrawlConfig(max_pages=12, enforce_robots=True)
    with httpfetch.CorpusHTTPServer(corpus.pages) as srv:
        fetcher = httpfetch.HttpFetcher(srv.base_url, sleep=None)
        http_pages, http_seen = _crawl_with(spark, corpus, cfg, fetcher)
    table_pages, table_seen = _crawl_with(spark, corpus, cfg, None)
    assert http_seen == table_seen
    assert http_pages == table_pages
    # and both equal the pure-Python oracle
    res = crawl(corpus, cfg)
    assert http_seen == res.seen
    assert [p["url"] for p in (dict(zip(PAGE_FIELDS, t)) for t in http_pages)] == [
        p["url"] for p in res.pages
    ]


def test_http_retry_hits_failing_page_exactly_total_plus_one(spark, corpus):
    # one fetch_ok=False page answers 503: the UDF-internal policy retries
    # it total times after the initial attempt, then gives up (success rows
    # are requested exactly once)
    bad = [u for u, p in corpus.pages.items() if not p.fetch_ok]
    if not bad:
        pytest.skip("corpus drew no failing pages at this seed")
    cfg = CrawlConfig(max_pages=12, enforce_robots=True)
    with httpfetch.CorpusHTTPServer(corpus.pages) as srv:
        fetcher = httpfetch.HttpFetcher(srv.base_url, total=2, sleep=None)
        _pages, seen = _crawl_with(spark, corpus, cfg, fetcher)
        from collections import Counter

        per_url = Counter(u for _h, _p, u, _s, _t in srv.log)
        for u in bad:
            if u in seen:
                assert per_url[u] == 3, (u, per_url[u])  # 1 + total


def test_server_side_politeness_per_superstep(spark, corpus):
    # host caps flow frontier -> attempt set; the server log (tagged with
    # the fetcher's fetch-call counter, one call per superstep in normal
    # mode; a comprehensive cut would fetch in several waves) proves no
    # superstep ever exceeded a host's cap ON THE WIRE
    caps = {h: 3 for h in {p.host for p in corpus.pages.values()}}
    cfg = CrawlConfig(max_pages=12, enforce_robots=True, host_caps=caps)
    with httpfetch.CorpusHTTPServer(corpus.pages) as srv:
        fetcher = httpfetch.HttpFetcher(srv.base_url, total=0, sleep=None)
        _pages, seen = _crawl_with(spark, corpus, cfg, fetcher)
        by_hs = srv.requests_by_host_superstep()
    assert by_hs, "server saw no requests"
    for (host, step), n in by_hs.items():
        assert n <= 3, f"host {host} got {n} requests in superstep {step}"
    # every attempted URL was requested exactly once (total=0: no retries,
    # and the attempt cache must prevent refetches across supersteps)
    from collections import Counter
    from urllib.parse import urlsplit

    per_url = Counter(u for _h, _p, u, _s, _t in srv.log)
    assert set(per_url.values()) == {1}
    assert len(per_url) == len(seen)


def test_comprehensive_cut_requests_only_attempts(spark):
    # a comprehensive crawl whose last superstep is cut by the budget
    # mid-depth, over a corpus with 40 % failing pages: the server sees
    # each URL the reference attempts exactly once (total=0: no retries)
    # and no other URL, although the cut fetches in 3 waves
    corpus = generate_corpus(seed=23, n_hosts=1, pages_per_host=30, p_fetch_fail=0.4)
    cfg = CrawlConfig(max_pages=2, comprehensive=True)
    res = crawl(corpus, cfg)
    assert len(res.pages) == cfg.effective_safety_limit  # the cut bit
    with httpfetch.CorpusHTTPServer(corpus.pages) as srv:
        fetcher = httpfetch.HttpFetcher(srv.base_url, total=0, sleep=None)
        pages, seen = _crawl_with(spark, corpus, cfg, fetcher)
    from collections import Counter

    per_url = Counter(u for _h, _p, u, _s, _t in srv.log)
    assert set(per_url) == res.seen | {url for _sid, url, _ in corpus.seeds}
    assert set(per_url.values()) == {1}
    assert seen == res.seen
    assert [t[0] for t in pages] == res.order
    # fetch calls (X-Superstep): the seeds, superstep 1, superstep 2's waves
    assert len({s for _h, _p, _u, s, _t in srv.log}) == 5


def test_per_host_delay_paces_requests(spark, corpus):
    # transport-level pacing floor: with partition_by_host + 80ms delay, two
    # same-host requests are never closer than ~the delay on the server —
    # INCLUDING across superstep boundaries (the r5 hole: the per-job pacing
    # dict reset between fetch jobs, so the first same-host request of
    # superstep N+1 was unpaced against the last of superstep N; the fix
    # carries host->last-hit via an accumulator).
    some_host = next(iter({p.host for p in corpus.pages.values()}))
    cfg = CrawlConfig(max_pages=6, enforce_robots=True)
    with httpfetch.CorpusHTTPServer(corpus.pages) as srv:
        fetcher = httpfetch.HttpFetcher(
            srv.base_url, total=0, sleep=None,
            partition_by_host=True, per_host_delay_ms=80,
        )
        _crawl_with(spark, corpus, cfg, fetcher)
        with srv._lock:
            recs = sorted(
                (t, s) for h, _p, _u, s, t in srv.log if h == some_host
            )
    times = [t for t, _s in recs]
    gaps = [b - a for a, b in zip(times, times[1:])]
    assert all(g >= 0.07 for g in gaps), gaps
    # the boundary case must actually be exercised: at least one consecutive
    # same-host pair spans two different supersteps
    steps = [s for _t, s in recs]
    assert any(a != b for a, b in zip(steps, steps[1:])), steps


def test_pacing_seed_drops_hits_older_than_the_delay():
    # only a hit within per_host_delay_ms of now can still make a task wait,
    # so the snapshot shipped in every task closure holds active hosts only
    fetcher = httpfetch.HttpFetcher("http://localhost:1", per_host_delay_ms=500)
    now = 1000.0
    fetcher._last_hits = {"stale.example": now - 5.0, "recent.example": now - 0.1}
    seed = fetcher._pacing_seed(now)
    assert seed == {"recent.example": now - 0.1}
    assert "stale.example" not in fetcher._last_hits
