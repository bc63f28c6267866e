"""Pure-Python BestFirst crawl oracle — ground truth for the Spark engine.

The reference's DEFAULT crawl path for non-systematic strategies is
``crawl_website`` — Crawl4AI's ``BestFirstCrawlingStrategy`` driven by a
``KeywordRelevanceScorer`` (v1 crawler/web_crawler.py:192-369; v2
llmsgen/crawler/web_crawler.py:251+ (pyc), bytecode-verified constants).
The library internals are external (C3), so this oracle PINS a deterministic
batched best-first specification that preserves every reference-recoverable
semantic, and the Spark engine (operators/frontier.FrontierCrawler, given a
``BestFirstConfig``) is parity-tested against it page-for-page:

- depth budget by max_pages (v2 consts ``100, 4, 50, 3, 2``):
  ``max_depth = 4 if max_pages > 100 else 3 if max_pages > 50 else 2``
- the 23 enhanced keywords + domain name, weight 1.0 (v2 const tuple);
  score = substring-hit fraction (kernels.keyword_relevance_score)
- start URL enters the queue at depth 0 with score 0.0
- priority order: score desc, depth asc, url asc (deterministic stand-in
  for the library's priority queue, whose ties are arrival-order)
- batched pops (the library crawls popped URLs in batches): each superstep
  pops min(batch_size, max_pages - attempted) URLs; every popped URL counts
  against ``max_pages`` whether or not its fetch succeeds
- page gate: ``word_count > 50`` — STRICTLY greater (v1 :321
  ``word_count > crawler_config.word_count_threshold``; threshold 50),
  unlike the systematic path's ``>= 50``
- links are extracted from every SUCCESSFUL fetch regardless of the word
  gate (the library discovers before the wrapper filters); a URL discovered
  by several parents in one superstep enters the queue once at
  ``min(parent depth) + 1``; URLs enter ``seen`` at ENQUEUE time
- no expansion past ``max_depth``
"""

from __future__ import annotations

import urllib.parse
from dataclasses import dataclass, field

from ..functions import kernels
from ..sources.corpus import Corpus


def depth_for_max_pages(max_pages: int) -> int:
    """v2 ``crawl_depth`` selection (llmsgen/crawler/web_crawler.py:251+ (pyc))."""
    return 4 if max_pages > 100 else 3 if max_pages > 50 else 2


#: auto-batch dispatch targets this many supersteps for a large-budget crawl
AUTO_BATCH_TARGET_STEPS = 16


def auto_batch_size(max_pages: int) -> int:
    """Proportional batch for large budgets: the crawl completes in
    ~AUTO_BATCH_TARGET_STEPS budget supersteps (plus a depth-bounded frontier
    ramp), never below the reference library's default batch of 10.

    ORDERING DEVIATION (documented contract): batch size is part of the
    best-first semantics — a batch-B crawl pops the top B of the CURRENT
    frontier before any of their discoveries can compete, so a larger B
    admits more lower-priority URLs per superstep than batch=10 would, and
    the page emission order diverges from the reference's batch=10 order
    (each B is still fully deterministic and parity-tested against the
    oracle at the same B). At a 10^5+ budget the batch=10 loop is thousands
    of sequential driver round-trips — the deviation is the price of a
    bounded superstep count, opt in with batch_size='auto'.
    """
    return max(10, -(-max_pages // AUTO_BATCH_TARGET_STEPS))


@dataclass
class BestFirstConfig:
    """The best-first crawl: its settings, and the policy values the oracle
    below and the superstep engine (operators/frontier.FrontierCrawler)
    both read. ``oracle.crawl_oracle.CrawlConfig`` holds the BFS values of
    the same policy names.

    ``batch_size`` is a positive int or ``"auto"`` (auto_batch_size);
    ``max_depth`` None picks depth_for_max_pages. Both are resolved here,
    so the fields hold the values the crawl runs with.
    """

    max_pages: int = 50
    batch_size: int | str = 10
    max_depth: int | None = None

    # --- policy (class constants, not settings) ---------------------------
    # a superstep pops min(batch_size, budget left) URLs; every popped URL
    # counts against max_pages whether or not its fetch succeeds
    budget_counts_attempts = True
    # the seed is a queued URL like any other: score 0.0, the strict page
    # gate (word_count > 50, v1 :321), links from every successful fetch
    seed_score = 0.0
    seed_phase = phase = "bestfirst"
    seed_min_words = min_words = 51
    links_from_fetches = True
    # depth travels with the URL (min parent depth + 1); a superstep is a
    # pop, not a depth
    superstep_is_depth = False
    # URLs enter seen when enqueued: the crawl's seen set is its queue
    seen_on_enqueue = True
    scorer = "keywords"  # kernels.keyword_relevance_score
    # seen holds at most max_pages attempts: the exact anti-join broadcasts
    # it, and a Bloom filter would only add its probe and delta jobs
    seen_prefilter = False
    score_threshold = float("-inf")  # every queued URL may be popped
    # the BFS options best-first does not have, off
    comprehensive = enforce_robots = False
    host_caps = deny_hosts = None

    def __post_init__(self):
        if self.max_pages < 1:
            raise ValueError(f"max_pages must be at least 1, got {self.max_pages!r}")
        if self.batch_size == "auto":
            self.batch_size = auto_batch_size(self.max_pages)
        elif isinstance(self.batch_size, bool) or not isinstance(self.batch_size, int) \
                or self.batch_size < 1:
            raise ValueError(
                f"batch_size must be a positive int or 'auto', got {self.batch_size!r}")
        if self.max_depth is None:
            self.max_depth = depth_for_max_pages(self.max_pages)

    @property
    def depth_limit(self) -> int:
        """No links are expanded from a page at this depth."""
        return self.max_depth

    @property
    def effective_safety_limit(self) -> int:
        """The budget: attempts, not kept pages."""
        return self.max_pages


@dataclass
class BestFirstResult:
    pages: list[dict] = field(default_factory=list)  # in exact emission order
    seen: set[str] = field(default_factory=set)
    attempted: int = 0

    @property
    def order(self) -> list[str]:
        return [p["url"] for p in self.pages]


def crawl_bestfirst(
    corpus: Corpus,
    base_url: str,
    max_pages: int = 50,
    batch_size: int | str = 10,
    max_depth: int | None = None,
) -> BestFirstResult:
    cfg = BestFirstConfig(max_pages, batch_size, max_depth)
    keywords = kernels.bestfirst_keywords(base_url)
    base_domain = urllib.parse.urlparse(base_url).netloc
    res = BestFirstResult()

    start = kernels.normalize_url(base_url)
    # (url, depth, score)
    queue: list[tuple[str, int, float]] = [(start, 0, cfg.seed_score)]
    res.seen.add(start)

    while queue and res.attempted < cfg.max_pages:
        queue.sort(key=lambda t: (-t[2], t[1], t[0]))  # score desc, depth asc, url asc
        b = min(cfg.batch_size, cfg.max_pages - res.attempted)
        batch, queue = queue[:b], queue[b:]
        # min-parent-depth link merge across the batch (pinned spec)
        discovered: dict[str, int] = {}
        for url, depth, score in batch:
            res.attempted += 1
            row = corpus.pages.get(url)
            if row is None or not row.fetch_ok:
                continue
            wc = kernels.word_count(row.content)
            if wc >= cfg.min_words:  # STRICT wc > 50 (v1 :321)
                res.pages.append(
                    {
                        "url": row.url,
                        "title": kernels.extract_title(row.title, row.content, row.url),
                        "content": row.content,
                        "word_count": wc,
                        "score": score,
                        "depth": depth,
                        "discovery_phase": cfg.phase,
                    }
                )
            if depth < cfg.depth_limit:
                for link in kernels.extract_links(row.out_links, base_url, base_domain):
                    if link in res.seen:
                        continue
                    discovered[link] = min(discovered.get(link, depth + 1), depth + 1)
        for link, d in discovered.items():
            if link not in res.seen:
                res.seen.add(link)
                queue.append((link, d, kernels.keyword_relevance_score(link, keywords)))
    return res
