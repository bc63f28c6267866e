"""Single-threaded pure-Python crawl oracle.

Implements the v2 BFS frontier (``discover_all_links_first``,
llmsgen/crawler/web_crawler.py:169-249 (pyc), bytecode-verified — see
SURVEY.md §3-EP3) over the synthetic corpus, composing the SAME kernels the
Spark engine uses. This is the ground truth for the exact crawl-order and
URL-seen parity tests (BASELINE.json north_rule).

Documented canonicalizations vs the reference (SURVEY.md §5 quirks):
- Q1: the reference's sort is stable over nondeterministic set iteration;
  oracle + engine both tie-break ``(score desc, url asc)``.
- multi-seed (north rule extension; the reference takes a single base_url):
  seeds are fetched as depth-0 "main pages" in seed order, then ONE merged
  frontier/seen/budget advances per depth; a discovered URL keeps the seed
  context (base_url for scoring + link resolution) of its first discovery,
  min(seed_id) on same-superstep ties.
Replicated quirks: Q5 (URLs enter seen on fetch *attempt*), Q6 (links found
at depth d join the pool only after the depth finishes), Q7 (the last depth
fetches but does not expand), mid-depth budget semantics in comprehensive
mode (unfetched candidates past the budget cut are NOT seen-added).
"""

from __future__ import annotations

import urllib.parse
from dataclasses import dataclass, field

from ..functions import kernels
from ..sources.corpus import Corpus


@dataclass
class CrawlConfig:
    max_pages: int = 50
    comprehensive: bool = False
    safety_limit: int | None = None
    enforce_robots: bool = False
    host_caps: dict[str, int] | None = None  # host -> max urls per superstep
    #: trap-host denylist (operators/traps.trap_denylist output) — north-rule
    #: extension, not reference behavior; candidates on these hosts are
    #: dropped before scoring order is taken
    deny_hosts: frozenset | None = None

    # --- policy (class constants, not settings): the superstep engine
    # (operators/frontier.FrontierCrawler) reads these names off its config;
    # oracle/bestfirst_oracle.BestFirstConfig holds the best-first values
    batch_size = None  # no pop batch: a superstep attempts up to the budget left
    budget_counts_attempts = False  # the budget counts kept pages (:212)
    seed_score = 10.0  # main pages (:196-206)
    seed_phase = "main_page"
    seed_min_words = None  # main pages have no word gate
    phase = "depth_{}"  # .format(depth)
    min_words = 50  # :237
    links_from_fetches = False  # links come from kept pages only (:239)
    superstep_is_depth = True  # one superstep per depth, depth_limit of them
    seen_on_enqueue = False  # URLs enter seen on attempt (quirk Q5)
    scorer = "importance"  # kernels.score_url_importance
    # Bloom pre-filter (operators/bloom.py) ahead of the exact anti-join
    # against seen, which outgrows the frontier on a deep crawl
    seen_prefilter = True

    @property
    def depth_limit(self) -> int:
        # llmsgen/crawler/web_crawler.py:208 (pyc)
        return 5 if self.comprehensive else 3

    @property
    def effective_safety_limit(self) -> int:
        # llmsgen/crawler/web_crawler.py:209 (pyc)
        return self.safety_limit or self.max_pages * (10 if self.comprehensive else 5)

    @property
    def score_threshold(self) -> float:
        # llmsgen/crawler/web_crawler.py:218 (pyc)
        return 0.0 if self.comprehensive else 1.0


@dataclass
class CrawlResult:
    pages: list[dict] = field(default_factory=list)  # in exact crawl order
    seen: set[str] = field(default_factory=set)

    @property
    def order(self) -> list[str]:
        return [p["url"] for p in self.pages]


def robots_disallowed(url: str, rules_by_host: dict[str, list[tuple[str, str]]]) -> bool:
    """Longest-prefix-match robots decision (engine extension, north rule).

    The reference never enforces Allow/Disallow (it only reads ``Sitemap:``
    lines, crawler/web_crawler.py:872-885); this is the north-rule addition,
    defined identically here and in the engine: the longest matching
    path_prefix among the host's rules wins; ties prefer 'allow'; no match =>
    allowed.
    """
    parsed = urllib.parse.urlparse(url)
    rules = rules_by_host.get(parsed.netloc.lower())
    if not rules:
        return False
    path = parsed.path or "/"
    best_len, best_rule = -1, "allow"
    for rule, prefix in rules:
        if path.startswith(prefix):
            if len(prefix) > best_len or (len(prefix) == best_len and rule == "allow"):
                best_len, best_rule = len(prefix), rule
    return best_rule == "disallow"


def crawl(corpus: Corpus, cfg: CrawlConfig, seeds: list[tuple[int, str]] | None = None) -> CrawlResult:
    """Run the BFS crawl over the corpus; returns pages in exact crawl order."""
    if seeds is None:
        seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    res = CrawlResult()
    budget = cfg.effective_safety_limit
    rules_by_host: dict[str, list[tuple[str, str]]] = {}
    if cfg.enforce_robots:
        for host, agent, rule, prefix in corpus.robots_rules:
            rules_by_host.setdefault(host, []).append((rule, prefix))

    # url -> (seed_id, base_url, base_domain): first-discovery seed context
    ctx: dict[str, tuple[int, str, str]] = {}
    all_discovered: set[str] = set()

    def fetch(url: str):
        return corpus.pages.get(kernels.normalize_url(url))

    # --- depth 0: main pages, in seed order -------------------------------
    # ref llmsgen/crawler/web_crawler.py:196-206 (pyc); score 10.0, no wc filter
    for seed_id, base_url in seeds:
        base_domain = urllib.parse.urlparse(base_url).netloc
        row = fetch(base_url)
        if row is None or not row.fetch_ok:
            continue  # reference returns [] for this seed; others proceed
        res.pages.append(
            {
                "url": row.url,
                "title": kernels.extract_title(row.title, row.content, row.url),
                "content": row.content,
                "word_count": kernels.word_count(row.content),
                "score": cfg.seed_score,
                "depth": 0,
                "discovery_phase": cfg.seed_phase,
                "seed_id": seed_id,
            }
        )
        res.seen.add(row.url)
        for link in kernels.extract_links(row.out_links, base_url, base_domain):
            all_discovered.add(link)
            ctx.setdefault(link, (seed_id, base_url, base_domain))

    # --- BFS supersteps ----------------------------------------------------
    for depth in range(1, cfg.depth_limit + 1):
        if len(res.pages) >= budget:       # :212
            break
        uncrawled = [u for u in all_discovered if u not in res.seen]  # :215
        if not uncrawled:                  # :216
            break
        scored = [
            (u, kernels.score_url_importance(u, ctx[u][1]))
            for u in uncrawled
        ]
        scored = [(u, s) for (u, s) in scored if s > cfg.score_threshold]  # :218
        if cfg.enforce_robots:
            scored = [(u, s) for (u, s) in scored if not robots_disallowed(u, rules_by_host)]
        if cfg.deny_hosts:
            # hostname (lowercase, NO port) — the same identity the engine's
            # F.parse_url(url,'HOST') join key and traps.host_of produce
            scored = [
                (u, s) for (u, s) in scored
                if (urllib.parse.urlparse(u).hostname or "") not in cfg.deny_hosts
            ]
        # canonical deterministic order (quirk Q1)
        scored.sort(key=lambda x: (-x[1], x[0]))
        if cfg.host_caps:
            kept, per_host = [], {}
            for u, s in scored:
                host = urllib.parse.urlparse(u).netloc.lower()
                cap = cfg.host_caps.get(host)
                n = per_host.get(host, 0)
                if cap is None or n < cap:
                    kept.append((u, s))
                    per_host[host] = n + 1
            scored = kept
        if cfg.comprehensive:              # :220
            todo = scored
        else:
            todo = scored[: budget - len(res.pages)]
        if not todo:                       # :221
            break
        new_links: list[tuple[str, int, str, str]] = []
        for link, score in todo:           # :226
            if len(res.pages) >= budget:   # :227 (bites in comprehensive mode)
                break
            if link in res.seen:           # :228
                continue
            seed_id, base_url, base_domain = ctx[link]
            row = fetch(link)              # :232
            res.seen.add(link)             # :233 — seen on ATTEMPT (quirk Q5)
            if row is not None and row.fetch_ok:
                wc = kernels.word_count(row.content)  # :236
                if wc >= cfg.min_words:    # :237
                    res.pages.append(
                        {
                            "url": row.url,
                            "title": kernels.extract_title(row.title, row.content, row.url),
                            "content": row.content,
                            "word_count": wc,
                            "score": score,
                            "depth": depth,
                            "discovery_phase": cfg.phase.format(depth),
                            "seed_id": seed_id,
                        }
                    )
                    if depth < cfg.depth_limit:  # :239 (quirk Q7)
                        for nl in kernels.extract_links(row.out_links, base_url, base_domain):
                            new_links.append((nl, seed_id, base_url, base_domain))
        # :245 — union after the whole depth (quirk Q6); min(seed_id) tie
        for nl, seed_id, base_url, base_domain in sorted(new_links, key=lambda t: (t[0], t[1])):
            all_discovered.add(nl)
            ctx.setdefault(nl, (seed_id, base_url, base_domain))
    return res
