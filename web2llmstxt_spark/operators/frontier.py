"""The BSP frontier crawler — the reference's three crawl strategies as
Spark supersteps, one loop with three policies.

Rebuilds v2 ``discover_all_links_first`` (llmsgen/crawler/web_crawler.py:
169-249 (pyc), SURVEY.md §3-EP3) as a driver-side superstep loop where each
depth is ONE declarative DataFrame chain, closed by one stats action:

    frontier ──left_anti(seen)──► score (JVM Column) ──filter(>thr)──►
    robots filter (rule-array join) ──► per-host politeness cap (window) ──►
    global priority order (score desc, url asc) ──► budget cut ──►
    FETCH (join site_pages / pluggable fetcher) ──► quality filter wc>=50 ──►
    emit pages + explode(out-links) ──► union into frontier; seen += attempted

Parity contract: byte-identical pages (url/title/content/word_count/score/
depth/phase), crawl ORDER (rank column) and final URL-seen set vs
``oracle.crawl_oracle.crawl`` on the same corpus + config (quirks Q1/Q5/Q6/Q7
and the comprehensive-mode mid-depth budget cut replicated — see oracle
docstring).

The same loop runs the reference's best-first crawl (``crawl_website``,
v1 crawler/web_crawler.py:192-369) when given an
``oracle.bestfirst_oracle.BestFirstConfig``: a superstep pops the top
``batch_size`` queued URLs by (score desc, depth asc, url asc), the queue
being frontier − seen; the config's policy values (keyword scorer, strict
page gate, links from every successful fetch, budget on attempts, seen on
enqueue) are read where the BFS values are, and the pages are
parity-tested against ``oracle.bestfirst_oracle.crawl_bestfirst``. A
best-first superstep runs 9 Spark jobs on a one-host corpus at batch 10
(4 cores): 2 for the pop, 4 for the fetch and its stats, 3 for the state
delta; the last superstep skips the state.

The reference's sitemap crawl (v1 ``crawl_from_sitemap``, crawler/
web_crawler.py:1081-1191) is the same loop's depth 0 under
``operators.sitemap.SitemapConfig``: the seeds are the prioritized sitemap
URLs (``operators.sitemap.sitemap_seeds``), ``depth_limit`` is 0 so no
superstep runs, and a depth-0 page's rank is its seed order, i.e. the
prioritized URL order. Raw URLs that normalize to one URL are one page.

Scale design (10^10-URL frontier, north rule):
- frontier & seen are hash-partitioned by host bucket; the anti-join
  shuffles once on url and is preceded (optional) by the partition-local
  Bloom pre-filter in ``operators/bloom.py`` which removes the vast majority
  of already-seen URLs WITHOUT shuffling the full seen table.
- the global priority order is a range-partitioned sort (Spark samples
  boundaries; no driver collect). Normal mode pops a distributed top-k;
  comprehensive mode ranks the content-free candidates once and fetches
  them in exact waves, so it fetches only URLs the reference attempts.
  Both skip the cut when the last state checkpoint observed |frontier| <=
  remaining budget (cand ⊆ frontier): one fetch, no rank job.
- the depth-0 seed frame (seed_id, base_url, base_domain, url) is built on
  the driver from the seed list: no Spark pass normalizes the input.
- every driver-held table (seed frame, robots rules, host caps, deny list,
  the global rank's partition offsets) is an Arrow LocalRelation
  (``session.local_frame``), the politeness tables built once per crawl:
  none runs a Python-worker stage to unpickle its rows.
- the fetch is pluggable: in production a politeness-gated HTTP
  mapInPandas (``sources/httpfetch.HttpFetcher``); in tests/bench the
  corpus join (``TableFetcher``,
  candidate side broadcast — the site table scan is a simulation artifact,
  not the design point).
- per-superstep state has ONE path: append-only seen/frontier parts
  advanced by one checkpoint job (``_checkpoint_state``); a durable crawl
  (run_dir) adds a parquet commit of that state (``_commit``) => resume.
  A step after which no superstep runs, depth 0 included, checkpoints no
  state: it stays lazy, and a durable crawl commits it as it is.
"""

from __future__ import annotations

import json
import os
import time
import urllib.parse

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas
from ..functions import kernels, linkexpand, native, udfs
from ..oracle.crawl_oracle import CrawlConfig
from ..session import CACHE_LEVEL, local_frame, release
from . import bloom, ranking, robots

#: below this kept-page count the finalize (url, rank) table is broadcast
#: (~120 B/row -> ≤500 MB build side), so finalize never shuffles content;
#: above it the join falls back to a hash shuffle (10^10-frontier safe)
BROADCAST_RANK_MAX = 4_000_000

#: incremental-state crawls union one cached delta per superstep; past this
#: many parts the union is compacted into a single checkpoint so plan width
#: and per-scan task counts stay bounded on deep / auto-batched crawls
STATE_COMPACT_PARTS = 32


def _union_parts(parts: list[DataFrame]) -> DataFrame:
    """Lazy union of individually-materialized parts (append-only tables:
    seen = depth-0 checkpoint + one cached attempt set per superstep;
    frontier = depth-0 checkpoint + one checkpointed fresh-link delta per
    superstep; pages = one part per superstep). Scanning the union costs the
    same as scanning one checkpointed table of the same rows; building it
    writes nothing."""
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: column layout of the combined state checkpoint: every state table is one
#: 'kind' of a single union, the columns it does not have left null
_STATE_COLS = {
    "url": "string", "seed_id": "int", "base_url": "string",
    "base_domain": "string", "depth": "int", "bucket": "int", "bitmap": "binary", "n_keys": "long",
}


def _lineage(counts) -> dict[str, int]:
    """Per-bucket counts as metrics record them: non-empty buckets only."""
    return {str(b): int(n) for b, n in enumerate(counts) if n}


def _state_part(df: DataFrame, kind: str, cols: tuple[str, ...]) -> DataFrame:
    """``df``'s ``cols`` in the combined-state layout, tagged ``kind``."""
    return df.select(F.lit(kind).alias("kind"), *[
        F.col(c) if c in cols else F.lit(None).cast(t).alias(c)
        for c, t in _STATE_COLS.items()
    ])


def _sql_string(s: str) -> str:
    """``s`` as a Spark SQL string literal (the parser's default backslash
    escaping): any character round-trips, quotes and backslashes included."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


class TableFetcher:
    """Fetch simulation: join the attempt set with the site_pages corpus on
    canonical URL. The reference's ``crawler.arun`` (crawler/web_crawler.py:
    93-103) becomes a broadcast join of the (small) per-superstep attempt set
    against the corpus."""

    # IN-list pushdown bound: past this the In-list itself is the bottleneck
    # (expression tree size, per-batch evaluation) and a scan-side prefilter
    # stops paying for itself vs just streaming the corpus into the join.
    # crawl() passes url_hint= only to a fetcher that declares a positive
    # URL_HINT_MAX, so one with the plain fetch(cand) signature keeps working
    URL_HINT_MAX = 8192

    def __init__(self, site_pages: DataFrame):
        self.site = site_pages

    def fetch(self, cand: DataFrame, url_hint: list[str] | None = None) -> DataFrame:
        """cand(url, ...) -> cand + (found, success, title, content, wc, out_links).

        Left join preserving the attempt set; the per-superstep attempt set is
        the small side, the corpus the big one — AQE converts this to a
        broadcast of whichever side is actually small at runtime. (In
        production fetch is HTTP via mapInPandas; this join only exists in the
        simulator, so its scan cost is not the scale design point.)

        url_hint: when the caller already knows the complete candidate URL
        set driver-side (depth 0: the normalized seed list — no collect
        involved), push it into the corpus scan as an In-predicate. Against a
        cached corpus sorted within partitions by url this prunes whole
        columnar batches via their min/max stats; against a parquet/Iceberg
        source it prunes row groups / data files. This is the scan-pruning
        an Iceberg seed-lookup would get from metadata for free, and it is
        semantics-free: filtering the RIGHT side of a left-outer equi-join
        to a superset of the left side's keys cannot change the result.
        """
        site = self.site
        if url_hint is not None and len(url_hint) <= self.URL_HINT_MAX:
            # one parsed IN-list (the plan isin() builds), not one py4j
            # literal call per url (~0.6 ms each on the driver)
            in_list = ", ".join(map(_sql_string, url_hint))
            site = site.filter(F.expr(f"url IN ({in_list})" if url_hint else "false"))
        site = site.select(
            "url", "title", "spans", "out_links", "fetch_ok"
        ).withColumn("found", F.lit(True))
        # SHUFFLE_HASH on the attempt side: the left-outer join preserves
        # cand, so the corpus side can never be broadcast; without the hint
        # the planner falls back to SortMergeJoin (cand's python-UDF lineage
        # has no stats) and re-sorts the FULL wide corpus on every superstep.
        # With it, the tiny attempt set builds the hash table (LeftOuter +
        # BuildLeft) and the cached corpus streams partition-aligned.
        joined = cand.hint("SHUFFLE_HASH").join(site, "url", "left")
        return _fetch_post(
            joined.withColumn("found", F.coalesce(F.col("found"), F.lit(False)))
        )


def _fetch_post(df: DataFrame) -> DataFrame:
    """Shared fetch post-processing (TableFetcher + ClosedFormFetcher):
    derive content/wc/success from (found, spans, fetch_ok) with the SAME
    JVM expressions so both fetch modes are bit-identical downstream."""
    return (
        df.withColumn(
            "content",
            F.when(F.col("found"), udfs.spans_to_content(F.col("spans"))).otherwise(F.lit(None)),
        )
        .withColumn(
            "wc",
            F.when(F.col("found"), udfs.native_word_count(F.col("content"))).otherwise(F.lit(0)),
        )
        .withColumn("success", F.col("found") & F.coalesce(F.col("fetch_ok"), F.lit(False)))
    )


class ClosedFormFetcher:
    """HTTP-shaped fetch against the closed-form corpus
    (sources/cfcorpus.py): a mapInPandas that evaluates each candidate URL's
    page in O(1) — per-candidate work only, NO documents-table scan.

    This is the production fetcher's exact cost shape (the reference fetches
    each URL over HTTP and parses it: crawler/web_crawler.py:93-103 — work
    proportional to |candidates|, never to the corpus), so the scaling
    matrix uses it to measure the frontier ENGINE separated from the
    documents-table scan that TableFetcher adds (BENCH_SCALING.md). Parity:
    tests/test_cf_fetcher.py proves it byte-equal to TableFetcher over the
    parquet written by generate_corpus_cf from the same params.
    """

    def __init__(self, seed: int, n_hosts: int, pages_per_host: int,
                 out_links: int = 40, host_offset: int = 0):
        self.params = (seed, n_hosts, pages_per_host, out_links, host_offset)

    def fetch(self, cand: DataFrame) -> DataFrame:
        from pyspark.sql.types import (
            ArrayType, BooleanType, IntegerType, StringType, StructField,
            StructType,
        )

        seed, n_hosts, pages_per_host, out_links, host_offset = self.params
        span_t = StructType([
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ])
        out_schema = StructType(
            list(cand.schema.fields)
            + [
                StructField("title", StringType()),
                StructField("spans", ArrayType(span_t)),
                StructField("out_links", ArrayType(StringType())),
                StructField("fetch_ok", BooleanType()),
                StructField("found", BooleanType()),
            ]
        )

        # Spread candidates across fetch workers BEFORE the narrow
        # mapInPandas: candidates arrive as slim (url, meta) rows, so AQE
        # sizes their post-shuffle partitions by PRE-fetch bytes and
        # coalesces millions of them into a handful of partitions — the
        # fetch (which fans each row out ~50x into spans/links/content)
        # would then run near-serially and everything downstream of the
        # attempt cache would inherit the same few fat partitions (measured:
        # cf crawl 2x slower than the table join at 8 cores, ANTI-scaling to
        # 32). An HTTP fetch scheduler does exactly this spread when it
        # assigns URLs to fetcher workers. Round-robin, not hash: perfectly
        # even load, and the url-hash locality the table join needed is
        # irrelevant here.
        n_fetch = int(cand.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        cand = cand.repartition(n_fetch)

        def gen(batches):
            # executors import from the shipped package zip
            from web2llmstxt_spark.sources import cfcorpus

            for pdf in batches:
                titles, spans_c, links_c, oks, founds = [], [], [], [], []
                for url in pdf["url"]:
                    loc = cfcorpus.invert_url(
                        url, seed, n_hosts, pages_per_host, host_offset
                    )
                    if loc is None:
                        titles.append(None); spans_c.append(None)
                        links_c.append(None); oks.append(None)
                        founds.append(False)
                    else:
                        row = cfcorpus.page_fields(
                            seed, loc[0], loc[1], pages_per_host, out_links
                        )
                        titles.append(row["title"])
                        spans_c.append(row["spans"])
                        links_c.append(row["out_links"])
                        oks.append(row["fetch_ok"])
                        founds.append(True)
                out = pdf.copy()
                out["title"] = titles
                out["spans"] = spans_c
                out["out_links"] = links_c
                out["fetch_ok"] = oks
                out["found"] = founds
                yield out

        return _fetch_post(cand.mapInPandas(gen, out_schema))


class FrontierCrawler:
    def __init__(
        self,
        spark: SparkSession,
        site_pages: DataFrame,
        cfg: CrawlConfig,
        robots_rules: list[tuple] | None = None,   # (host, agent, rule, prefix)
        run_dir: str | None = None,
        num_buckets: int = 32,
        use_bloom: bool = True,
        run_id: str = "run",
        fetcher=None,
        salt_hosts: dict[str, int] | None = None,
    ):
        self.spark = spark
        self.cfg = cfg
        # pluggable fetch seam (T5): default corpus-join simulator; tests
        # inject operators/retry.RetryingFetcher over a flaky transport;
        # production injects the HTTP RetryingFetcher.
        self.fetcher = fetcher if fetcher is not None else TableFetcher(site_pages)
        self.run_dir = run_dir
        self.num_buckets = num_buckets
        self.use_bloom = use_bloom and cfg.seen_prefilter
        # north-rule skew salting: skewed host -> fan-out k; threaded through
        # every Bloom bucket derivation (operators/bloom._bucket_col) so one
        # mega-host's URLs spread over k partitions on both the bitmap and
        # probe sides. Results are unchanged (test_salted_crawl_parity).
        self.salt_hosts = salt_hosts
        self.run_id = run_id
        self.metrics: list[dict] = []
        # every cache and checkpoint the crawl takes; the crawl's output
        # reads them lazily, so they live until its owner calls release()
        self._held: list[DataFrame] = []
        # incremental Bloom state (north rule "merged per superstep"): the
        # accumulated per-bucket bitmaps; each superstep ORs in only the
        # attempted-URL delta. Doubling rebuild when a bucket outgrows
        # BITS_PER_KEY load. Counters exposed for tests/metrics.
        self._bloom: DataFrame | None = None
        self.bloom_m_bits = bloom.DEFAULT_M_BITS
        self.bloom_rebuilds = 0
        self.bloom_deltas = 0
        self._bloom_rebuild_pending = False
        # S6 enforcement: policies stay a per-host rule-array DataFrame
        # broadcast-joined to candidates with a Column-algebra longest-prefix
        # decision (robots.enforce_robots_join) — no Python rules dict in
        # task closures, no per-rule plan growth, works at 10^6+ hosts
        self._robots_rules_df: DataFrame | None = None
        self._robots_broadcastable = True
        if cfg.enforce_robots and robots_rules:
            rules_by_host: dict = {}
            for host, _agent, rule, prefix in robots_rules:
                rules_by_host.setdefault(host, []).append((rule, prefix))
            self._robots_broadcastable = (
                len(robots_rules) <= robots.ROBOTS_BROADCAST_MAX_RULES
            )
            self._robots_rules_df = robots.rules_array_from_list(spark, rules_by_host)
        # the politeness tables, built once per crawl like the robots table.
        # All three are driver-held LocalRelations (session.local_frame):
        # nothing to cache, and no Python-worker stage on first use
        self._deny_df = self._caps_df = None
        if cfg.deny_hosts:
            self._deny_df = local_frame(
                spark, [(h,) for h in sorted(cfg.deny_hosts)], "host string"
            )
        if cfg.host_caps:
            self._caps_df = local_frame(
                spark, cfg.host_caps.items(), "host string, cap int"
            )

    # ------------------------------------------------------------------ utils
    def _with_host(self, df: DataFrame, url_col: str = "url") -> DataFrame:
        return df.withColumn("host", F.lower(F.parse_url(F.col(url_col), F.lit("HOST"))))

    def _bucketed(self, df: DataFrame, url_col: str = "url",
                  salt_hosts: dict[str, int] | None = None) -> DataFrame:
        """Host-hash partitioning (north rule): co-locates a host's URLs so
        URL-seen filter state and politeness decisions are partition-local.

        Delegates the bucket id to ``bloom._bucket_col`` — ONE salted,
        JVM-native implementation shared with the live Bloom prefilter path
        (see its docstring for the salting contract; AQE skew-join handles
        residual skew)."""
        df = self._with_host(df, url_col)
        df = df.withColumn(
            "bucket", bloom._bucket_col(F.col(url_col), self.num_buckets, salt_hosts)
        )
        return df.repartition(self.num_buckets, "bucket")

    def _bucket(self):
        """The salted bucket id of ``url`` that partitions the Bloom/seen
        state (bloom._bucket_col): lineage keyed by it names a partition."""
        return bloom._bucket_col(F.col("url"), self.num_buckets, self.salt_hosts)

    def _bucket_counts(self, where: str):
        """Per-bucket counts of the rows where the SQL predicate ``where``
        holds (over a ``bucket`` column) as ONE array aggregate: per-partition
        lineage that rides an action or Observation the step already runs,
        never a job. Built as one SQL expression: one py4j call, not
        num_buckets Column trees assembled call by call on the driver."""
        return F.expr("array({})".format(", ".join(
            f"count_if(({where}) AND bucket = {i})" for i in range(self.num_buckets)
        )))

    def _commit(self, superstep: int, pages: DataFrame, seen: DataFrame,
                frontier: DataFrame, entry: dict, fresh: DataFrame | None = None) -> None:
        """Durable commit of superstep N: write the tables the step already
        holds (schemas.SNAPSHOTS), then ``entry`` as metrics.json, then LAST
        ``_COMMIT`` — a crash anywhere before it rolls resume back to N-1.
        Runs under the step's state job description; its wall is added to
        the entry's state_ms and wall_ms. ``fresh``: an exiting step's
        frontier delta, never materialized (dead state) — written with
        ``frontier`` (None: depth 0 exits, ``fresh`` is the whole
        frontier), its lineage observed on that write."""
        t = time.time()
        obs = None
        if fresh is not None:
            obs = Observation(f"commit_{self.run_id}_{superstep}")
            fresh = (
                fresh.withColumn("bucket", self._bucket())
                .observe(obs, self._bucket_counts("true").alias("by_bucket"))
                .drop("bucket")
            )
            frontier = fresh if frontier is None else frontier.unionByName(fresh)
        base = os.path.join(self.run_dir, f"superstep={superstep}")
        for name, df in (("pages", pages), ("seen", seen), ("frontier", frontier)):
            schema = schemas.SNAPSHOTS[name]
            if [(f.name, f.dataType) for f in df.schema] != [
                (f.name, f.dataType) for f in schema
            ]:
                # read back with a stale schema it would lose columns
                raise ValueError(
                    f"{name} snapshot is {df.schema.simpleString()}, "
                    f"schemas.SNAPSHOTS says {schema.simpleString()}"
                )
            df.write.mode("overwrite").parquet(os.path.join(base, name))
        if obs is not None:
            held = entry["frontier_by_bucket"]
            entry["frontier_by_bucket"] = _lineage(
                held.get(str(b), 0) + n for b, n in enumerate(obs.get["by_bucket"]))
        ms = int((time.time() - t) * 1000)
        entry["state_ms"] += ms
        entry["wall_ms"] += ms
        with open(os.path.join(base, "metrics.json"), "w") as f:
            json.dump(entry, f)
        with open(os.path.join(base, "_COMMIT"), "w") as f:
            f.write("ok")

    # ------------------------------------------------------- superstep state
    def _filter_state(self, urls: DataFrame, state: DataFrame | None = None) -> DataFrame:
        """Bloom bitmaps over ``urls`` ORed into ``state`` (None: a fresh
        filter), as a lazy plan at the current ``bloom_m_bits``.

        The ONE place the filter is built: salt_hosts must reach the build
        side (a salted host's keys must land in the bucket the probe reads,
        else they become false negatives and are re-crawled)."""
        delta = bloom.delta_bitmaps(
            urls, self.num_buckets, self.bloom_m_bits, self.salt_hosts
        )
        return bloom.merge_bitmaps(state, delta)

    def _advance_bloom(self, attempted_urls: DataFrame, seen_next: DataFrame):
        """Next Bloom state as a lazy plan: OR in only this superstep's
        attempted URLs (O(|delta|), the round-1 fix vs rebuilding from the
        full seen table), or — when a bucket outgrew its load factor — a
        doubling rebuild from seen (amortized O(log n) full scans total)."""
        if self._bloom_rebuild_pending or self._bloom is None:
            if self._bloom is not None:
                self.bloom_m_bits *= 2
                self.bloom_rebuilds += 1
            self._bloom_rebuild_pending = False
            return self._filter_state(seen_next)
        self.bloom_deltas += 1
        return self._filter_state(attempted_urls, self._bloom)

    def _fetch_attempts(
        self, todo: DataFrame, bound: int | None, materialized: bool = False,
        urls: list[str] | None = None,
    ) -> DataFrame:
        """The ONE fetch call of the crawl, depth 0 and every superstep.

        The rule: the fetcher gets ``url_hint=`` exactly when it declares a
        positive ``URL_HINT_MAX`` and the crawl knows the attempt set's URL
        list fits it; every other fetcher (ClosedFormFetcher, HTTP, a
        user-injected one) sees the plain ``fetch(todo)``.

        ``urls``: the URL list when the driver already holds it — depth 0's
        seed list, the crawl's input — so no job collects it. Later
        supersteps normally can't know it: the attempt set is distributed.
        But whenever it is PROVABLY small — ``bound``, from the previous
        state checkpoint's Observation of |frontier| (cand ⊆ frontier), the
        pop size or a cut wave's size — it is cheaper to materialize the
        candidate chain once (one tiny job; none when ``materialized``),
        ship the <= URL_HINT_MAX urls to the driver, and let the fetcher
        prune its corpus scan, than to stream the full documents table
        through the fetch join. That per-superstep O(|corpus|) stream is the
        measured table-mode scaling ceiling (BENCH_SCALING.md round-4:
        ~17 s/superstep at BOTH cluster sizes for a 2,718-URL superstep on
        the 6.4 M-page corpus); with the hint such supersteps touch only
        the columnar batches / row groups whose min-max straddle an
        attempted url. The hint is semantics-free (TableFetcher.fetch), and
        an unknown or too-large bound costs zero extra jobs.
        """
        f = self.fetcher
        hint_max = getattr(f, "URL_HINT_MAX", 0)
        if urls is None and bound is not None and 0 < bound <= hint_max:
            if not materialized:
                todo = todo.localCheckpoint(eager=True)
                self._held.append(todo)
            urls = [r[0] for r in todo.select("url").collect()]
        if urls and len(urls) <= hint_max:
            return f.fetch(todo, url_hint=urls)
        return f.fetch(todo)

    def _checkpoint_state(self, frontier_df: DataFrame, bloom_df: DataFrame | None,
                          tag, seen_df: DataFrame | None = None) -> tuple:
        """ONE combined checkpoint job for the superstep state (frontier,
        optional seen and Bloom bitmaps share a 'kind' discriminator), with
        an Observation riding the same job to return the frontier rows per
        state bucket (their sum is the row count) and the max per-bucket
        Bloom key count — no extra count() or groupBy actions.

        ``seen_df`` None is the incremental advance: ``frontier_df`` is only
        this superstep's frontier delta (already anti-joined disjoint from
        the live frontier) and the seen delta needs NO job at all — it is
        exactly the attempt set, which the superstep's stats action already
        materialized into the cache. With ``seen_df`` (depth 0, compaction)
        the whole state is checkpointed, durable crawl or not.

        Returns (seen or None, frontier, bloom_state, frontier_by_bucket).
        """
        link_cols = ("url", "seed_id", "base_url", "base_domain", "depth")
        parts = _state_part(
            frontier_df.withColumn("bucket", self._bucket()), "frontier",
            link_cols + ("bucket",),
        )
        if seen_df is not None:
            parts = _state_part(seen_df, "seen", ("url",)).unionByName(parts)
        if bloom_df is not None:
            parts = parts.unionByName(
                _state_part(bloom_df, "bloom", ("bucket", "bitmap", "n_keys"))
            )
        obs = Observation(f"state_{self.run_id}_{tag}")
        parts = parts.observe(
            obs,
            self._bucket_counts("kind = 'frontier'").alias("frontier_by_bucket"),
            F.max(F.when(F.col("kind") == "bloom", F.col("n_keys"))).alias("bloom_max_keys"),
        )
        state = parts.localCheckpoint(eager=True, storageLevel=CACHE_LEVEL)
        self._held.append(state)
        m = obs.get
        seen = None
        if seen_df is not None:
            seen = state.filter(F.col("kind") == "seen").select("url")
        frontier = state.filter(F.col("kind") == "frontier").select(*link_cols)
        bloom_state = None
        if bloom_df is not None:
            bloom_state = state.filter(F.col("kind") == "bloom").select(
                "bucket", "bitmap", "n_keys"
            )
            mk = m.get("bloom_max_keys")
            if mk is not None and bloom.needs_rebuild(int(mk), self.bloom_m_bits):
                self._bloom_rebuild_pending = True
        return seen, frontier, bloom_state, [int(n) for n in m["frontier_by_bucket"]]

    def _record(self, superstep: int, attempted: int, kept: int, total: int,
                pages_by_bucket, frontier_by_bucket, attempt_ms: int,
                t_state: float, t_step: float) -> dict:
        """Append superstep N's metrics entry — the same keys for depth 0
        and every superstep, durable or not — and return it."""
        now = time.time()
        entry = {
            "run_id": self.run_id,
            "superstep": superstep,
            "attempted": attempted,
            "pages_kept": kept,
            "pages_total": total,
            # attempt_ms = the whole attempt phase, from the superstep's start
            # to its stats result: prefilter, score, budget cut, fetch (depth
            # 0: the seed fetch); state_ms = the state checkpoint (+ a
            # durable commit)
            "attempt_ms": attempt_ms,
            "state_ms": int((now - t_state) * 1000),
            "wall_ms": int((now - t_step) * 1000),
            "bloom_deltas": self.bloom_deltas,
            "bloom_rebuilds": self.bloom_rebuilds,
            "bloom_m_bits": self.bloom_m_bits,
            "frontier_by_bucket": _lineage(frontier_by_bucket),
            "pages_by_bucket": _lineage(pages_by_bucket),
        }
        self.metrics.append(entry)
        return entry

    def _jobdesc(self, tag: str) -> None:
        """Crawl-phase tag for event-log / Spark-UI attribution: every job
        submitted after this carries ``crawl:<tag>`` in its description
        (scripts/analyze_eventlog.py groups stage walls by it). Driver-side
        only; zero effect on plans."""
        self.spark.sparkContext.setJobDescription(f"crawl:{tag}")

    # ------------------------------------------------------------------ crawl
    def crawl(self, seeds: list[tuple[int, str]], _resume=None):
        """Run the crawl; returns (pages_df, seen_df). pages_df is unsorted:
        its ``rank`` column is the crawl order.

        The config's policy values (``CrawlConfig``: BFS, one superstep per
        depth; ``oracle.bestfirst_oracle.BestFirstConfig``: batched
        best-first from one seed; ``operators.sitemap.SitemapConfig``: the
        seeds only, a sitemap's URL list) pick the scorer, the pop size,
        what the budget counts, where links come from and what the seen set
        holds; the loop is the same for all three.

        ``_resume=(last_superstep, pages, seen, frontier, metrics.json)``
        continues from a committed state/checkpoint.py snapshot instead of
        fetching the seeds again.

        The crawl tags its jobs ``crawl:<phase>``; the caller's job
        description is back in place when it returns or raises.
        """
        sc = self.spark.sparkContext
        caller = sc.getLocalProperty("spark.job.description")
        try:
            return self._crawl(seeds, _resume)
        finally:
            sc.setJobDescription(caller)

    def _crawl(self, seeds: list[tuple[int, str]], _resume):
        spark = self.spark
        cfg = self.cfg
        budget = cfg.effective_safety_limit
        t_crawl = time.time()
        # coarse phase walls for the scaling harness (depth-0 setup vs BSP
        # loop vs finalize); purely driver-side clocks, no extra jobs
        self.phase_walls: dict[str, int] = {}

        # The seed frame is built on the driver: the seed list IS the input,
        # so no Spark pass normalizes it. base_domain = urlparse(base_url)
        # .netloc (ref llmsgen/crawler/web_crawler.py:186 (pyc)). Dedup on
        # the NORMALIZED url: _finalize joins ranks back by url assuming
        # uniqueness; two seeds that normalize to one URL (trailing-slash or
        # host-case variants) would duplicate depth-0 rows and fan that join
        # out. Lowest seed_id wins, keeping the crawl order deterministic.
        seed_rows: dict[str, tuple] = {}
        for sid, base_url in sorted(seeds):
            url = kernels.normalize_url(base_url)
            seed_rows.setdefault(
                url, (sid, base_url, urllib.parse.urlparse(base_url).netloc, url))
        if cfg.scorer == "keywords":
            # best-first scores every URL against its one site's keywords
            if len(seed_rows) != 1:
                raise ValueError(f"a best-first crawl has one seed, got {len(seed_rows)}")
            keywords = kernels.bestfirst_keywords(next(iter(seed_rows.values()))[1])
            score = native.keyword_score_native(F.col("url"), keywords)
        else:
            score = native.score_url_native(F.col("url"), F.col("base_url"))
        seeds_df = local_frame(
            spark, seed_rows.values(),
            "seed_id int, base_url string, base_domain string, url string",
        )
        seed_urls = sorted(seed_rows)
        n_seeds = len(seed_urls)  # superstep 0's `attempted`, without a job

        # --- depth 0: the seeds (BFS main pages, ref :196-206 (pyc))
        # The seed URL set is known driver-side (it IS the input), so the
        # fetch gets it as the URL hint without a collect: the corpus scan
        # prunes columnar batches / parquet row groups instead of streaming
        # the full table to probe |seeds| keys.
        fetched0 = self._fetch_attempts(seeds_df, None, urls=seed_urls)
        main = (
            fetched0.filter(F.col("success"))
            .withColumn("title2", udfs.extract_title_udf(F.col("title"), F.col("content"), F.col("url")))
            .withColumn("score", F.lit(cfg.seed_score))
            .withColumn("depth", F.lit(0))
            .withColumn("discovery_phase", F.lit(cfg.seed_phase))
        )
        pages_cols = [
            "url",
            F.col("title2").alias("title"),
            "content",
            F.col("wc").alias("word_count"),
            "score",
            "depth",
            "discovery_phase",
            "seed_id",
        ]
        # ONE materialization of the depth-0 fetch: pages AND link expansion
        # both read this cache — without it the state checkpoint re-ran the
        # fetch join (a second full corpus stream) just to get out_links
        main0 = main.select(*pages_cols, "out_links", "base_url", "base_domain")
        PAGES_COL_NAMES = [
            "url", "title", "content", "word_count",
            "score", "depth", "discovery_phase", "seed_id",
        ]
        LINK_COL_NAMES = ["url", "out_links", "seed_id", "base_url", "base_domain", "depth"]
        start_depth = 1
        # the last superstep: BFS runs one per depth; a best-first superstep
        # is a pop, and the budget or an empty queue ends the crawl
        last_depth = cfg.depth_limit if cfg.superstep_is_depth else budget
        fresh = None
        # Known frontier size (the last state checkpoint's Observation, or a
        # resumed superstep's metrics.json): lets the budget cut be SKIPPED
        # without a count job whenever |frontier| fits the pop, and bounds
        # the attempt set for the fetch's URL hint. Less the URLs popped
        # from it (every attempt but a BFS seed's), it bounds the queue: an
        # empty queue ends the crawl without a job.
        attempts = n_seeds
        unqueued = 0 if cfg.seen_on_enqueue else n_seeds
        if _resume is not None:
            last, pages, seen, frontier, committed = _resume
            pages_count = committed["pages_total"]
            held = committed["frontier_by_bucket"]
            frontier_buckets = [held.get(str(b), 0) for b in range(self.num_buckets)]
            if sum(frontier_buckets) != sum(held.values()):  # a wrong size would mis-cut
                raise ValueError("resume needs the num_buckets the run committed with")
            # a BFS page's superstep is its depth
            all_pages = [pages.withColumn("__step", F.col("depth"))]
            if last >= cfg.depth_limit or pages_count >= budget:
                # the committed superstep was the last one: nothing to run
                return self._finalize(all_pages, pages_count), seen
            start_depth = last + 1
            if self.use_bloom:  # resume: rebuild filter state from seen ONCE
                self._jobdesc("d0-state")
                self._bloom = self._filter_state(seen).localCheckpoint(eager=True)
                self._held.append(self._bloom)
        else:
            main0 = main0.persist(CACHE_LEVEL)
            self._held.append(main0)
            seed_kept = (F.lit(True) if cfg.seed_min_words is None
                         else F.col("word_count") >= cfg.seed_min_words)
            pages = main0.filter(seed_kept).select(*PAGES_COL_NAMES, F.lit(0).alias("__step"))
            self._jobdesc("d0-fetch")
            pages_by_bucket = main0.select(
                self._bucket().alias("bucket"), seed_kept.alias("kept")
            ).agg(self._bucket_counts("kept")).first()[0]
            pages_count = sum(pages_by_bucket)
            d0_fetch_ms = int((time.time() - t_crawl) * 1000)
            # seen on enqueue: the seeds are queued URLs like the links, in
            # seen whether or not their fetch succeeds; else only the
            # fetched seeds are seen (ref :196-206)
            seen0 = (seeds_df if cfg.seen_on_enqueue else main0).select("url")
            links0 = self._new_links(
                main0.filter(F.col("depth") < cfg.depth_limit).select(*LINK_COL_NAMES))
            if cfg.seen_on_enqueue:
                queued = seeds_df.withColumn("depth", F.lit(0))
                links0 = links0.join(queued.select("url"), "url", "left_anti").unionByName(
                    queued)
            self._jobdesc("d0-state")
            t_d0s = time.time()
            spent = attempts if cfg.budget_counts_attempts else pages_count
            if 0 < last_depth and spent < budget:
                bloom0 = self._filter_state(seen0) if self.use_bloom else None
                seen, frontier, self._bloom, frontier_buckets = self._checkpoint_state(
                    links0, bloom0, 0, seen_df=seen0,
                )
            else:
                # the exit rule of every superstep: no superstep will read
                # the state, so it stays lazy and no state job runs
                seen, frontier, fresh = seen0, None, links0
                frontier_buckets = [0] * self.num_buckets
            entry = self._record(
                0, n_seeds, pages_count, pages_count, pages_by_bucket,
                frontier_buckets, d0_fetch_ms, t_d0s, t_crawl,
            )
            if self.run_dir is not None:
                self._commit(0, pages.drop("__step"), seen, frontier, entry, fresh)
            self.phase_walls["d0_fetch_ms"] = d0_fetch_ms
            self.phase_walls["d0_state_ms"] = entry["state_ms"]
            all_pages = [pages]

        self.phase_walls["depth0_ms"] = int((time.time() - t_crawl) * 1000)
        # append-only state parts: seen grows by each superstep's attempt
        # set, frontier by each checkpointed fresh-link delta
        seen_parts: list[DataFrame] = [seen]
        frontier_parts: list[DataFrame] = [frontier]
        t_loop = time.time()
        # --- supersteps (ref :211-246 (pyc)) --------------------------------
        for depth in range(start_depth, last_depth + 1):
            spent = attempts if cfg.budget_counts_attempts else pages_count
            frontier_count = sum(frontier_buckets)
            if spent >= budget or frontier_count == attempts - unqueued:  # :212 / :216
                break
            self._jobdesc(f"ss{depth}-attempt")
            t0 = time.time()
            remaining = budget - spent
            k = remaining if cfg.batch_size is None else min(cfg.batch_size, remaining)

            if self.use_bloom:
                # Bloom fast path + exact check on maybes == exact anti-join;
                # bitmaps are accumulated state, NOT rebuilt from seen
                cand = bloom.prefilter_with_state(
                    frontier, self._bloom, seen, self.num_buckets, self.salt_hosts
                )
            else:
                # J1 exact. An outer join, not left_anti: the optimizer
                # pushes a left_anti join below the frontier's union, one
                # join per part, and adaptive execution then scans seen's
                # cached parts once per frontier part
                cand = (
                    frontier.join(seen.withColumn("__seen", F.lit(True)), "url", "left")
                    .filter(F.col("__seen").isNull())
                    .drop("__seen")
                )

            cand = cand.withColumn("score", score).withColumn(
                "depth", F.lit(depth) if cfg.superstep_is_depth else F.col("depth"))
            cand = cand.filter(F.col("score") > F.lit(cfg.score_threshold))  # :218
            if self._robots_rules_df is not None:
                cand = robots.enforce_robots_join(
                    cand, self._robots_rules_df, broadcast=self._robots_broadcastable
                )
            if self._deny_df is not None:
                # trap-host denylist (operators/traps): enforcement is a
                # broadcast anti-join, same cost shape as the robots chain —
                # the detector's output plugs in here without touching the
                # hot path when the list is empty
                cand = (
                    self._with_host(cand)
                    .join(F.broadcast(self._deny_df), "host", "left_anti")
                    .drop("host")
                )
            if self._caps_df is not None:
                cand = self._with_host(cand)
                w_host = Window.partitionBy("host").orderBy(F.desc("score"), F.asc("url"))
                cand = (
                    cand.join(F.broadcast(self._caps_df), "host", "left")
                    .withColumn("hrank", F.row_number().over(w_host))
                    .filter(F.col("cap").isNull() | (F.col("hrank") <= F.col("cap")))
                    .drop("cap", "hrank", "host")
                )

            # cand ⊆ frontier: unless the last checkpoint observed
            # |frontier| > k, every candidate is attempted in one fetch and
            # no rank job runs (usually only one superstep per crawl is cut)
            cut = frontier_count > k
            todo, bound, ranked = cand, frontier_count, None
            if cut and cfg.comprehensive:
                # no slice (:220); budget bites mid-depth (:227): a candidate
                # is attempted iff fewer than `remaining` successes precede
                # it in the priority order, which the fetch does not change,
                # so rank once; the waves scan the checkpoint, not the rank
                ranked = ranking.global_rank(
                    cand, (F.desc("score"), F.asc("url")), "__r",  # canonical Q1 tie-break
                    caches=self._held,
                ).localCheckpoint(eager=True)
                self._held.append(ranked)
            elif cut:
                # the pop (:220 slice; best-first's batch): the top k by
                # (score desc, depth asc, url asc) — a BFS superstep's
                # candidates share one depth, so that is its (score desc,
                # url asc) order (Q1)
                todo = ranking.top_k(cand, (F.desc("score"), F.asc("depth"), F.asc("url")),
                                     k, caches=self._held)
                bound = k
            # A ranked cut fetches waves of the next `remaining - added`
            # candidates (each has fewer than `remaining` successes before
            # it, so the reference attempts it) up to the `remaining`-th
            # success or a short wave. Each wave's stats action caches the
            # lazy chain and returns its counters and per-bucket lineage: a
            # fetch completes before the next starts. attempt_ms: t0 to last.
            kept = F.col("success") & (F.col("wc") >= cfg.min_words)  # :237
            waves: list[DataFrame] = []
            attempted_count = added = 0
            pages_by_bucket = [0] * self.num_buckets
            while True:
                if ranked is not None:
                    bound = remaining - added
                    todo = ranked.filter(F.col("__r").between(
                        attempted_count + 1, attempted_count + bound)).drop("__r")
                wave = self._fetch_attempts(todo, bound, materialized=cut).persist(CACHE_LEVEL)
                self._held.append(wave)  # lazy pages and seen read it
                waves.append(wave)
                n, by_bucket = wave.select(
                    self._bucket().alias("bucket"), kept.alias("kept")
                ).agg(F.count("*"), self._bucket_counts("kept")).first()
                attempted_count += n
                pages_by_bucket = [a + b for a, b in zip(pages_by_bucket, by_bucket)]
                added = sum(pages_by_bucket)
                if ranked is None or n < bound or added >= remaining:
                    break
            attempt_ms = int((time.time() - t0) * 1000)
            if attempted_count == 0:                       # :216/:221
                break
            attempted = _union_parts(waves)
            if len(waves) > 1:
                # each later, small wave adds partitions, so tasks and Python
                # workers, to every reader: keep the first wave's count
                attempted = attempted.coalesce(waves[0].rdd.getNumPartitions())

            new_pages = (
                attempted.filter(kept)
                .withColumn("title2", udfs.extract_title_udf(F.col("title"), F.col("content"), F.col("url")))
                .withColumn("discovery_phase", F.lit(cfg.phase.format(depth)))
            )
            new_pages = new_pages.select(*pages_cols, F.lit(depth).alias("__step"))
            pages_count += added
            attempts += attempted_count
            spent = attempts if cfg.budget_counts_attempts else pages_count

            # Q5. Plain union, NO dropDuplicates: `attempted` is exactly
            # anti-joined against `seen` (Bloom path == exact path, audited),
            # and internally distinct (attempted ⊆ cand ⊆ frontier; frontier
            # urls are groupBy-dedup'd at discovery; the fetch join is
            # row-preserving on the unique-url corpus). A dedup here
            # re-shuffled the FULL seen set every superstep — O(|seen|)
            # per-superstep shuffle for an invariant that already holds.
            seen_next = seen.unionByName(attempted.select("url"))
            if depth < last_depth:                         # Q7: last depth no expand
                # the expanded attempts' rows carry their links (url is
                # unique in attempted), so they come from the cache, no join
                linked = F.col("success") if cfg.links_from_fetches else kept
                links = self._new_links(
                    attempted.filter(linked & (F.col("depth") < cfg.depth_limit))
                    .select(*LINK_COL_NAMES)
                )
                # Q6: union AFTER the depth; first-discovery ctx wins; a URL
                # ever in the frontier is never queued again
                fresh = links.join(frontier, "url", "left_anti")

            # The loop exits after this superstep when the depth limit or the
            # page budget is reached — then frontier/Bloom state is dead
            # weight: the frontier delta checkpoint and the Bloom delta build
            # (4 probe positions/URL) would never be read. The last
            # superstep is typically the LARGEST (budget exhaustion), so
            # skipping its state advance removes the single biggest
            # checkpoint. A resume from it runs no superstep either.
            will_continue = depth < last_depth and spent < budget
            self._jobdesc(f"ss{depth}-state")
            t_state = time.time()
            if self.run_dir is not None:
                # the commit writes the step's pages and the finalize and
                # the crawl's consumer read them again; without a commit the
                # finalize reads a content-free projection, and the one full
                # read is the consumer's
                new_pages = new_pages.persist(CACHE_LEVEL)
                self._held.append(new_pages)
            if will_continue:
                # INCREMENTAL state advance, O(|delta|) per superstep: both
                # state tables are append-only (seen grows by exactly this
                # superstep's attempt set, which is ALREADY cached; frontier
                # by `fresh`, already anti-joined disjoint), so only the
                # frontier delta + Bloom bitmaps are checkpointed — ONE
                # combined job with an Observation returning |fresh| per
                # bucket for free — and the live tables become lazy unions
                # of cached parts. Re-checkpointing the FULL seen+frontier
                # every superstep cost O(|state|) memory-bus read+write per
                # superstep, the `ss-state` term the round-4 scaling
                # decomposition measured at eff 0.78 (BENCH_SCALING.md).
                # Reads over the union cost the same as over one table
                # (each part is individually materialized; the columnar
                # cache still prunes to `url`). Compacted back into one
                # checkpoint every STATE_COMPACT_PARTS supersteps so plan
                # width stays bounded on deep/auto-batched crawls.
                bloom_next = (
                    self._advance_bloom(attempted.select("url"), seen_next)
                    if self.use_bloom else None
                )
                seen_parts.append(attempted.select("url"))
                _, fresh_ckpt, self._bloom, fresh_buckets = self._checkpoint_state(
                    fresh, bloom_next, depth
                )
                frontier_parts.append(fresh_ckpt)
                frontier_buckets = [a + b for a, b in zip(frontier_buckets, fresh_buckets)]
                fresh = None  # now part of the frontier
                if len(frontier_parts) > STATE_COMPACT_PARTS:
                    seen, frontier, self._bloom, _ = self._checkpoint_state(
                        _union_parts(frontier_parts), self._bloom, f"{depth}c",
                        seen_df=_union_parts(seen_parts),
                    )
                    seen_parts = [seen]
                    frontier_parts = [frontier]
                else:
                    seen = _union_parts(seen_parts)
                    frontier = _union_parts(frontier_parts)
            else:
                # exiting: seen stays lazy on (checkpointed seen ∪ cached
                # attempted) — shallow lineage, no full-state job. self._bloom
                # and frontier intentionally stay ONE superstep behind seen
                # here; null the Bloom state so any future post-crawl consumer
                # (in-memory re-crawl, bitmap metrics probe) fails loudly on
                # the stale handle instead of silently reading old state
                seen = seen_next
                self._bloom = None
            all_pages.append(new_pages)
            entry = self._record(
                depth, attempted_count, added, pages_count, pages_by_bucket,
                frontier_buckets, attempt_ms, t_state, t0,
            )
            if self.run_dir is not None:
                # the exit superstep's frontier is frontier ∪ fresh, lazy
                self._commit(depth, new_pages.drop("__step"), seen, frontier, entry, fresh)

        if cfg.seen_on_enqueue:
            # seen on enqueue: every URL ever queued, the exit superstep's
            # fresh links included
            seen = _union_parts([df for df in (frontier, fresh) if df is not None])
            seen = seen.select("url")
        self.phase_walls["loop_ms"] = int((time.time() - t_loop) * 1000)
        self._jobdesc("finalize")
        t_fin = time.time()
        out = self._finalize(all_pages, pages_count), seen
        self.phase_walls["finalize_ms"] = int((time.time() - t_fin) * 1000)
        return out

    def _finalize(self, all_pages: list[DataFrame], n_pages: int | None = None) -> DataFrame:
        """Union per-superstep pages + assign the exact crawl order ONCE:
        superstep by superstep, in pop order (score desc, depth asc, url
        asc); the seeds' superstep in seed order (multi-seed
        canonicalization). A BFS superstep is one depth.

        ``n_pages`` (the already-known kept-page count) picks the join-back
        strategy: below BROADCAST_RANK_MAX the (url, rank) table is
        broadcast, so page content never shuffles AT ALL during finalize;
        above it (or unknown) a hash join shuffles content once.
        """
        result = _union_parts(all_pages).withColumn(
            "__seed0",
            F.when(F.col("depth") == 0, F.col("seed_id")).otherwise(F.lit(0)),
        )
        final_order = (
            F.col("__step").asc(),
            F.col("__seed0").asc(),
            F.col("score").desc(),
            F.col("depth").asc(),
            F.col("url").asc(),
        )
        # Rank a CONTENT-FREE projection, then join ranks back by url: page
        # content never crosses the rank's range shuffle nor its eager
        # checkpoint (at 10^6+ pages that was a ~2 GB serial crawl tail; the
        # slim rows are ~2% of that). The join-back left side keeps the fetch
        # join's url-hash partitioning through persist/union, so typically
        # only the (url, rank) table shuffles. url is unique per page (seen
        # dedup), so the inner join is exactly row-preserving.
        slim = result.select("url", "__step", "__seed0", "score", "depth")
        ranked = ranking.global_rank(
            slim, final_order, "rank", caches=self._held
        ).select("url", "rank")
        if n_pages is not None and n_pages <= BROADCAST_RANK_MAX:
            ranked = F.broadcast(ranked)
        result = result.drop("__seed0", "__step").join(ranked, "url")
        # rank IS the crawl order; returning unsorted saves a full-content
        # range-shuffle sort that every consumer either redoes (sinks,
        # pipeline: .orderBy("rank") at the point of use) or never needs
        # (distill, dedup, profiling are order-free).
        return result

    def release(self) -> None:
        """Free every cache and checkpoint the crawl took. Call it once
        nothing will read the crawl's output again: its pages and seen
        DataFrames read these blocks lazily."""
        release(self._held)
        self._held = []

    # ------------------------------------------------------------- link expand
    def _new_links(self, pages_with_links: DataFrame) -> DataFrame:
        """JVM-first link expansion + per-url first-context dedup: the
        lowest parent depth (+1), then the lowest seed_id.
        ``linkexpand.expand_links`` keeps resolution + the common normalize
        case inside whole-stage codegen (the pandas-UDF kernel runs only on
        query/fragment/unicode links); the global groupBy subsumes the
        kernel's per-page set dedup (same result, proven by
        tests/test_linkexpand.py + the frontier parity suite)."""
        links = linkexpand.expand_links(
            pages_with_links,
            "out_links",
            F.col("base_url"),
            F.col("base_domain"),
            ["depth", "seed_id", "base_url", "base_domain"],
        )
        return (
            links.groupBy("url")
            .agg(F.min(F.struct("depth", "seed_id", "base_url", "base_domain")).alias("ctx"))
            .select(
                "url", "ctx.seed_id", "ctx.base_url", "ctx.base_domain",
                (F.col("ctx.depth") + 1).alias("depth"),
            )
        )
