"""BestFirst crawl strategy as Spark supersteps (the reference's default
non-systematic path).

Rebuilds ``crawl_website`` — Crawl4AI ``BestFirstCrawlingStrategy`` +
``KeywordRelevanceScorer`` (v1 crawler/web_crawler.py:192-369; v2
llmsgen/crawler/web_crawler.py:251+ (pyc)) — against the pinned deterministic
spec in ``oracle/bestfirst_oracle.py`` (page-for-page parity-tested).

Each superstep is one declarative plan over distributed state:

    frontier ──top-B by (score desc, depth asc, url asc)──► FETCH ──►
    emit pages (wc > 50) ──► explode links ──► keyword-score ──►
    anti-join(seen) ──► union into frontier; seen += enqueued

Scale design (north rule): frontier/seen live as checkpointed DataFrames
(never on the driver); the top-B pop is a per-partition partial top-B merged
as B rows (``orderBy().limit``) while B is small — the common case, the
library's own batch is 10 — and switches to the two-pass distributed rank
(operators/ranking.py) when B is large enough that a driver merge of P x B
rows would serialize. The per-superstep state handoff is ONE combined
checkpoint job (frontier+seen share a kind discriminator) with an
Observation returning |frontier| for free; 3 jobs/superstep total
(batch pop, fetch materialization, state checkpoint).
"""

from __future__ import annotations

import urllib.parse

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..functions import kernels, linkexpand, native, udfs
from ..oracle.bestfirst_oracle import depth_for_max_pages
from . import ranking
from ..session import CACHE_LEVEL, local_frame
from .frontier import BROADCAST_RANK_MAX, TableFetcher

#: above this batch size the top-B pop uses the distributed two-pass rank
#: instead of TakeOrdered (driver would merge P x B rows serially)
LARGE_BATCH = 4096

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


class BestFirstCrawler:
    def __init__(
        self,
        spark: SparkSession,
        site_pages: DataFrame,
        base_url: str,
        max_pages: int = 50,
        batch_size: int | str | None = 10,
        max_depth: int | None = None,
        run_id: str = "bf",
    ):
        self.spark = spark
        self.fetcher = TableFetcher(site_pages)
        self.base_url = base_url
        self.base_domain = urllib.parse.urlparse(base_url).netloc
        self.max_pages = max_pages
        # batch_size='auto' (or None) dispatches large budgets to a
        # proportionally larger batch — see auto_batch_size for the
        # documented ordering deviation vs the reference's batch=10
        self.batch_size = (
            auto_batch_size(max_pages) if batch_size in (None, "auto") else batch_size
        )
        self.max_depth = depth_for_max_pages(max_pages) if max_depth is None else max_depth
        # link scoring is the per-URL hot loop: the JVM Column twin of
        # kernels.keyword_relevance_score (native.keyword_score_native)
        self.keywords = kernels.bestfirst_keywords(base_url)
        self.run_id = run_id
        self.metrics: list[dict] = []

    def _checkpoint_state(self, frontier: DataFrame, seen: DataFrame, tag) -> tuple:
        """One combined checkpoint job for frontier+seen; Observation rides
        the same job to return |frontier| (no extra count action)."""
        parts = frontier.select(
            F.lit("frontier").alias("kind"), "url", "depth", "score"
        ).unionByName(
            seen.select(
                F.lit("seen").alias("kind"),
                "url",
                F.lit(None).cast("int").alias("depth"),
                F.lit(None).cast("double").alias("score"),
            )
        )
        obs = Observation(f"bf_state_{self.run_id}_{tag}")
        parts = parts.observe(
            obs, F.sum(F.when(F.col("kind") == "frontier", 1).otherwise(0)).alias("n")
        )
        state = parts.localCheckpoint(eager=True, storageLevel=CACHE_LEVEL)
        n = obs.get.get("n")
        return (
            state.filter(F.col("kind") == "frontier").select("url", "depth", "score"),
            state.filter(F.col("kind") == "seen").select("url"),
            int(n) if n is not None else 0,
        )

    def _pop_top(self, frontier: DataFrame, b: int) -> DataFrame:
        order = (F.desc("score"), F.asc("depth"), F.asc("url"))
        if b <= LARGE_BATCH:
            batch = frontier.orderBy(*order).limit(b)
        else:
            ranked = ranking.global_rank(frontier, order, "__r")
            batch = ranked.filter(F.col("__r") <= b).drop("__r")
        return batch.localCheckpoint(eager=True, storageLevel=CACHE_LEVEL)

    def crawl(self) -> tuple[DataFrame, DataFrame]:
        """Returns (rank-annotated pages_df — UNSORTED, sort on "rank" at the
        point of use — and seen_df)."""
        spark = self.spark
        start = kernels.normalize_url(self.base_url)
        frontier = local_frame(
            spark, [(start, 0, 0.0)], "url string, depth int, score double"
        )
        seen = local_frame(spark, [(start,)], "url string")
        frontier_count = 1
        attempted = 0
        superstep = 0
        page_parts: list[DataFrame] = []

        while frontier_count > 0 and attempted < self.max_pages:
            b = min(self.batch_size, self.max_pages - attempted)
            batch = self._pop_top(frontier, b)
            popped = min(b, frontier_count)
            attempted += popped

            fetched = self.fetcher.fetch(batch).localCheckpoint(eager=True, storageLevel=CACHE_LEVEL)
            ok = fetched.filter(F.col("success"))
            pages = (
                ok.filter(F.col("wc") > 50)  # STRICT gate (v1 :321)
                .select(
                    "url",
                    udfs.extract_title_udf(
                        F.col("title"), F.col("content"), F.col("url")
                    ).alias("title"),
                    "content",
                    F.col("wc").alias("word_count"),
                    "score",
                    "depth",
                    F.lit("bestfirst").alias("discovery_phase"),
                    F.lit(superstep).alias("__step"),
                )
            )
            page_parts.append(pages)

            links = (
                linkexpand.expand_links(
                    ok.filter(F.col("depth") < self.max_depth).withColumn(
                        "__d", F.col("depth") + 1
                    ),
                    "out_links",
                    F.lit(self.base_url),
                    F.lit(self.base_domain),
                    ["__d"],
                )
                .select("url", F.col("__d").alias("depth"))
                .groupBy("url")
                .agg(F.min("depth").alias("depth"))  # min parent depth (spec)
                .join(seen, "url", "left_anti")
                .withColumn("score", native.keyword_score_native(F.col("url"), self.keywords))
            )
            frontier_next = frontier.join(batch.select("url"), "url", "left_anti").unionByName(
                links
            )
            seen_next = seen.unionByName(links.select("url"))
            frontier, seen, frontier_count = self._checkpoint_state(
                frontier_next, seen_next, superstep
            )
            self.metrics.append(
                {
                    "run_id": self.run_id,
                    "superstep": superstep,
                    "popped": popped,
                    "attempted_total": attempted,
                    "frontier_size": frontier_count,
                }
            )
            superstep += 1

        if not page_parts:
            empty = local_frame(
                spark, [],
                "url string, title string, content string, word_count int, "
                "score double, depth int, discovery_phase string, rank long",
            )
            return empty, seen
        result = page_parts[0]
        for df in page_parts[1:]:
            result = result.unionByName(df)
        # emission order: superstep asc, then within-batch priority order
        order = (
            F.asc("__step"),
            F.desc("score"),
            F.asc("depth"),
            F.asc("url"),
        )
        # Rank a CONTENT-FREE projection and join ranks back (mirror of
        # frontier._finalize): page content never crosses the rank's range
        # shuffle nor its eager checkpoint — the dominant tail for auto-batch
        # 10^5+ budgets. url is unique per page (seen gating), so the inner
        # join is exactly row-preserving; `attempted` (<= max_pages) bounds
        # the kept-page count for the broadcast decision. Returned UNSORTED:
        # rank IS the emission order; consumers that need the sorted view
        # (.orderBy("rank")) pay the content-free sort at the point of use.
        slim = result.select("url", "__step", "score", "depth")
        ranked = ranking.global_rank(slim, order, "rank").select("url", "rank")
        if attempted <= BROADCAST_RANK_MAX:
            ranked = F.broadcast(ranked)
        result = result.drop("__step").join(ranked, "url")
        return result, seen
