"""End-to-end pipeline: seeds -> crawl -> distill -> sinks (EP2).

Mirrors v2 ``generate_llmstxt`` (llmsgen/generator/llms_generator.py:138-209
(pyc), SURVEY.md §3-EP2): budget derivation, systematic-crawl plan select,
describe, 15-key run metadata, output dispatch.
"""

from __future__ import annotations

import inspect
import time
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import kernels
from ..oracle.bestfirst_oracle import BestFirstConfig
from ..oracle.crawl_oracle import CrawlConfig
from ..operators.frontier import FrontierCrawler
from ..operators.sitemap import SitemapConfig, sitemap_seeds
from ..session import CACHE_LEVEL, release
from ..sinks import writers
from . import distill

EXPORT_FORMATS = ("text", "json", "yaml")
OUTPUT_STYLES = ("v1", "v2")
# the crawl options each strategy reads; the others must keep their
# generate_llmstxt default under it
STRATEGY_OPTIONS = {
    "systematic": (
        "safety_limit", "robots_rules", "enforce_robots", "host_caps", "run_dir", "seeds",
    ),
    "bestfirst": ("bestfirst_batch_size",),
    "sitemap": ("sitemap_blobs", "robots_text", "root_sitemaps"),
}
CRAWL_STRATEGIES = tuple(STRATEGY_OPTIONS)


def _check_output_options(
    export_format: str, output_style: str, crawl_strategy: str | None = None,
    **crawl_options,
) -> None:
    """Reject an unknown sink or crawl strategy, and a crawl option the
    strategy would ignore, before the first Spark job: the dispatch would
    otherwise write v2 text, run the BFS engine or drop the option, and
    record the bogus name in the metadata. ``crawl_strategy`` None: no
    crawl runs (WARC distill)."""
    if export_format not in EXPORT_FORMATS:
        raise ValueError(f"export_format must be one of {EXPORT_FORMATS}, got {export_format!r}")
    if output_style not in OUTPUT_STYLES:
        raise ValueError(f"output_style must be one of {OUTPUT_STYLES}, got {output_style!r}")
    if crawl_strategy is None:
        return
    if crawl_strategy not in CRAWL_STRATEGIES:
        raise ValueError(
            f"crawl_strategy must be one of {CRAWL_STRATEGIES}, got {crawl_strategy!r}"
        )
    defaults = inspect.signature(generate_llmstxt).parameters
    ignored = [name for name, value in crawl_options.items()
               if value != defaults[name].default and name not in STRATEGY_OPTIONS[crawl_strategy]]
    if ignored:
        raise ValueError(
            f"crawl_strategy {crawl_strategy!r} ignores {', '.join(ignored)}; leave it unset"
        )


def generate_llmstxt(
    spark: SparkSession,
    site_pages: DataFrame,
    base_url: str,
    output_dir: str,
    max_pages: int = 50,
    export_format: str = "text",
    include_full_text: bool = False,
    max_full_text_pages: int | None = None,
    full_text_only: bool = False,
    safety_limit: int | None = None,
    robots_rules: list | None = None,
    enforce_robots: bool = False,
    host_caps: dict | None = None,
    run_dir: str | None = None,
    generated_at: str | None = None,
    seeds: list[tuple[int, str]] | None = None,
    crawl_strategy: str = "systematic",
    bestfirst_batch_size: int | str = 10,
    desc_cache_dir: str | None = None,
    sitemap_blobs=None,
    robots_text: str | None = None,
    root_sitemaps: list[str] | None = None,
    output_style: str = "v2",
    collect_entries: bool = False,
    describe_fn=None,
    warc_out: str | None = None,
) -> dict:
    """Returns {'paths': [...], 'metadata': {...}, 'entries': [...], 'pages': [...]}.

    ``describe_fn``: injectable D5 model (a per-batch callable wrapped by
    udfs.make_describe_udf — the production LLM client plugs in here);
    None keeps the shipped v2 deterministic fallback. Composes with
    ``desc_cache_dir`` so only cache misses reach the model.

    ``collect_entries`` only decides whether the result carries the bounded
    per-entry and per-page summary lists; it does not change what is
    written. Every sink streams from toLocalIterator (one path per format,
    sinks/writers.py), so the driver stays O(1) either way. With the default
    False, result['entries'] / result['pages'] are None (use
    metadata['total_pages_crawled'] / ['total_entries_processed'] for
    counts); pass True only for small crawls and tests that read the lists.

    ``export_format`` is one of EXPORT_FORMATS and ``output_style`` one of
    OUTPUT_STYLES; anything else raises ValueError before any Spark job.
    So does a ``crawl_strategy`` outside CRAWL_STRATEGIES, and a crawl
    option the strategy does not read (STRATEGY_OPTIONS) set away from its
    default.

    ``crawl_strategy`` mirrors the reference dispatch (v1 generator/
    llms_generator.py:694-700; v2 llmsgen pyc names
    ``discover_all_links_first`` AND ``crawl_website``). Each strategy is
    one policy of the one superstep engine (operators/frontier.
    FrontierCrawler), picked by its config and seeds:
    'systematic' -> the BFS policy (CrawlConfig) from ``seeds`` or
    ``base_url``; 'bestfirst' -> the keyword-relevance best-first policy
    (oracle/bestfirst_oracle.BestFirstConfig; ``bestfirst_batch_size`` a
    positive int or 'auto') from ``base_url``;
    'sitemap' -> the seeds-only policy (operators/sitemap.SitemapConfig)
    whose seeds are the prioritized URLs of the raw-XML sitemaps in
    ``sitemap_blobs`` (sitemap_url, body) (operators/sitemap_xml.py +
    operators/sitemap.sitemap_seeds) — roots from ``root_sitemaps`` or
    auto-discovery (well-known paths + robots ``Sitemap:`` lines in
    ``robots_text``).
    """
    _check_output_options(
        export_format, output_style, crawl_strategy,
        safety_limit=safety_limit, robots_rules=robots_rules,
        enforce_robots=enforce_robots, host_caps=host_caps, run_dir=run_dir,
        seeds=seeds, bestfirst_batch_size=bestfirst_batch_size,
        sitemap_blobs=sitemap_blobs, robots_text=robots_text, root_sitemaps=root_sitemaps,
    )
    start = time.time()
    # ref :169 (pyc): 3x page budget when full text requested
    actual_max_pages = max_pages * 3 if (full_text_only or include_full_text) else max_pages
    # ref :173 (pyc): systematic safety limit
    calculated_safety_limit = safety_limit or actual_max_pages * (10 if full_text_only else 5)
    comprehensive = full_text_only or include_full_text  # ref :175 (pyc)

    seeds = seeds or [(0, base_url)]
    if crawl_strategy == "sitemap":
        from ..operators import sitemap_xml

        roots = root_sitemaps
        if roots is None:
            roots = sitemap_xml.auto_discover_sitemaps(
                sitemap_blobs, base_url, robots_text
            )
        entries = sitemap_xml.parse_sitemaps(sitemap_blobs, base_url)
        cfg = SitemapConfig(max_pages=actual_max_pages)
        seeds = sitemap_seeds(entries, base_url, roots, actual_max_pages)
    elif crawl_strategy == "bestfirst":
        cfg = BestFirstConfig(max_pages=actual_max_pages, batch_size=bestfirst_batch_size)
    else:
        cfg = CrawlConfig(
            max_pages=actual_max_pages,
            comprehensive=comprehensive,
            safety_limit=calculated_safety_limit,
            enforce_robots=enforce_robots,
            host_caps=host_caps,
        )
    crawler = FrontierCrawler(spark, site_pages, cfg, robots_rules=robots_rules, run_dir=run_dir)
    try:
        pages_df, _seen = crawler.crawl(seeds)
        return distill_to_output(
            pages_df, base_url, output_dir,
            export_format=export_format, include_full_text=include_full_text,
            full_text_only=full_text_only, max_full_text_pages=max_full_text_pages,
            desc_cache_dir=desc_cache_dir, describe_fn=describe_fn,
            output_style=output_style, collect_entries=collect_entries,
            crawl_strategy_label=crawl_strategy, generated_at=generated_at,
            start_time=start, warc_out=warc_out,
        )
    finally:
        # distill's persisted pages were the crawl output's last reader
        crawler.release()


def distill_to_output(
    pages_df: DataFrame,
    base_url: str,
    output_dir: str,
    *,
    export_format: str = "text",
    include_full_text: bool = False,
    full_text_only: bool = False,
    max_full_text_pages: int | None = None,
    desc_cache_dir: str | None = None,
    describe_fn=None,
    output_style: str = "v2",
    collect_entries: bool = False,
    crawl_strategy_label: str = "systematic",
    generated_at: str | None = None,
    start_time: float | None = None,
    warc_out: str | None = None,
) -> dict:
    """The distill half of EP2, crawl-free: pages (url, title, content,
    word_count, rank, score, depth, discovery_phase) -> descriptions ->
    categories -> llms.txt / llms-full.txt / json / yaml sinks + 15-key
    metadata. ``generate_llmstxt`` calls this after its crawl; archive
    consumers (``generate_llmstxt_from_warc``) call it directly — fetch and
    distill as separate jobs, which is how a 100 TB WARC collection is
    processed (the crawl wrote archives months ago; distillation is a batch
    job over them). Every cache it takes is released before it returns."""
    start = start_time if start_time is not None else time.time()
    pages_df = pages_df.persist(CACHE_LEVEL)
    held = [pages_df]  # released on every exit, error or not
    try:
        n_pages = pages_df.count()
        desc_cache_new = None
        if desc_cache_dir is not None and not full_text_only:
            # T4 check-before-generate (models/client.py:68-92): hits reuse the
            # stored description, only misses compute; write-through after.
            from ..state.desc_cache import DescriptionCache, describe_with_cache

            cache = DescriptionCache(pages_df.sparkSession, desc_cache_dir)
            entries_df, new_cache = describe_with_cache(
                pages_df, cache.load(), describe_fn=describe_fn
            )
            held.append(new_cache)
            # entries_df feeds several actions (the sink streams, the optional
            # collect): checkpoint it so the hits join runs once; entries
            # carry no page content, so it is bounded. merge_and_save is
            # append-only (a new delta dir, never the files the hits read).
            entries_df = entries_df.localCheckpoint(eager=True)
            held.append(entries_df)
            desc_cache_new = cache.merge_and_save(new_cache)
        else:
            entries_df = distill.describe_pages(
                pages_df, full_text_only=full_text_only, describe_fn=describe_fn
            )
        entries_df = distill.categorize_entries(entries_df, pages_df)

        # Driver materialization is BOUNDED: the site name/summary need one
        # title + five 500-char samples; every sink streams its rows through
        # toLocalIterator, so neither page content nor an O(pages) list forms
        # on the driver unless collect_entries asks for the summary lists.
        main_title_rows = (
            pages_df.filter(
                (F.col("url") == base_url) | (F.col("url") == base_url.rstrip("/"))
            )
            .select("title")
            .limit(1)
            .collect()
        )
        site_name = kernels.site_name_from_title(
            base_url, main_title_rows[0]["title"] if main_title_rows else None
        )
        head_samples = [
            r["c"]
            for r in pages_df.orderBy("rank")
            .select(F.substring(F.coalesce("content", F.lit("")), 1, 500).alias("c"))
            .limit(5)
            .collect()
        ]
        site_summary = kernels.site_summary_from_samples(head_samples)

        generated_at = generated_at or datetime.now(timezone.utc).isoformat()
        metadata = {  # 15 keys, ref llmsgen/generator/llms_generator.py:194 (pyc)
            "source_url": base_url,
            "domain": kernels.extract_domain_from_url(base_url),
            "total_pages_crawled": n_pages,
            "total_entries_processed": n_pages,
            "generated_at": generated_at,
            "model_used": "deterministic-fallback",
            "model_display_name": "Deterministic fallback (v2 testing mode)",
            "export_format": export_format,
            "processing_time_seconds": round(time.time() - start, 2),
            "batch_size": None,
            "parallel_workers": None,
            "max_full_text_pages": max_full_text_pages,
            "full_text_only_mode": full_text_only,
            "crawl_strategy_used": crawl_strategy_label,
            "include_full_text": include_full_text,
        }
        paths = writers.write_output_files(
            output_dir, base_url, entries_df, pages_df, metadata,
            site_name, site_summary, style=output_style,
        )
        entries = pages = None
        if collect_entries:
            # bounded per-entry and per-page summaries (no content)
            entries = [r.asDict() for r in entries_df.orderBy("index").collect()]
            pages = [
                r.asDict()
                for r in pages_df.orderBy("rank")
                .select("rank", "url", "title", "word_count", "score", "depth", "discovery_phase")
                .collect()
            ]
        if warc_out:
            # archive the crawl (replayable store: `cli from-warc` re-distills
            # without refetching) — executor-side shard writes, content never
            # lands on the driver
            from ..sources import warc as warc_mod

            metadata["warc_paths"] = warc_mod.write_archive_files(
                warc_mod.pages_to_warc_blobs(pages_df), warc_out
            )
    finally:
        release(held)
    return {
        "paths": paths,
        "metadata": metadata,
        "entries": entries,
        "pages": pages,
        # T4 telemetry: how many descriptions were actually computed this run
        # (None = cache disabled); a warm re-run reports 0.
        "desc_cache_new": desc_cache_new,
    }


def generate_llmstxt_from_warc(
    spark: SparkSession,
    warc_path: str,
    base_url: str,
    output_dir: str,
    *,
    statuses: tuple = (200,),
    content_type_prefix: str = "text/",
    **distill_kw,
) -> dict:
    """Distill WARC archives into llms.txt WITHOUT a crawl — the archive IS
    the fetched-page store (fetch ran earlier, possibly elsewhere; Common
    Crawl consumers start exactly here).

    Record order (archive path, member offset) stands in for crawl rank —
    ranked with the same content-free two-pass global rank the frontier
    finalize uses (slim projection, join back on the unique (src, offset)
    record key; page text never range-shuffles). Titles come from the
    reference P9 kernel with a null meta-title (markdown H1 -> URL segment
    -> 'Untitled Page'), word counts from the pinned native counter, so a
    WARC-distilled page renders byte-identically to the same page arriving
    via the crawl path."""
    from ..functions import udfs
    from ..operators import ranking
    from ..sources import warc

    _check_output_options(
        distill_kw.get("export_format", "text"), distill_kw.get("output_style", "v2")
    )
    scanned = warc.read_warc_text(spark, warc_path)
    kept = scanned.filter(
        F.col("status").isin(*[int(s) for s in statuses])
        & F.col("content_type").startswith(content_type_prefix)
    )
    slim = kept.select("src", "offset")
    ranked = ranking.global_rank(
        slim, [F.asc("src"), F.asc("offset")], "rank"
    ).select("src", "offset", "rank")
    pages_df = (
        kept.join(ranked, ["src", "offset"])
        .select(
            "url",
            udfs.extract_title_udf(
                F.lit(None).cast("string"), F.col("content"), F.col("url")
            ).alias("title"),
            "content",
            udfs.native_word_count(F.col("content")).alias("word_count"),
            "rank",
            F.lit(0.0).alias("score"),
            F.lit(0).alias("depth"),
            F.lit("warc").alias("discovery_phase"),
        )
    )
    return distill_to_output(
        pages_df, base_url, output_dir,
        crawl_strategy_label="warc", **distill_kw,
    )
