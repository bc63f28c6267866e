"""Command-line entry point — the reference's ``run.py`` flow, Spark-native.

Mirrors the reference CLI surface (run.py:85-115 / start.py:178: url,
max_pages, export format, full text, crawling mode, sitemap url) minus the
interactive prompts. The page source is either a site-table parquet
(production shape) or the seeded synthetic corpus (sandbox default — no
network, same generator the tests use).

    python -m web2llmstxt_spark.cli crawl --seed https://ex0.example/ \
        --max-pages 10 --out /tmp/out
    python -m web2llmstxt_spark.cli crawl --site-parquet site.parquet \
        --seed https://bh0.example/ --strategy bestfirst --format json \
        --full-text --out /tmp/out
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="web2llmstxt_spark")
    sub = p.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("crawl", help="crawl a site table and write llms.txt outputs")
    c.add_argument("--seed", required=True, help="base URL (the crawl seed)")
    c.add_argument("--out", required=True, help="output directory")
    c.add_argument("--max-pages", type=int, default=50)
    c.add_argument("--strategy", choices=["systematic", "bestfirst", "sitemap"],
                   default="systematic")
    c.add_argument("--format", dest="export_format",
                   choices=["text", "json", "yaml"], default="text")
    c.add_argument("--full-text", action="store_true",
                   help="also write llms-full.txt (include_full_text)")
    c.add_argument("--full-text-only", action="store_true")
    c.add_argument("--style", choices=["v2", "v1"], default="v2",
                   help="text output format variant")
    c.add_argument("--desc-cache-dir", default=None,
                   help="parquet description-cache table (T4)")
    c.add_argument("--warc-out", default=None,
                   help="also archive the crawled pages as .warc.gz shards "
                        "into this directory (replayable via from-warc)")
    c.add_argument("--site-parquet", default=None,
                   help="site_pages parquet (url, host, title, spans, "
                        "word_count, out_links, content_type, fetch_ok); "
                        "omitted -> seeded synthetic corpus")
    c.add_argument("--corpus-seed", type=int, default=7,
                   help="synthetic corpus RNG seed (no --site-parquet)")
    c.add_argument("--n-hosts", type=int, default=1)
    c.add_argument("--pages-per-host", type=int, default=25)
    c.add_argument("--cores", type=int, default=None,
                   help="local[N] cores (default $SPARK_GRAFT_CPUS or 32)")

    w = sub.add_parser(
        "from-warc",
        help="distill WARC archives into llms.txt outputs (no crawl: the "
             "archive is the fetched-page store)",
    )
    w.add_argument("--warc", required=True,
                   help="path/glob of .warc / .warc.gz archives")
    w.add_argument("--base-url", required=True,
                   help="site base URL for the header/metadata")
    w.add_argument("--out", required=True, help="output directory")
    w.add_argument("--format", dest="export_format",
                   choices=["text", "json", "yaml"], default="text")
    w.add_argument("--full-text", action="store_true")
    w.add_argument("--style", choices=["v2", "v1"], default="v2")
    w.add_argument("--desc-cache-dir", default=None)
    w.add_argument("--cores", type=int, default=None)

    cu = sub.add_parser(
        "curate",
        help="run the training-data curation pipeline over a documents "
             "parquet and write the cleaned corpus",
    )
    cu.add_argument("--in", dest="in_parquet", required=True,
                    help="input parquet with at least (id, text) columns")
    cu.add_argument("--out", required=True, help="output parquet directory")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--bench-parquet", default=None,
                    help="eval-set parquet (same text/id cols) for benchmark "
                         "decontamination; omitted -> decontam skipped")
    cu.add_argument("--no-repetition-gate", action="store_true",
                    help="skip the Gopher-style repetition filter")
    cu.add_argument("--no-pii-scrub", action="store_true",
                    help="skip email/phone/IPv4 redaction")
    cu.add_argument("--no-substring-scrub", action="store_true",
                    help="skip cross-doc duplicated-span removal")
    cu.add_argument("--no-exact-dedup", action="store_true",
                    help="skip exact dedup on the final text")
    cu.add_argument("--pack-out", default=None,
                    help="also write GPT-style packed training shards "
                         "(parquet partitioned by shard_id) to this dir")
    cu.add_argument("--pack-budget", type=int, default=2048,
                    help="tokens per packed bin (with --pack-out)")
    cu.add_argument("--bins-per-shard", type=int, default=1024,
                    help="bins per shard directory (with --pack-out)")
    cu.add_argument("--cores", type=int, default=None)
    return p


def run_curate(spark, args) -> dict:
    """Curation pipeline composition (the CLI face of `curate_e2e`):
    repetition gate -> decontamination (optional) -> PII scrub ->
    substring-span scrub -> exact dedup. Returns the stats dict printed as
    the JSON result line. Every stage is the library operator the driver
    hash-checks; this function only composes, counts and caches.

    Dataflow: the input is read once and hash-partitioned by doc_id into
    ``spark.sql.shuffle.partitions`` partitions, so every doc_id-keyed
    aggregate and join-back downstream (repetition bigram counts,
    decontamination hit counts, the span scrub's per-doc window reduce and
    position join) reuses that partitioning instead of shuffling again, and
    runs on every core. Each gate's survivors are persisted and filled by
    the count the stats take anyway, so no action re-runs an earlier stage;
    the PII and span scrubs keep every row, so their counts are known
    without an action. Every cache is released before return: Spark matches
    caches by plan, so a leftover cache of the input would answer a later
    call on the same, rewritten, path."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from .operators import curation, dedup, scrub
    from .session import CACHE_LEVEL, release

    caches = []

    def cache(df):
        caches.append(df.persist(CACHE_LEVEL))
        return df

    tcol, icol = args.text_col, args.id_col
    try:
        n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
        docs = cache(
            spark.read.parquet(args.in_parquet)
            .select(F.col(icol).alias("doc_id"), F.col(tcol).alias("text"))
            .repartition(n_parts, "doc_id")
        )
        n = docs.count()
        stats = {"in_docs": n}

        kept = docs
        if not args.no_repetition_gate:
            rep = curation.repetition_stats(kept).select("doc_id", "keep")
            kept = cache(kept.join(rep, "doc_id").filter("keep").drop("keep"))
            before, n = n, kept.count()
            stats["dropped_repetition"] = before - n
        if args.bench_parquet:
            bench = spark.read.parquet(args.bench_parquet).select(
                F.col(icol).alias("doc_id"), F.col(tcol).alias("text")
            )
            cont = curation.decontaminate(kept, bench).select("doc_id", "contaminated")
            kept = cache(
                kept.join(cont, "doc_id").filter("NOT contaminated").drop("contaminated")
            )
            before, n = n, kept.count()
            stats["dropped_contaminated"] = before - n
        if not args.no_pii_scrub:
            kept = scrub.scrub_pii(kept).select(
                "doc_id", F.col("text_clean").alias("text")
            )
        if not args.no_substring_scrub:
            scrubbed = dedup.remove_duplicated_spans(
                kept, "text", "doc_id", caches=caches
            )
            cache(scrubbed)  # persist() returns this same object
            stats["tokens_removed"] = (
                scrubbed.agg(F.sum("removed_tokens")).collect()[0][0] or 0
            )
            kept = scrubbed.select("doc_id", F.col("clean_text").alias("text"))
        if not args.no_exact_dedup:
            w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
            kept = cache(
                kept.withColumn("__rn", F.row_number().over(w))
                .filter("__rn = 1")
                .drop("__rn")
            )
            before, n = n, kept.count()
            stats["dedup_removed"] = before - n

        kept.write.mode("overwrite").parquet(args.out)
        stats["kept_docs"] = n
        stats["out"] = args.out
        if getattr(args, "pack_out", None):
            # pack the WRITTEN corpus; its schema is known, so no inference job
            cleaned = spark.read.schema(kept.schema).parquet(args.out)
            stats["pack"] = curation.write_training_shards(
                cleaned, args.pack_out, args.pack_budget,
                bins_per_shard=args.bins_per_shard,
            )
        return stats
    finally:
        release(caches)


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .session import CACHE_LEVEL, get_spark, local_frame

    spark = get_spark("cli", cores=args.cores)
    if args.cmd == "curate":
        try:
            print(json.dumps(run_curate(spark, args)))
            return 0
        finally:
            spark.stop()
    if args.cmd == "from-warc":
        try:
            from .plans.pipeline import generate_llmstxt_from_warc

            res = generate_llmstxt_from_warc(
                spark,
                args.warc,
                args.base_url,
                args.out,
                export_format=args.export_format,
                include_full_text=args.full_text,
                output_style=args.style,
                desc_cache_dir=args.desc_cache_dir,
            )
            print(json.dumps({
                "paths": res["paths"],
                "pages": res["metadata"]["total_pages_crawled"],
                "entries": res["metadata"]["total_entries_processed"],
                "strategy": res["metadata"]["crawl_strategy_used"],
                "processing_time_seconds":
                    res["metadata"]["processing_time_seconds"],
            }))
            return 0
        finally:
            spark.stop()
    try:
        sitemap_blobs = None
        robots_text = None
        if args.site_parquet:
            site = spark.read.parquet(args.site_parquet)
            if args.strategy == "sitemap":
                raise SystemExit(
                    "--strategy sitemap with --site-parquet needs a sitemap "
                    "blob table; use the API (generate_llmstxt(sitemap_blobs=…))"
                )
        else:
            from . import schemas
            from .sources.corpus import generate_corpus, render_sitemap_blobs

            corpus = generate_corpus(
                seed=args.corpus_seed,
                n_hosts=args.n_hosts,
                pages_per_host=args.pages_per_host,
            )
            site = local_frame(spark, corpus.site_pages_rows(), schemas.SITE_PAGES).persist(CACHE_LEVEL)
            if args.strategy == "sitemap":
                sitemap_blobs = local_frame(
                    spark, render_sitemap_blobs(corpus), "sitemap_url string, body binary"
                )
                robots_text = f"Sitemap: {args.seed.rstrip('/')}/sitemap.xml\n"

        from .plans.pipeline import generate_llmstxt

        res = generate_llmstxt(
            spark,
            site,
            args.seed,
            args.out,
            max_pages=args.max_pages,
            export_format=args.export_format,
            include_full_text=args.full_text,
            full_text_only=args.full_text_only,
            crawl_strategy=args.strategy,
            desc_cache_dir=args.desc_cache_dir,
            output_style=args.style,
            sitemap_blobs=sitemap_blobs,
            robots_text=robots_text,
            warc_out=args.warc_out,
        )
        print(json.dumps({
            "paths": res["paths"],
            "pages": res["metadata"]["total_pages_crawled"],
            "entries": res["metadata"]["total_entries_processed"],
            "strategy": res["metadata"]["crawl_strategy_used"],
            "processing_time_seconds": res["metadata"]["processing_time_seconds"],
        }))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
