"""Worker: one crawl-and-distill pipeline run at a given core count.

Usage: python scripts/scaling_run.py <cores> <corpus_dir> [budget]
Prints one JSON line with wall/throughput. JVM+python-worker warmup runs
BEFORE the clock (codegen compile and worker spawn are one-time costs a
long-lived cluster amortizes; see BENCH_SCALING.md).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from web2llmstxt_spark.functions import native, udfs  # noqa: E402
from web2llmstxt_spark.operators import dedup, textstats  # noqa: E402
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig  # noqa: E402
from web2llmstxt_spark.operators.frontier import (  # noqa: E402
    ClosedFormFetcher,
    FrontierCrawler,
)
from web2llmstxt_spark.plans import distill  # noqa: E402
from web2llmstxt_spark.session import get_spark, run_jobs_concurrently  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    corpus_dir = sys.argv[2]
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 20000
    meta = json.load(open(os.path.join(corpus_dir, "meta.json")))

    # shuffle partitioning: per-cluster-size tuning (2x cores) with a floor
    # keyed to input size so no single shuffle block nears 2 GB (the 3.2M-page
    # corpus at 16 partitions produced >2 GB map outputs and local fetch
    # failures); spark.local.dir off /tmp to dodge sandbox tmp cleaners.
    pq_path = os.path.join(corpus_dir, "site_pages.parquet")
    pq_bytes = (
        sum(
            os.path.getsize(os.path.join(pq_path, f))
            for f in os.listdir(pq_path)
        )
        if os.path.isdir(pq_path)  # sharded dataset (gen_corpus_parallel.py)
        else os.path.getsize(pq_path)
    )
    # round partition count UP to a multiple of cores: a fractional last wave
    # (e.g. 27 partitions over 8 cores = 3.4 waves) leaves most slots idle
    # while the tail finishes — the superstep-3 straggler penalty the round-2
    # decomposition measured. On a real cluster partition count grows with
    # data; here it must still tile the slot count evenly.
    parts = max(cores * 2, pq_bytes // (128 << 20))
    parts = ((parts + cores - 1) // cores) * cores
    local_dir = os.path.expanduser("~/spark-local")
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        f"scaling-{cores}", cores=cores, shuffle_partitions=parts,
        extra_conf={
            "spark.local.dir": local_dir,
            # independent distill outputs are submitted concurrently from
            # driver threads (run_jobs_concurrently); FAIR pools share slots
            "spark.scheduler.mode": "FAIR",
            # compress spilled cache blocks / checkpointed RDDs: page content
            # is highly compressible text and the sandbox disk is the scarce
            # resource (two 12.8M-page runs died on spill without this)
            "spark.rdd.compress": "true",
        },
    )
    from pyspark import StorageLevel

    # storage level for the two big caches (site corpus, kept pages):
    # serialized-in-memory (MEMORY_AND_DISK_SER equivalent) keeps the cached
    # blocks as compact byte buffers instead of object graphs — the
    # deserialized form of 10^6 content rows is what drove the GC-bound
    # cache-build tail and the distill-wall variance at 32 threads
    # (BENCH_SCALING.md round-4 decomposition). Override with
    # SPARK_GRAFT_CACHE_DESER=1 to A/B the old behavior.
    lvl = (
        StorageLevel.MEMORY_AND_DISK  # deserialized object graphs (old behavior)
        if os.environ.get("SPARK_GRAFT_CACHE_DESER")
        else StorageLevel(True, True, False, False, 1)  # serialized mem+disk
    )
    # fetch mode: "table" joins every superstep's candidates against the
    # cached corpus (the Iceberg-documents-table reading of the north rule —
    # scan+join work proportional to the CORPUS); "closedform" evaluates each
    # candidate URL in O(1) inside mapInPandas (the HTTP reading — work
    # proportional to the CANDIDATES; sources/cfcorpus.py). Running the
    # matrix in both modes separates frontier-engine scaling from the
    # documents-table scan term. Default: closedform when the corpus carries
    # cf params, else table. Override: SPARK_GRAFT_FETCHER=table|closedform.
    fetch_mode = os.environ.get(
        "SPARK_GRAFT_FETCHER", "closedform" if "cf" in meta else "table"
    )
    if fetch_mode == "closedform":
        if "cf" not in meta:
            raise SystemExit("closedform fetch needs cf params in meta.json")
        cf = meta["cf"]
        fetcher = ClosedFormFetcher(
            cf["seed"], cf["n_hosts"], cf["pages_per_host"],
            cf.get("out_links", 40), cf.get("host_offset", 0),
        )
        site = None
        n_site = meta["n_pages"]
        # warmup source: synthetic rows instead of the (unread) corpus table
        warm_src = spark.range(0, 64 * 64).select(
            F.concat(F.lit("https://bh0.example/docs/x-"), F.col("id")).alias("url"),
            F.lit("T | BH0").alias("title"),
            F.array(F.struct(
                F.lit("text").alias("kind"), F.lit("warm words").alias("text"),
                F.lit("").alias("media_ref"), F.lit(0).cast("int").alias("offset"),
            )).alias("spans"),
            F.array(F.lit("/docs/a-1"), F.lit("#top")).alias("out_links"),
        )
    else:
        fetcher = None
        site = spark.read.parquet(os.path.join(corpus_dir, "site_pages.parquet"))
        # hash-partition by url: the fetch join then reuses this partitioning
        # and only the (small) per-superstep attempt set shuffles. Sorting
        # WITHIN each partition by url gives every cached columnar batch a
        # tight url min/max, so In-predicate scans (the depth-0 seed fetch's
        # url_hint pushdown) prune whole batches — the cached-table analogue
        # of Iceberg sorted-file + min/max metadata pruning.
        site = site.repartition(parts, "url").sortWithinPartitions("url").persist(lvl)
        spark.sparkContext.setJobDescription("corpus-cache-build")
        n_site = site.count()
        warm_src = site.limit(64 * 64)

    # warmup: compile codegen paths + spawn EVERY python worker once. A
    # limit() warmup runs on ~1 partition and spawns one worker; the first
    # crawl stage then pays ~30 s spawning the other (cores-1) workers
    # (pandas/pyarrow import + package-zip extraction per worker) — a
    # per-executor one-time cost a long-lived cluster amortizes, so it
    # belongs BEFORE the clock. Repartitioning the warmup rows across
    # 2x cores guarantees a task (and a worker) per slot, and the column
    # set covers every pandas-UDF kernel the crawl + distill touch.
    warm = (
        warm_src.repartition(cores * 2)
        .select(
            udfs.normalize_url_udf("url").alias("u"),
            native.score_url_native(F.col("url"), F.lit("https://bh0.example")).alias("s"),
            udfs.extract_links_udf("out_links", F.lit("https://bh0.example"), F.lit("bh0.example")).alias("l"),
            udfs.extract_title_udf(F.col("title"), udfs.spans_to_content(F.col("spans")), F.col("url")).alias("t"),
        )
    )
    spark.sparkContext.setJobDescription("warmup")
    warm.write.format("noop").mode("overwrite").save()

    cfg = CrawlConfig(max_pages=budget, safety_limit=budget)
    crawler = FrontierCrawler(
        spark, site, cfg, use_bloom=True, run_dir=None,
        fetcher=fetcher,
    )
    seeds = [(i, u) for i, u in enumerate(meta["seeds"])]

    t0 = time.time()
    pages, seen = crawler.crawl(seeds)
    t_cache = time.time()
    spark.sparkContext.setJobDescription("pages-cache-build")
    pages = pages.persist(lvl)
    n_pages = pages.count()
    cache_build_wall = time.time() - t_cache
    crawl_wall = time.time() - t0

    # distill stage: describe + categorize + profile + simhash (the "distill"
    # half of the north star, all vectorized). The three outputs are
    # INDEPENDENT reads of the cached pages table, so they are submitted
    # concurrently from driver threads (FAIR pools) — per-job fixed costs
    # (stage ramp, codegen, straggler tails) overlap instead of summing,
    # exactly as a real deployment writes independent outputs of one input.
    t1 = time.time()
    entries = distill.describe_pages(pages)
    entries = distill.categorize_entries(entries, pages)
    prof = textstats.text_profile(pages, text_col="content", id_col="url")
    sims = dedup.simhash(pages, "content", "url")
    spark.sparkContext.setJobDescription("distill")
    results = run_jobs_concurrently(
        spark,
        [
            lambda: entries.write.format("noop").mode("overwrite").save(),
            lambda: prof.write.format("noop").mode("overwrite").save(),
            lambda: sims.write.format("noop").mode("overwrite").save(),
            # the seen-set count is independent of the distill outputs too
            lambda: seen.count(),
        ],
        pool_prefix="distill",
    )
    distill_wall = time.time() - t1

    n_seen = results[3]
    wall = time.time() - t0
    print(
        json.dumps(
            {
                "cores": cores,
                "fetch_mode": fetch_mode,
                "site_pages": n_site,
                "wall_sec": round(wall, 2),
                "crawl_sec": round(crawl_wall, 2),
                "distill_sec": round(distill_wall, 2),
                "pages": n_pages,
                "urls_attempted": n_seen,
                "urls_per_sec": round(n_seen / wall, 2),
                "supersteps": [m["wall_ms"] for m in crawler.metrics
                               if m["superstep"] >= 1],
                "phase_walls": dict(crawler.phase_walls,
                                    cache_build_ms=int(cache_build_wall * 1000)),
                "superstep_phases": [
                    {k: m.get(k) for k in ("superstep", "attempt_ms", "state_ms", "attempted")}
                    for m in crawler.metrics
                ],
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
