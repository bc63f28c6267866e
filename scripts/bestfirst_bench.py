"""Large-budget BestFirst timing: evidence that the content-free finalize
removed the full-content rank tail at exactly the budgets auto-batch exists
for (round-3 verdict: "a large-budget auto-batch timing showing the tail
gone").

Usage: python scripts/bestfirst_bench.py <cores> <corpus_dir> [budget]
Prints one JSON line with crawl wall, finalize wall (the rank + join-back
after the last superstep), superstep count and pages/sec.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel  # noqa: E402

from web2llmstxt_spark.operators.frontier import FrontierCrawler  # noqa: E402
from web2llmstxt_spark.oracle.bestfirst_oracle import BestFirstConfig  # noqa: E402
from web2llmstxt_spark.session import get_spark  # noqa: E402


def main() -> None:
    cores = int(sys.argv[1])
    corpus_dir = sys.argv[2]
    budget = int(sys.argv[3]) if len(sys.argv) > 3 else 100_000
    meta = json.load(open(os.path.join(corpus_dir, "meta.json")))
    base_url = meta["seeds"][0]

    parts = cores * 2
    local_dir = os.path.expanduser("~/spark-local")
    os.makedirs(local_dir, exist_ok=True)
    spark = get_spark(
        f"bf-bench-{cores}", cores=cores, shuffle_partitions=parts,
        extra_conf={"spark.local.dir": local_dir, "spark.rdd.compress": "true"},
    )
    site = spark.read.parquet(os.path.join(corpus_dir, "site_pages.parquet"))
    lvl = StorageLevel(True, True, False, False, 1)  # serialized mem+disk
    site = site.repartition(parts, "url").persist(lvl)
    site.count()  # cache build outside the clock

    engine = FrontierCrawler(
        spark, site, BestFirstConfig(max_pages=budget, batch_size="auto")
    )
    t0 = time.time()
    pages, seen = engine.crawl([(0, base_url)])
    supersteps_done = time.time()
    n = pages.count()  # materializes the finalize rank + join-back
    t1 = time.time()
    print(json.dumps({
        "cores": cores,
        "budget": budget,
        "batch_size": engine.cfg.batch_size,
        "supersteps": len(engine.metrics),
        "pages": n,
        "crawl_wall_sec": round(t1 - t0, 2),
        "supersteps_sec": round(supersteps_done - t0, 2),
        "finalize_sec": round(t1 - supersteps_done, 2),
        "pages_per_sec": round(n / (t1 - t0), 2),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
