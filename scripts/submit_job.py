"""Job file for ``spark-submit --py-files`` deployment (north-rule clause:
"run via spark-submit --py-files on a multi-executor cluster").

This file is the spark-submit PRIMARY RESOURCE. It deliberately does NOT
touch ``sys.path`` or call ``SparkContext.addPyFile``: the engine package
must be importable on the driver AND executors purely from the
``--py-files`` shipment of ``session.package_zip()`` — exactly how the engine
deploys on a real cluster. Master, executor geometry, and memory belong to
the submitter (spark-submit CLI flags), not to this job.

Runs a small end-to-end crawl-and-distill over a deterministic synthetic
corpus (built driver-side, parallelized to the executors) and prints ONE
JSON line: {"pages": N, "entries": N, "seen": N, "ok": true} — the caller
(scripts/spark_submit_demo.py, tests/test_spark_submit.py) asserts on it.

Usage (what spark_submit_demo.py runs; the zip is named after its content):
    ZIP=$(python -c 'from web2llmstxt_spark.session import package_zip; print(package_zip())')
    $SPARK_HOME/bin/spark-submit --master spark://... --py-files "$ZIP" \
        scripts/submit_job.py [max_pages]
"""

from __future__ import annotations

import json
import sys

from pyspark.sql import SparkSession

# Import from the --py-files zip — this line failing IS the test failing.
from web2llmstxt_spark import schemas  # noqa: E402
from web2llmstxt_spark.operators.frontier import FrontierCrawler
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig
from web2llmstxt_spark.session import local_frame
from web2llmstxt_spark.sources.corpus import generate_corpus


def main() -> None:
    max_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 25
    # No .master(): spark-submit owns it. Only engine-required session conf.
    spark = (
        SparkSession.builder.appName("web2llmstxt-submit-job")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    corpus = generate_corpus(seed=7, n_hosts=2, pages_per_host=40)
    site = local_frame(spark, corpus.site_pages_rows(), schemas.SITE_PAGES)
    crawler = FrontierCrawler(spark, site, CrawlConfig(max_pages=max_pages))
    pages_df, seen_df = crawler.crawl(seeds=[(i, u) for i, u, _ in corpus.seeds])
    pages = pages_df.count()
    seen = seen_df.count()
    execs = spark.sparkContext._jsc.sc().getExecutorMemoryStatus().size()
    spark.stop()
    print(json.dumps({
        "pages": pages, "seen": seen,
        # driver endpoint + executors; >= 3 proves multi-executor
        "endpoints": execs, "ok": pages > 0 and seen >= pages,
    }))


if __name__ == "__main__":
    main()
