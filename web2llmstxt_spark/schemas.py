"""Engine schemas (SURVEY.md §1; BASELINE.json input_hint).

The reference flows schemaless Python dicts (crawler/web_crawler.py:116-127);
here every stage has a fixed StructType so Catalyst can prune/push down.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

#: One interleaved text/media span (BASELINE.json input_hint, verbatim shape).
SPAN = StructType(
    [
        StructField("kind", StringType(), False),       # heading|text|image|link|code
        StructField("text", StringType(), True),        # '' for pure media spans
        StructField("media_ref", StringType(), True),   # asset URL / href, else ''
        StructField("offset", IntegerType(), False),    # 0-based document order
    ]
)

#: The authoritative input table of interleaved documents.
DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),     # normalized page URL
        StructField("spans", ArrayType(SPAN), False),
    ]
)

#: The synthetic web the frontier crawls (fetch = join on normalized URL).
#: Replaces live HTTP (crawler.arun, crawler/web_crawler.py:93-103).
SITE_PAGES = StructType(
    [
        StructField("url", StringType(), False),        # canonical (normalized) URL
        StructField("host", StringType(), False),
        StructField("title", StringType(), True),
        StructField("spans", ArrayType(SPAN), False),
        StructField("word_count", IntegerType(), False),
        StructField("out_links", ArrayType(StringType()), False),  # raw hrefs
        StructField("content_type", StringType(), False),
        StructField("fetch_ok", BooleanType(), False),  # False => quirk Q5 path
    ]
)

#: Crawled page record (SURVEY.md §1.1 "Page";
#: ref llmsgen/crawler/web_crawler.py:203,238 (pyc)).
PAGES = StructType(
    [
        StructField("url", StringType(), False),
        StructField("title", StringType(), True),
        StructField("content", StringType(), True),
        StructField("spans", ArrayType(SPAN), True),
        StructField("word_count", IntegerType(), False),
        StructField("score", DoubleType(), False),
        StructField("depth", IntegerType(), False),
        StructField("discovery_phase", StringType(), False),
        StructField("seed_id", IntegerType(), False),
        StructField("rank", LongType(), False),         # global crawl order
    ]
)

#: The one description of committed crawl state: the durable superstep
#: snapshot tables (run_dir/superstep=N/<name>/, written with one
#: metrics.json entry per superstep by FrontierCrawler._commit, which checks
#: each table against them). Read
#: back with these schemas by state.checkpoint.load_state, so no read runs a
#: schema-inference job. Nullable, as every parquet read is.
SNAPSHOTS = {
    "pages": StructType(
        [
            StructField("url", StringType()),
            StructField("title", StringType()),
            StructField("content", StringType()),
            StructField("word_count", IntegerType()),
            StructField("score", DoubleType()),
            StructField("depth", IntegerType()),
            StructField("discovery_phase", StringType()),
            StructField("seed_id", IntegerType()),
        ]
    ),
    "seen": StructType([StructField("url", StringType())]),
    "frontier": StructType(
        [
            StructField("url", StringType()),
            StructField("seed_id", IntegerType()),
            StructField("base_url", StringType()),
            StructField("base_domain", StringType()),
            StructField("depth", IntegerType()),
        ]
    ),
}
