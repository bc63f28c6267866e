"""The distill stage: crawled pages -> described, categorized llms entries.

Reference: ``process_urls_in_batches`` + ``generate_llmstxt``
(llmsgen/generator/llms_generator.py:87-134, 138-209 (pyc)). The reference
fans pages over a ThreadPoolExecutor and calls an LLM per page (X1/D5); the
shipped v2 build hardwires the deterministic fallback
(``create_smart_fallback_description``) — so the Spark translation is one
vectorized pandas-UDF projection, no task queue needed. The AI path would be
the same projection with an HTTP-calling pandas UDF (out of scope: network).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import udfs

#: v2 full-text-only placeholder (llmsgen/generator/llms_generator.py:190 (pyc))
FULL_TEXT_ONLY_DESC = "N/A (full_text_only mode)"


def describe_pages(
    pages: DataFrame, full_text_only: bool = False, describe_fn=None
) -> DataFrame:
    """pages -> llms entries (url, title, description, word_count, index).

    ``index`` preserves crawl order (the reference builds entries in page
    order; entry ``index`` field, llmsgen/generator/llms_generator.py:115
    (pyc)). ``describe_fn`` is the injectable D5 model seam (a per-batch
    callable, see udfs.make_describe_udf); None keeps the shipped v2
    deterministic fallback.
    """
    if full_text_only:
        desc = F.lit(FULL_TEXT_ONLY_DESC)
    else:
        d_udf = (
            udfs.make_describe_udf(describe_fn) if describe_fn is not None
            else udfs.describe_udf
        )
        desc = d_udf(F.col("title"), F.col("content"), F.col("url"))
    return pages.select(
        "url",
        "title",
        desc.alias("description"),
        "word_count",
        F.col("rank").alias("index"),
    )


def categorize_entries(entries: DataFrame, pages: DataFrame) -> DataFrame:
    """Attach the llms.txt section (G1) using the page content sample.

    Reference joins entries to a url->content map
    (llmsgen/utils/file_utils.py:122-123); here it's a broadcast join on url.
    """
    # no broadcast hint: the content map is the PAGES table (arbitrarily
    # large); building a broadcast of it is single-threaded driver time.
    # AQE broadcasts it anyway when it is actually small.
    content_map = pages.select("url", F.col("content").alias("page_content"))
    joined = entries.join(content_map, "url", "left")
    # render_desc: the sink's description fallback (file_utils.py:124-130),
    # computed HERE so llms.txt assembly never needs page content on the
    # driver (kernels.final_description is the Python reference the tests
    # check it against). It is never empty, so the sinks render it as is.
    pc = F.coalesce(F.col("page_content"), F.lit(""))
    # only the first 30 words are ever rendered: bound the regex split to a
    # 4 KB prefix so per-row cost is O(1) in page size (30 words can only
    # span >4096 chars if a single "word" exceeds ~130 chars — not a natural-
    # language shape; the golden byte-equality tests gate the edge)
    words = F.filter(F.split(F.substring(pc, 1, 4096), r"\s+"), lambda t: t != F.lit(""))
    fallback = F.when(
        F.length(pc) > 0,
        F.concat(F.array_join(F.slice(words, 1, 30), " "), F.lit("...")),
    ).otherwise(F.lit("No content available."))
    render_desc = F.when(
        F.col("description").isNull()
        | (F.col("description") == "")
        | (F.col("description") == FULL_TEXT_ONLY_DESC),
        fallback,
    ).otherwise(F.col("description"))
    return (
        joined.withColumn(
            "category",
            udfs.categorize_udf(F.col("url"), F.col("title"), F.col("page_content")),
        )
        .withColumn("render_desc", render_desc)
        .drop("page_content")
    )


def depth_histogram(pages: DataFrame) -> DataFrame:
    """A1: pages-per-depth analytics (crawler/web_crawler.py:299,337,358)."""
    return pages.groupBy("depth").count().orderBy("depth")


def crawl_stats(pages: DataFrame) -> DataFrame:
    """A2/A5: avg score, word totals (crawler/web_crawler.py:353-358;
    generator/llms_generator.py:759-761)."""
    return pages.agg(
        F.count("*").alias("pages"),
        F.avg("score").alias("avg_score"),
        F.sum("word_count").alias("total_words"),
        F.avg("word_count").alias("avg_words"),
    )
