"""Vectorized pandas/Arrow UDFs wrapping the pure-Python kernels.

Per the engine mandate (BASELINE.json ``input_hint``), every row-wise
transformation crosses the JVM<->Python boundary as an Arrow batch
(``pandas_udf``), never as per-row pickled Python. The inner loops call the
same kernels the oracle uses (``functions/kernels.py``), so Spark results are
bit-identical to the oracle — including float scoring arithmetic (C1).

Cheap predicates/expressions stay native-Column (JVM, whole-stage codegen);
only urllib/regex-heavy kernels live here.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    StringType,
)

from . import kernels


@pandas_udf(StringType())
def normalize_url_udf(urls: pd.Series) -> pd.Series:
    """URL-seen identity (P1). Ref: crawler/web_crawler.py:371-395."""
    return urls.map(kernels.normalize_url)


@pandas_udf(ArrayType(StringType()))
def extract_links_udf(
    out_links: pd.Series, base_urls: pd.Series, base_domains: pd.Series
) -> pd.Series:
    """Link discovery flatMap kernel (L1). Ref: crawler/web_crawler.py:444-522."""
    return pd.Series(
        [
            kernels.extract_links(list(links) if links is not None else [], b, d)
            for links, b, d in zip(out_links, base_urls, base_domains)
        ]
    )


@pandas_udf(StringType())
def extract_title_udf(
    meta_titles: pd.Series, markdowns: pd.Series, urls: pd.Series
) -> pd.Series:
    """P9. Ref: llmsgen/crawler/web_crawler.py:80-100 (pyc)."""
    return pd.Series(
        [kernels.extract_title(t, m, u) for t, m, u in zip(meta_titles, markdowns, urls)]
    )


@pandas_udf(StringType())
def describe_udf(titles: pd.Series, contents: pd.Series, urls: pd.Series) -> pd.Series:
    """Deterministic description (the shipped v2 behavior, D5 testing mode).

    Ref: llmsgen/generator/llms_generator.py:270 (pyc) ->
    llmsgen/utils/text_utils.py:214-221.
    """
    return pd.Series(
        [
            kernels.create_smart_fallback_description(t or "", c or "", u or "")
            for t, c, u in zip(titles, contents, urls)
        ]
    )


def make_describe_udf(describe_batch):
    """Injectable D5 model seam: wrap a per-batch description callable into
    the same Arrow-batched pandas UDF shape as the deterministic default.

    ``describe_batch(titles, contents, urls) -> pd.Series[str]`` receives
    whole Arrow batches (the reference's X1 batch+threadpool map,
    llmsgen/generator/llms_generator.py:511-570 — its ThreadPoolExecutor
    over batch_size-sized chunks becomes Spark's executor-parallel Arrow
    batches). The production AI path plugs in here: a callable that opens
    one HTTP session per batch and calls the LLM endpoint with the
    urllib3-style retry policy (operators/retry.py); it must be picklable
    (module-level function or closure over picklable state). The T4
    description cache (state/desc_cache.py) composes upstream so only cache
    misses ever reach the model.
    """

    @pandas_udf(StringType())
    def injected_describe_udf(
        titles: pd.Series, contents: pd.Series, urls: pd.Series
    ) -> pd.Series:
        return describe_batch(titles, contents, urls)

    return injected_describe_udf


@pandas_udf(StringType())
def categorize_udf(urls: pd.Series, titles: pd.Series, contents: pd.Series) -> pd.Series:
    """G1 section router. Ref: llmsgen/utils/text_utils.py:265-302."""
    return pd.Series(
        [kernels.categorize_entry(u, t, c) for u, t, c in zip(urls, titles, contents)]
    )


@pandas_udf(StringType())
def extract_key_sentences_udf(titles: pd.Series, contents: pd.Series) -> pd.Series:
    """D1-D4 summarizer. Ref: llmsgen/utils/text_utils.py:169-198."""
    return pd.Series(
        [
            kernels.extract_key_sentences_from_content(t or "", c or "")
            for t, c in zip(titles, contents)
        ]
    )


@pandas_udf(StringType())
def extract_domain_udf(urls: pd.Series) -> pd.Series:
    """P12. Ref: llmsgen/utils/text_utils.py:106-135."""
    return urls.map(kernels.extract_domain_from_url)


# ---------------------------------------------------------------------------
# Native-Column helpers (JVM-side, no Python at all)
# ---------------------------------------------------------------------------

#: Text-bearing span kinds (single source of truth in kernels).
TEXT_KINDS = kernels.TEXT_KINDS


def spans_sorted(spans_col):
    """Spans in document order regardless of physical array order."""
    return F.array_sort(
        spans_col,
        lambda l, r: F.when(l["offset"] < r["offset"], F.lit(-1))
        .when(l["offset"] > r["offset"], F.lit(1))
        .otherwise(F.lit(0)),
    )


def spans_to_content(spans_col):
    """Reconstruct the reference's single markdown ``content`` string from the
    interleaved span sequence: text-bearing spans joined by blank lines, in
    offset order. (Native expression — stays in whole-stage codegen.)
    """
    ordered = spans_sorted(spans_col)
    texts = F.filter(
        ordered, lambda s: s["kind"].isin(*TEXT_KINDS) & (F.length(s["text"]) > 0)
    )
    return F.array_join(F.transform(texts, lambda s: s["text"]), "\n\n")


def native_word_count(content_col):
    """len(content.split()) as a native expression (P5 quality filter).

    ``split`` on ``\\s+`` with leading whitespace yields an empty first token,
    exactly like Python ``str.split`` drops it — handled by filtering empties.
    """
    return F.size(F.filter(F.split(F.trim(content_col), r"\s+"), lambda t: t != F.lit("")))
