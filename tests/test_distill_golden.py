"""Distill stage + sinks: golden-file equality with the reference output.

The reference's only end-to-end golden is
/root/reference/output/example.com-llms.txt, produced through the baked-in
mock crawl path (llmsgen/crawler/web_crawler.py:171-179 (pyc)) with the
deterministic description fallback. We reproduce the exact bytes.

The two byte-equality tests (test_golden_llms_txt_bytes,
test_mock_page_through_spark_distill) read that file themselves and need the
reference checkout; they are skipped where the file is absent. The pipeline
test (test_full_pipeline_end_to_end) and the render_desc twin test
(test_render_desc_twin_on_adversarial_content) do not read it and always run.
"""

import json
import os

import pytest

from web2llmstxt_spark import schemas
from web2llmstxt_spark.functions import kernels
from web2llmstxt_spark.plans import distill, pipeline
from web2llmstxt_spark.sinks import writers

GOLDEN_PATH = "/root/reference/output/example.com-llms.txt"

needs_golden = pytest.mark.skipif(
    not os.path.exists(GOLDEN_PATH),
    reason=f"reference golden {GOLDEN_PATH} is not present",
)


def read_golden():
    with open(GOLDEN_PATH, encoding="utf-8") as f:
        return f.read()

# the mock page baked into the v2 pyc (llmsgen/crawler/web_crawler.py:171-179)
MOCK_BASE = "https://example.com/test_mock_crawl"
MOCK_PAGE = {
    "url": "https://example.com/test_mock_crawl/page1",
    "title": "Mock Page 1 Title",
    "content": "This is mock content for page 1. It has enough words.",
    "word_count": 10,
    "score": 10.0,
    "depth": 1,
    "discovery_phase": "mock",
}


@needs_golden
def test_golden_llms_txt_bytes(tmp_path):
    """The production llms.txt writer over hand-written entries, with the
    site name, summary and description fallback from the reference kernels."""
    description = "Content related to Mock Page 1 Title. From example.com."
    entries = [
        {
            "url": MOCK_PAGE["url"],
            "title": MOCK_PAGE["title"],
            "description": description,
            "word_count": 10,
            "category": "General Information",
            "render_desc": kernels.final_description(description, MOCK_PAGE["content"]),
        }
    ]
    metadata = {"total_pages_crawled": 1, "generated_at": "2025-06-26T12:00:00"}
    path = str(tmp_path / "llms.txt")
    writers.write_llms_txt_stream(
        path,
        kernels.extract_site_name(MOCK_BASE, [MOCK_PAGE]),
        kernels.generate_site_summary([MOCK_PAGE]),
        iter(entries),
        metadata,
    )
    assert open(path, encoding="utf-8").read() == read_golden()


@needs_golden
def test_mock_page_through_spark_distill(spark, tmp_path):
    """The same golden through the product path: description, category,
    site name, summary and the sink all computed by the engine."""
    pages_df = spark.createDataFrame(
        [
            (
                MOCK_PAGE["url"], MOCK_PAGE["title"], MOCK_PAGE["content"], None,
                10, 10.0, 1, "mock", 0, 1,
            )
        ],
        schemas.PAGES,
    )
    res = pipeline.distill_to_output(
        pages_df, MOCK_BASE, str(tmp_path), generated_at="2025-06-26T12:00:00"
    )
    (path,) = res["paths"]
    assert open(path, encoding="utf-8").read() == read_golden()


def test_full_pipeline_end_to_end(spark, tmp_path):
    """seeds -> frontier crawl -> distill -> all sinks, over the synthetic web."""
    from web2llmstxt_spark.sources.corpus import generate_corpus

    corpus = generate_corpus(seed=31, n_hosts=1, pages_per_host=25)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES)
    result = pipeline.generate_llmstxt(
        spark,
        site,
        "https://ex0.example/",
        str(tmp_path),
        max_pages=6,
        generated_at="2026-08-16T00:00:00",
        collect_entries=True,
    )
    (path,) = result["paths"]
    text = open(path, encoding="utf-8").read()
    assert text.startswith("# ")
    assert "\n> " in text
    assert "Generated from" in text and "on 2026-08-16 using automated crawling." in text
    # every crawled page appears exactly once as a bullet
    bullets = [ln for ln in text.splitlines() if ln.startswith("- [")]
    assert len(bullets) == len(result["pages"]) == result["metadata"]["total_pages_crawled"]
    # category sections in canonical order
    headers = [ln[3:] for ln in text.splitlines() if ln.startswith("## ")]
    from web2llmstxt_spark.functions.kernels import CATEGORY_ORDER

    assert headers == [c for c in CATEGORY_ORDER if c in headers]

    # JSON sink
    result_json = pipeline.generate_llmstxt(
        spark, site, "https://ex0.example/", str(tmp_path), max_pages=6,
        export_format="json", generated_at="2026-08-16T00:00:00",
    )
    (jpath,) = result_json["paths"]
    data = json.load(open(jpath, encoding="utf-8"))
    assert set(data) == {"metadata", "llms_entries"}
    assert len(data["metadata"]) == 15
    # the default run forms no O(pages) lists and counts every page
    assert result_json["entries"] is None and result_json["pages"] is None
    meta = result_json["metadata"]
    assert meta["total_entries_processed"] == meta["total_pages_crawled"]
    assert len(data["llms_entries"]) == meta["total_pages_crawled"]

    # full-text sink
    result_full = pipeline.generate_llmstxt(
        spark, site, "https://ex0.example/", str(tmp_path), max_pages=3,
        include_full_text=True, max_full_text_pages=5,
        generated_at="2026-08-16T00:00:00",
    )
    full_path = [p for p in result_full["paths"] if p.endswith("-llms-full.txt")][0]
    full_text = open(full_path, encoding="utf-8").read()
    assert "## Page 1:" in full_text and "**URL:**" in full_text
    assert os.path.basename(full_path) == "ex0.example-llms-full.txt"


def test_render_desc_twin_on_adversarial_content(spark):
    """The distributed render_desc column (plans/distill.py) and the
    Python reference (kernels.final_description) must stay
    byte-identical on content the golden corpus never exercises: a page whose
    first 30 'words' span >4096 chars (minified-JS shape), a word straddling
    the 4096 boundary, and NBSP/ideographic-space joints (non-boundaries
    under the pinned ASCII class)."""
    contents = [
        # one giant token then normal words: the 4096-prefix cut bites
        "x" * 5000 + " alpha beta gamma",
        # a word straddling exactly the 4096-char boundary
        ("word " * 819) + "straddler-token-yyyyyyyyyyyyyyyy then more words here",
        # NBSP + ideographic joints: 30-word window differs vs Python .split()
        ("alpha beta gamma　delta epsilon " * 20).strip(),
        # short page, shorter than 30 words
        "only a few words here.",
        "",
        None,
    ]
    rows = [
        (f"https://x.example/p{i}", f"T{i}", c, None, 10, 1.0, 1, "crawl", 0, i)
        for i, c in enumerate(contents)
    ]
    pages_df = spark.createDataFrame(rows, schemas.PAGES)
    # force every description onto the fallback path
    entries_df = distill.describe_pages(pages_df, full_text_only=True)
    out = distill.categorize_entries(entries_df, pages_df)
    got = {r.url: r.render_desc for r in out.collect()}
    for i, c in enumerate(contents):
        url = f"https://x.example/p{i}"
        expect = kernels.final_description("N/A (full_text_only mode)", c)
        assert got[url] == expect, (url, got[url][:80], expect[:80])
