"""Streaming sinks: the one dispatch per format over hand-built tables, the
JSON/YAML stream encoders against one-shot dumps, and the pipeline's llms.txt
against the reference kernels."""

import json

import pytest
from pyspark.sql import Row

from web2llmstxt_spark import schemas
from web2llmstxt_spark.functions import kernels
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig
from web2llmstxt_spark.operators.frontier import FrontierCrawler
from web2llmstxt_spark.plans import pipeline
from web2llmstxt_spark.sinks import writers
from web2llmstxt_spark.sources.corpus import generate_corpus

PAGES = [
    {"title": f"Page {i}", "url": f"https://x.example/p{i}", "content": f"body text {i} " * 12}
    for i in range(9)
]
META = {
    "generated_at": "2026-08-16T00:00:00",
    "model_used": "deterministic-fallback",
    "total_pages_crawled": 9,
    "processing_time_seconds": 1.23,
    "max_full_text_pages": None,
}


def _sink_meta(export_format="text", include_full_text=False, full_text_only=False, **kw):
    """META plus the keys of the pipeline's metadata the dispatch reads."""
    return {**META, "total_entries_processed": META["total_pages_crawled"],
            "export_format": export_format, "include_full_text": include_full_text,
            "full_text_only_mode": full_text_only, **kw}


def test_json_stream_valid(tmp_path):
    entries = [
        {"url": "https://x.example/p0", "title": "P", "description": "d",
         "word_count": 5, "index": 1, "category": "Other Pages", "render_desc": "d"}
    ]
    path = str(tmp_path / "o.json")
    writers.write_json_stream(path, entries, META, iter(PAGES))
    data = json.load(open(path, encoding="utf-8"))
    assert set(data) == {"metadata", "llms_entries", "full_content_pages"}
    assert len(data["full_content_pages"]) == len(PAGES)
    assert "render_desc" not in data["llms_entries"][0]
    path2 = str(tmp_path / "o2.json")
    writers.write_json_stream(path2, entries, META, None)
    assert set(json.load(open(path2, encoding="utf-8"))) == {"metadata", "llms_entries"}


def test_pipeline_llms_txt_bytes_match_legacy_render(spark, tmp_path):
    """The streamed llms.txt follows the reference's rendering rules, checked
    line by line against the kernel oracles over the fully collected crawl:
    the H1 is kernels.extract_site_name, the summary is
    kernels.generate_site_summary, and every bullet's description is
    kernels.final_description(description, content)."""
    base = "https://ex0.example/"
    corpus = generate_corpus(seed=31, n_hosts=1, pages_per_host=25)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    result = pipeline.generate_llmstxt(
        spark, site, base, str(tmp_path), max_pages=6,
        generated_at="2026-08-16T00:00:00", collect_entries=True,
    )
    (path,) = result["paths"]
    lines = open(path, encoding="utf-8").read().splitlines()

    # full pages (content included) from an identical deterministic crawl
    cfg = CrawlConfig(max_pages=6, safety_limit=6 * 5)
    crawler = FrontierCrawler(spark, site, cfg, use_bloom=True)
    pages_df, _ = crawler.crawl([(0, base)])
    pages_full = [r.asDict() for r in pages_df.orderBy("rank").collect()]
    assert [p["url"] for p in pages_full] == [p["url"] for p in result["pages"]]
    content = {p["url"]: p["content"] for p in pages_full}

    assert lines[0] == f"# {kernels.extract_site_name(base, pages_full)}"
    assert lines[2] == f"> {kernels.generate_site_summary(pages_full)}"
    assert lines[4] == (
        f"Generated from {len(pages_full)} pages on 2026-08-16 using automated crawling."
    )
    bullets = [ln for ln in lines if ln.startswith("- [")]
    want = [
        f"- [{e['title']}]({e['url']}): "
        + kernels.final_description(e["description"], content[e["url"]])
        for e in result["entries"]
    ]
    assert sorted(bullets) == sorted(want)


def test_v1_style_output(tmp_path, spark):
    """v1 format variants (generator/llms_generator.py:789-821): header
    shapes, `--- Page i ---` blocks, 80-char separators; both files streamed."""
    entries = [
        {"url": p["url"], "title": p["title"], "description": f"desc {i}",
         "word_count": 20, "index": i + 1, "category": "Other Pages",
         "render_desc": f"desc {i}"}
        for i, p in enumerate(PAGES[:3])
    ]
    path = str(tmp_path / "v1.txt")
    writers.write_llms_txt_v1_stream(path, "x.example", iter(entries), 3, "2026-08-16 00:00:00")
    txt = open(path, encoding="utf-8").read()
    assert txt.startswith("# X.EXAMPLE - LLMs.txt\n# Generated on 2026-08-16 00:00:00\n# Total pages: 3\n\n")
    assert "## Page 0\nURL: https://x.example/p0\nDescription: desc 0\n\n" in txt

    path = str(tmp_path / "full_v1.txt")
    writers.write_llms_full_v1_stream(path, "x.example", iter(PAGES[:3]), 3, "2026-08-16 00:00:00")
    got = open(path, encoding="utf-8").read()
    assert got.startswith("# X.EXAMPLE - Full Content\n")
    assert "--- Page 1 ---\nTitle: Page 0\nURL: https://x.example/p0\nContent:\n" in got
    assert got.count("=" * 80) == 4  # header sep + one per page

    # end-to-end through the pipeline dispatch
    corpus = generate_corpus(seed=57, n_hosts=1, pages_per_host=20)
    base = corpus.seeds[0][1]
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    res = pipeline.generate_llmstxt(
        spark, site, base, str(tmp_path / "v1"), max_pages=5,
        include_full_text=True, output_style="v1",
    )
    names = [p.split("/")[-1] for p in res["paths"]]
    assert any(n.endswith("-llms.txt") for n in names)
    assert any(n.endswith("-llms-full.txt") for n in names)
    body = open(res["paths"][0], encoding="utf-8").read()
    assert body.splitlines()[0].endswith("- LLMs.txt")


class _Frame:
    """Duck-typed stand-in for a DataFrame already in the order asked for:
    orderBy/select are no-ops and toLocalIterator yields the rows."""

    def __init__(self, rows):
        self.rows = rows

    def orderBy(self, *_):
        return self

    def select(self, *_):
        return self

    def toLocalIterator(self):
        return iter(self.rows)


def test_yaml_full_text_bounded_consumption(tmp_path):
    """The YAML sink must SLICE the page iterator (islice), never materialize
    it: with pages >> max_full_text_pages, only ~max_full rows may be pulled
    from the toLocalIterator stream (one extra probe row is islice's
    stop-check, not materialization)."""
    yaml = __import__("yaml")
    consumed = []

    def pages():
        for i in range(10_000):
            consumed.append(i)
            yield Row(title=f"Page {i}", url=f"https://x.example/p{i}", content=f"body {i}")

    entries = _Frame([
        Row(url="https://x.example/p0", title="P", description="d", word_count=5,
            index=1, category="Other Pages", render_desc="d")
    ])
    meta = _sink_meta("yaml", include_full_text=True, max_full_text_pages=7)
    paths = writers.write_output_files(
        str(tmp_path / "yaml_bounded"), "https://x.example", entries, _Frame(pages()),
        meta, "X", "Summary.",
    )
    assert len(consumed) <= 8, f"driver pulled {len(consumed)} rows for max_full=7"
    data = yaml.safe_load(open(paths[0], encoding="utf-8"))
    assert len(data["full_content_pages"]) == 7
    assert data["full_content_pages"][0]["url"] == "https://x.example/p0"


def test_write_output_files_entry_orders(spark, tmp_path):
    """The one dispatch builds both entry orders from the entries table:
    v2 llms.txt sections follow CATEGORY_ORDER (an unknown category is
    dropped) with bullets in index order; json, yaml and v1 list every entry
    in index order, and json/yaml leave out render_desc. llms-full.txt is
    rank-ordered under its header and the max_full_text_pages notice."""
    yaml = __import__("yaml")
    u = "https://x.example/p{}".format
    # (index, category), deliberately out of both orders
    spec = [(3, "Other Pages"), (1, "Key Documentation"), (4, "Key Documentation"),
            (2, "Not A Section"), (0, "Guides & Tutorials")]
    entries_df = spark.createDataFrame(
        [(u(i), f"P{i}", f"d{i}", 10 + i, i, cat, f"r{i}") for i, cat in spec],
        "url string, title string, description string, word_count int, index int, "
        "category string, render_desc string",
    )
    pages_df = spark.createDataFrame(
        [(u(i), f"P{i}", f"body {i}", i) for i in (4, 2, 0, 3, 1)],
        "url string, title string, content string, rank int",
    )

    def write(name, fmt, style="v2", **kw):
        m = _sink_meta(fmt, total_pages_crawled=5, total_entries_processed=5, **kw)
        return writers.write_output_files(
            str(tmp_path / name), "https://x.example", entries_df, pages_df, m,
            "X Site", "A summary.", style=style,
        )

    txt_path, full_path = write("v2", "text", include_full_text=True, max_full_text_pages=2)
    assert txt_path.endswith("x.example-llms.txt") and full_path.endswith("-llms-full.txt")
    assert open(txt_path, encoding="utf-8").read() == "\n".join([
        "# X Site\n", "> A summary.\n",
        "Generated from 5 pages on 2026-08-16 using automated crawling.\n",
        "## Key Documentation\n", f"- [P1]({u(1)}): r1\n- [P4]({u(4)}): r4\n",
        "## Guides & Tutorials\n", f"- [P0]({u(0)}): r0\n",
        "## Other Pages\n", f"- [P3]({u(3)}): r3\n",
    ])
    full = open(full_path, encoding="utf-8").read()
    assert full.startswith(
        "# https://x.example llms-full.txt\n"
        "# Generated on 2026-08-16T00:00:00 using deterministic-fallback\n"
        "# Total pages crawled: 5\n# Processing time: 1.23s\n"
        "# Displaying 2 of 5 crawled pages due to limit.\n\n"
    )
    assert full.count("## Page ") == 2
    assert f"## Page 1: P0\n**URL:** {u(0)}\n\nbody 0\n" in full
    assert f"## Page 2: P1\n**URL:** {u(1)}\n\nbody 1\n" in full

    in_order = [u(i) for i in range(5)]
    (jpath,) = write("json", "json")
    got = json.load(open(jpath, encoding="utf-8"))["llms_entries"]
    assert [e["url"] for e in got] == in_order
    assert all("render_desc" not in e for e in got)
    (ypath,) = write("yaml", "yaml")
    got = yaml.safe_load(open(ypath, encoding="utf-8"))["llms_entries"]
    assert [e["url"] for e in got] == in_order
    assert all("render_desc" not in e for e in got)
    (vpath,) = write("v1", "text", style="v1")
    v1 = open(vpath, encoding="utf-8").read()
    assert [ln[5:] for ln in v1.splitlines() if ln.startswith("URL: ")] == in_order
    assert "## P2\nURL: https://x.example/p2\nDescription: r2\n\n" in v1


@pytest.mark.parametrize("bad", [{"export_format": "markdown"}, {"output_style": "v3"}])
def test_unknown_output_options_rejected_before_any_job(spark, tmp_path, bad):
    """Both API entry points reject an export format or text style the sinks
    do not have, before they submit a Spark job."""
    sc = spark.sparkContext
    site = spark.createDataFrame([], schemas.SITE_PAGES)
    sc.setJobGroup("output-options", "output-options")
    try:
        with pytest.raises(ValueError, match=next(iter(bad))):
            pipeline.generate_llmstxt(
                spark, site, "https://x.example/", str(tmp_path / "api"), **bad
            )
        with pytest.raises(ValueError, match=next(iter(bad))):
            pipeline.generate_llmstxt_from_warc(
                spark, str(tmp_path / "none.warc.gz"), "https://x.example/",
                str(tmp_path / "warc"), **bad
            )
        assert sc.statusTracker().getJobIdsForGroup("output-options") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert not (tmp_path / "api").exists() and not (tmp_path / "warc").exists()


def test_yaml_stream_bytes_match_full_dump(tmp_path):
    """write_yaml_stream must be byte-identical to the one-shot yaml.dump of
    the same structure (sorted top-level keys, nested-list block layout),
    including the empty-entries and no-full-pages edges."""
    yaml = __import__("yaml")
    entries = [
        {"url": "https://x.example/p0", "title": "Tïtle", "description": "d: 1 # y",
         "word_count": 5, "index": 1, "category": "Other Pages"},
        {"url": "https://x.example/p1", "title": None, "description": "",
         "word_count": 0, "index": 2, "category": "Key Documentation"},
    ]
    pages = [{"title": p["title"], "url": p["url"], "content": p["content"]} for p in PAGES[:3]]
    cases = [
        ({"metadata": META, "llms_entries": entries, "full_content_pages": pages}, entries, pages),
        ({"metadata": META, "llms_entries": entries}, entries, None),
        ({"metadata": META, "llms_entries": []}, [], None),
    ]
    for i, (data, ents, full) in enumerate(cases):
        want = yaml.dump(data, default_flow_style=False, allow_unicode=True, indent=2)
        path = str(tmp_path / f"y{i}.yaml")
        writers.write_yaml_stream(
            path, META, iter(ents), iter(full) if full is not None else None
        )
        assert open(path, encoding="utf-8").read() == want, f"case {i}"


def test_json_stream_generator_matches_list(tmp_path):
    """llms_entries streamed from a generator must be byte-identical to the
    list path AND to json.dump(list, indent=2) — including the empty case."""
    entries = [
        {"url": f"https://x.example/p{i}", "title": f"Tïtle {i}", "description": f"d{i}",
         "word_count": i, "index": i + 1, "category": "Other Pages"}
        for i in range(3)
    ]
    for case, ents in (("some", entries), ("empty", [])):
        p_list = str(tmp_path / f"{case}_list.json")
        p_gen = str(tmp_path / f"{case}_gen.json")
        writers.write_json_stream(p_list, ents, META, None)
        writers.write_json_stream(p_gen, (e for e in ents), META, None)
        a = open(p_list, encoding="utf-8").read()
        assert a == open(p_gen, encoding="utf-8").read(), case
        # the llms_entries section is exactly json.dump(ents, indent=2)
        want_section = json.dumps(ents, indent=2, ensure_ascii=False)
        assert f'"llms_entries": {want_section}' in a, case
