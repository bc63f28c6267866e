"""Sitemap strategy (S4/S5/O4), pagination synthesis (L3), multimodal ops."""

import pyspark.sql.functions as F
import pytest

from web2llmstxt_spark import schemas
from web2llmstxt_spark.functions import kernels as K
from web2llmstxt_spark.operators import multimodal, sitemap
from web2llmstxt_spark.operators.frontier import FrontierCrawler
from web2llmstxt_spark.sources.corpus import generate_corpus


class TestPaginationKernels:
    def test_page_path_pattern(self):
        out = K.generate_sequential_pages("https://e.c/page/3/", "e.c")
        assert "https://e.c/page/4/" in out and "https://e.c/page/12/" in out
        assert "https://e.c/page/13/" not in out  # range(cur+1, cur+10) => 9 next
        assert "https://e.c/page/1/" in out and "https://e.c/page/2/" in out  # prev

    def test_query_param_pattern(self):
        out = K.generate_sequential_pages("https://e.c/list?page=2", "e.c")
        assert "https://e.c/list?page=3" in out and "https://e.c/list?page=1" in out

    def test_offset_times_ten_quirk(self):
        out = K.generate_sequential_pages("https://e.c/l?offset=10", "e.c")
        # reference multiplies the page counter by 10 for offsets
        assert "https://e.c/l?offset=110" in out

    def test_probe_when_no_pattern(self):
        out = K.generate_sequential_pages("https://e.c/plain", "e.c")
        assert "https://e.c/plain?page=2" in out and "https://e.c/plain?p=5" in out
        assert len(out) == 8

    def test_domain_variants(self):
        v = K.get_domain_variants("www.shop.example.com")
        assert v == {"www.shop.example.com", "shop.example.com", "example.com", "www.example.com"}
        assert K.is_valid_domain_url("https://sub.example.com/x", v)
        assert not K.is_valid_domain_url("https://other.org/x", v)
        assert not K.is_valid_domain_url("ftp://example.com/x", v)


def _sitemap_crawl(spark, max_pages):
    """The seed-41 two-host corpus' cached site table and a sitemap crawler
    seeded from ex0's prioritized sitemap URLs."""
    corpus = generate_corpus(seed=41, n_hosts=2, pages_per_host=25)
    site = spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    entries = spark.createDataFrame(
        corpus.sitemap_entries,
        "sitemap_url string, parent_sitemap string, url string, is_index boolean",
    )
    seeds = sitemap.sitemap_seeds(
        entries, "https://ex0.example/", ["https://ex0.example/sitemap.xml"], max_pages)
    return site, seeds, FrontierCrawler(spark, site, sitemap.SitemapConfig(max_pages))


def _job_descriptions(spark, group, run):
    """``run()`` under job group ``group``; the descriptions of its jobs."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    store = sc._jsc.sc().statusStore()
    descriptions = [store.job(j).description()
                    for j in sorted(sc.statusTracker().getJobIdsForGroup(group))]
    return [d.get() if d.isDefined() else None for d in descriptions]


class TestSitemapStrategy:
    def test_flatten_prioritize_crawl(self, spark):
        site, seeds, crawler = _sitemap_crawl(spark, max_pages=10)
        try:
            assert 0 < len(seeds) <= 10
            assert [sid for sid, _url in seeds] == list(range(len(seeds)))
            pages, _seen = crawler.crawl(seeds)
            rows = pages.orderBy("rank").collect()
        finally:
            crawler.release()
            site.unpersist()
        assert 0 < len(rows) <= 10
        assert all(r.discovery_phase == "sitemap" and r.score == 1.0 for r in rows)
        assert all(r.depth == 0 for r in rows)
        # domain filter: no ex1/other urls through ex0's sitemap run
        assert all("ex0.example" in r.url for r in rows)
        assert all(r.word_count >= 50 for r in rows)
        # the crawl order is the prioritized seed order
        order = [K.normalize_url(url) for _sid, url in seeds]
        assert [r.url for r in rows] == [u for u in order if u in {r.url for r in rows}]

    def test_sitemap_crawl_tags_its_jobs_and_checkpoints_no_state(self, spark):
        """A depth-0-only crawl runs no superstep, so nothing reads its
        state: its jobs carry crawl:d0-fetch and crawl:finalize and none
        crawl:d0-state."""
        site, seeds, crawler = _sitemap_crawl(spark, max_pages=10)
        spark.sparkContext.setJobDescription(None)
        try:
            descriptions = _job_descriptions(
                spark, "sitemap-tags", lambda: crawler.crawl(seeds)[0].collect())
        finally:
            crawler.release()
            site.unpersist()
        crawl = [d for d in descriptions if d is not None]
        assert {"crawl:d0-fetch", "crawl:finalize"} <= set(crawl), descriptions
        assert all(d.startswith("crawl:") for d in crawl), descriptions
        assert "crawl:d0-state" not in crawl, descriptions

    def test_crawl_restores_caller_job_description(self, spark):
        """The crawl's phase tags end with the crawl: the caller's next job
        carries the caller's description, after a return and after a
        raise."""
        sc = spark.sparkContext
        site, seeds, crawler = _sitemap_crawl(spark, max_pages=5)
        sc.setJobDescription("caller")
        try:
            pages, _seen = crawler.crawl(seeds)
            assert sc.getLocalProperty("spark.job.description") == "caller"
            after = _job_descriptions(spark, "caller-next", pages.count)
            assert after and set(after) == {"caller"}, after

            def boom(_links):
                raise RuntimeError("link expansion failed")

            crawler._new_links = boom  # raises after the crawl tagged d0-fetch
            with pytest.raises(RuntimeError, match="link expansion failed"):
                crawler.crawl(seeds)
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)
            crawler.release()
            site.unpersist()

    def test_prioritization_is_shallowest_first(self, spark):
        urls = spark.createDataFrame(
            [("https://ex0.example/a/b/c",), ("https://ex0.example/a",),
             ("https://ex0.example/ab",), ("https://other.org/x",)],
            "url string",
        )
        got = [r.url for r in sitemap.prioritize_sitemap_urls(urls, "https://ex0.example/", 10).collect()]
        assert got == ["https://ex0.example/a", "https://ex0.example/ab", "https://ex0.example/a/b/c"]


class TestMultimodal:
    def test_image_feature_extraction_plumbing(self, spark):
        corpus = generate_corpus(seed=43, n_hosts=1, pages_per_host=10)
        docs = spark.createDataFrame(corpus.documents_rows(), schemas.DOCUMENTS)
        media = multimodal.media_from_documents(docs)
        n_media = media.count()
        assert n_media > 0
        feats = multimodal.extract_image_features(media)
        rows = feats.collect()
        assert len(rows) == n_media
        assert all(len(r.feat) == 16 for r in rows)
        assert all(0.0 <= r.mean_luma <= 1.0 for r in rows)
        # deterministic: same blob -> same features
        again = {(r.doc_id, r.media_ref): r.feat for r in feats.collect()}
        for r in rows:
            assert again[(r.doc_id, r.media_ref)] == r.feat

    def test_resize_and_frames(self, spark):
        corpus = generate_corpus(seed=43, n_hosts=1, pages_per_host=6)
        docs = spark.createDataFrame(corpus.documents_rows(), schemas.DOCUMENTS)
        media = multimodal.media_from_documents(docs)
        resized = multimodal.resize_images(media, 8, 8).collect()
        assert all(r.meta.width == 8 and len(r.blob) <= 64 for r in resized)

        vids = spark.createDataFrame(
            [("d1", "v.mp4", "video", None, ("video/mp4", None, None, 3500))],
            schemas.StructType if False else multimodal.MEDIA,
        )
        frames = multimodal.sample_video_frames(vids, every_ms=1000).collect()
        assert [(f.frame_idx, f.ts_ms) for f in frames] == [(0, 0), (1, 1000), (2, 2000)]

    def test_media_from_documents_all_modalities(self, spark):
        """Opt-in audio/video spans flow through media_from_documents into
        every real codec path (PNG, WAV, Y4M) end-to-end."""
        corpus = generate_corpus(
            seed=43, n_hosts=1, pages_per_host=10,
            media_kinds=("image", "audio", "video"),
        )
        docs = spark.createDataFrame(corpus.documents_rows(), schemas.DOCUMENTS)
        media = multimodal.media_from_documents(docs).cache()
        by_kind = {r.kind: r.n for r in
                   media.groupBy("kind").agg(F.count("*").alias("n")).collect()}
        assert set(by_kind) == {"image", "audio", "video"}
        assert all(n > 0 for n in by_kind.values())

        feats = multimodal.extract_image_features(media, decoder="png").collect()
        assert len(feats) == by_kind["image"]
        assert all(r.width == 8 and r.height == 8 for r in feats)

        afeats = multimodal.extract_audio_features(media).collect()
        assert len(afeats) == by_kind["audio"]
        assert all(r.sample_rate == 8000 and r.n_channels == 1 for r in afeats)
        assert all(r.n_samples == 128 and 0.0 <= r.mean_abs <= 1.0 for r in afeats)

        vframes = multimodal.extract_video_frames(media).collect()
        vids = {(r.doc_id, r.media_ref) for r in vframes}
        assert len(vids) == by_kind["video"]
        assert all(0.0 <= r.mean_luma <= 1.0 for r in vframes)
        media.unpersist()

    def test_default_corpus_spans_unchanged(self):
        """The media_kinds default keeps the corpus byte-identical: no
        audio/video spans, identical span sequence to an explicit image-only
        run (golden tests elsewhere depend on this)."""
        a = generate_corpus(seed=43, n_hosts=1, pages_per_host=6)
        b = generate_corpus(seed=43, n_hosts=1, pages_per_host=6,
                            media_kinds=("image",))
        sa = [(u, p.spans) for u, p in sorted(a.pages.items())]
        sb = [(u, p.spans) for u, p in sorted(b.pages.items())]
        assert sa == sb
        kinds = {s[0] for _, spans in sa for s in spans}
        assert "audio" not in kinds and "video" not in kinds

    def test_real_decoder_is_marked_stub(self, spark):
        import pytest

        corpus = generate_corpus(seed=43, n_hosts=1, pages_per_host=3)
        docs = spark.createDataFrame(corpus.documents_rows(), schemas.DOCUMENTS)
        media = multimodal.media_from_documents(docs)
        with pytest.raises(NotImplementedError):
            multimodal.extract_image_features(media, decoder="pil")
