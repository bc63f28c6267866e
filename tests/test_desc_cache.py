"""T4 description cache: check-before-generate + write-through.

Gate from VERDICT r1 #7: a second identical run computes 0 new descriptions,
and cached output is byte-identical to uncached output.
"""

import hashlib

from pyspark.sql import functions as F

from web2llmstxt_spark import schemas
from web2llmstxt_spark.plans.pipeline import distill_to_output, generate_llmstxt
from web2llmstxt_spark.sources.corpus import generate_corpus
from web2llmstxt_spark.state.desc_cache import cache_key_col


def _site(spark, corpus):
    return spark.createDataFrame(corpus.site_pages_rows(), schemas.SITE_PAGES).cache()


def _pages(spark, n=12):
    return spark.createDataFrame(
        [
            (f"https://r.example/p{i}", f"Page {i}", f"body text number {i} " * 6, None,
             24, 1.0, 1, "crawl", 0, i)
            for i in range(n)
        ],
        schemas.PAGES,
    )


def test_cache_key_matches_reference_formula(spark):
    """Spark cache_key == Python f"{url}:{md5(f'{title}|||{content[:1000]}')}"
    (models/client.py:68-78), incl. unicode + >1000-char content."""
    rows = [
        ("https://a.example/x", "Tïtle", "wörd " * 400),  # 2000 chars, unicode
        ("https://a.example/y", "", "short"),
        ("https://a.example/z", None, None),
    ]
    df = spark.createDataFrame(rows, "url string, title string, content string")
    got = {
        r["url"]: r["k"]
        for r in df.select(
            "url", cache_key_col(F.col("url"), F.col("title"), F.col("content")).alias("k")
        ).collect()
    }
    for url, title, content in rows:
        s = f"{title or ''}|||{(content or '')[:1000]}"
        want = f"{url}:{hashlib.md5(s.encode('utf-8')).hexdigest()}"
        assert got[url] == want, url


def test_second_run_computes_zero_descriptions(spark, tmp_path):
    corpus = generate_corpus(seed=41, n_hosts=1, pages_per_host=25)
    base = corpus.seeds[0][1]
    site = _site(spark, corpus)
    cache_dir = str(tmp_path / "desc_cache")

    r_nocache = generate_llmstxt(
        spark, site, base, str(tmp_path / "o0"), max_pages=8, collect_entries=True
    )
    r1 = generate_llmstxt(
        spark, site, base, str(tmp_path / "o1"), max_pages=8,
        desc_cache_dir=cache_dir, collect_entries=True
    )
    r2 = generate_llmstxt(
        spark, site, base, str(tmp_path / "o2"), max_pages=8,
        desc_cache_dir=cache_dir, collect_entries=True
    )
    assert r1["desc_cache_new"] == len(r1["entries"]) > 0  # cold: all computed
    assert r2["desc_cache_new"] == 0                       # warm: zero computed
    # cached == recomputed, byte-for-byte, in the same order
    key = lambda r: [(e["url"], e["description"], e["index"]) for e in r["entries"]]
    assert key(r1) == key(r2) == key(r_nocache)


def test_content_change_invalidates_entry(spark, tmp_path):
    """Editing a page's content flips its md5 -> exactly the edited pages
    recompute (the cache-key contract, models/client.py:70)."""
    corpus = generate_corpus(seed=43, n_hosts=1, pages_per_host=25)
    base = corpus.seeds[0][1]
    site = _site(spark, corpus)
    cache_dir = str(tmp_path / "cache")

    r1 = generate_llmstxt(
        spark, site, base, str(tmp_path / "a"), max_pages=6,
        desc_cache_dir=cache_dir, collect_entries=True
    )
    # mutate ONE crawled page's first span text (changes content[:1000])
    target = r1["entries"][0]["url"]
    mutated = site.withColumn(
        "spans",
        F.when(
            F.col("url") == target,
            F.transform(
                "spans",
                lambda s: F.struct(
                    s["kind"].alias("kind"),
                    F.concat(F.lit("EDITED "), s["text"]).alias("text"),
                    s["media_ref"].alias("media_ref"),
                    s["offset"].alias("offset"),
                ),
            ),
        ).otherwise(F.col("spans")),
    )
    r2 = generate_llmstxt(
        spark, mutated, base, str(tmp_path / "b"), max_pages=6,
        desc_cache_dir=cache_dir, collect_entries=True
    )
    # exactly ONE page recomputes (the edit); every unedited page is a hit
    assert r2["desc_cache_new"] == 1
    # both the old and the new content-hash key for the edited url are now in
    # the table (write-through appended, didn't clobber)
    from web2llmstxt_spark.state.desc_cache import DescriptionCache

    cache_rows = DescriptionCache(spark, cache_dir).load().collect()
    target_keys = [r.cache_key for r in cache_rows if r.cache_key.startswith(f"{target}:")]
    assert len(target_keys) == 2
    assert len(cache_rows) == len(r1["entries"]) + 1


def test_append_only_two_writer_merge(spark, tmp_path):
    """The cache write path must be append-only (new part files per run, no
    read-modify-overwrite), so two runs writing deltas into the same cache
    dir both survive, and load() dedups keys at read time."""
    from web2llmstxt_spark.state.desc_cache import CACHE_SCHEMA, DescriptionCache

    path = str(tmp_path / "cache")
    w1 = DescriptionCache(spark, path)
    w2 = DescriptionCache(spark, path)
    d1 = spark.createDataFrame([("k1", "desc one"), ("k2", "desc two")], CACHE_SCHEMA)
    d2 = spark.createDataFrame([("k2", "desc two"), ("k3", "desc three")], CACHE_SCHEMA)
    import glob as _glob
    import os as _os

    assert w1.merge_and_save(d1) == 2

    def _parquet_files():
        return set(_glob.glob(_os.path.join(path, "delta-*", "*.parquet")))

    def _delta_dirs():
        return set(_glob.glob(_os.path.join(path, "delta-*")))

    files_after_1 = _parquet_files()
    assert len(_delta_dirs()) == 1
    assert w2.merge_and_save(d2) == 2
    files_after_2 = _parquet_files()
    # append-only: writer 2 wrote its OWN delta dir (own committer staging),
    # never touched writer 1's files
    assert len(_delta_dirs()) == 2
    assert files_after_1 <= files_after_2
    assert len(files_after_2) > len(files_after_1)
    loaded = {r.cache_key: r.description for r in w1.load().collect()}
    assert loaded == {"k1": "desc one", "k2": "desc two", "k3": "desc three"}
    # compaction (single-writer maintenance) keeps the same logical table
    assert w1.compact() == 3
    assert {r.cache_key for r in w1.load().collect()} == {"k1", "k2", "k3"}


def _make_fake_model():
    """Deterministic stand-in for the production LLM client: per-batch
    callable in the make_describe_udf contract (Arrow batch in/out).
    Returned as a CLOSURE so cloudpickle ships it by value — executors do
    not have the tests dir on sys.path (exactly the production shape: a
    user-supplied callable serialized into the UDF)."""
    def fake_model(titles, contents, urls):
        return ("MODEL: " + titles.fillna("")).str.upper()
    return fake_model


def test_injected_describe_fn_reaches_entries(spark, tmp_path):
    """D5 model seam: generate_llmstxt(describe_fn=...) routes descriptions
    through the injected per-batch callable instead of the fallback."""
    corpus = generate_corpus(seed=42, n_hosts=1, pages_per_host=20)
    base = corpus.seeds[0][1]
    site = _site(spark, corpus)
    r = generate_llmstxt(
        spark, site, base, str(tmp_path / "ai0"), max_pages=6,
        describe_fn=_make_fake_model(), collect_entries=True,
    )
    assert len(r["entries"]) > 0
    for e in r["entries"]:
        assert e["description"].startswith("MODEL: ")
        assert e["description"] == ("MODEL: " + (e["title"] or "")).upper()


def test_injected_model_sees_only_cache_misses(spark, tmp_path):
    """check-before-generate with a real model seam: the warm run writes 0
    new cache rows (the injected model is never consulted for hits) and
    yields byte-identical entries."""
    corpus = generate_corpus(seed=43, n_hosts=1, pages_per_host=20)
    base = corpus.seeds[0][1]
    site = _site(spark, corpus)
    cache_dir = str(tmp_path / "ai_cache")
    r1 = generate_llmstxt(
        spark, site, base, str(tmp_path / "ai1"), max_pages=6,
        desc_cache_dir=cache_dir, describe_fn=_make_fake_model(),
        collect_entries=True,
    )
    r2 = generate_llmstxt(
        spark, site, base, str(tmp_path / "ai2"), max_pages=6,
        desc_cache_dir=cache_dir, describe_fn=_make_fake_model(),
        collect_entries=True,
    )
    assert r1["desc_cache_new"] == len(r1["entries"]) > 0
    assert r2["desc_cache_new"] == 0
    key = lambda r: [(e["url"], e["description"], e["index"]) for e in r["entries"]]
    assert key(r1) == key(r2)
    assert all(e["description"].startswith("MODEL: ") for e in r2["entries"])


def test_distill_releases_its_caches(spark, tmp_path, persisted):
    """distill_to_output with the description cache persists the pages, the
    described misses and the entries checkpoint; none of them may outlive
    the call. Two calls in one session, the second warm."""
    pages_df = _pages(spark)
    cache_dir = str(tmp_path / "desc_cache")
    news = []
    for run in range(2):
        before = persisted()
        res = distill_to_output(
            pages_df, "https://r.example/", str(tmp_path / f"o{run}"),
            desc_cache_dir=cache_dir,
        )
        assert persisted() <= before, f"call {run} left persisted RDDs"
        news.append(res["desc_cache_new"])
    assert news == [12, 0]


def test_each_cache_miss_described_once(spark, tmp_path):
    """The model sees each cache miss exactly once per run: the entries and
    the write-through delta share one materialization of the described
    misses, so a cold run calls it desc_cache_new times and a warm run
    never."""
    described = spark.sparkContext.accumulator(0)

    def counting_model(titles, contents, urls):
        described.add(len(titles))
        return ("MODEL: " + titles.fillna("")).str.upper()

    pages_df = _pages(spark)
    cache_dir = str(tmp_path / "desc_cache")
    runs = []
    for run in range(2):
        before = described.value
        res = distill_to_output(
            pages_df, "https://r.example/", str(tmp_path / f"o{run}"),
            desc_cache_dir=cache_dir, describe_fn=counting_model,
        )
        runs.append((res["desc_cache_new"], described.value - before))
    assert runs == [(12, 12), (0, 0)]


def test_compact_releases_its_checkpoint(spark, tmp_path, persisted):
    """compact() reads the cache fully before deleting the old deltas; that
    checkpoint must not outlive the call."""
    from web2llmstxt_spark.state.desc_cache import CACHE_SCHEMA, DescriptionCache

    cache = DescriptionCache(spark, str(tmp_path / "cache"))
    for rows in ([("k1", "one"), ("k2", "two")], [("k3", "three")]):
        cache.merge_and_save(spark.createDataFrame(rows, CACHE_SCHEMA))
    before = persisted()
    assert cache.compact() == 3
    assert persisted() <= before, "compact() left its checkpoint persisted"
