"""Structured Streaming operators: hermetic file-source -> memory-sink tests."""

import time

import pyspark.sql.functions as F
import pytest

from web2llmstxt_spark.streaming import stream_crawl as SC


@pytest.fixture(autouse=True)
def no_query_left_running(spark):
    """Every drain ends its query: none may outlive the test that started it."""
    yield
    assert spark.streams.active == []


def test_windowed_crawl_metrics(spark, tmp_path):
    events_dir = str(tmp_path / "events")
    spark.read.parquet("/root/testdata/sf0.001/events.parquet").write.parquet(events_dir)
    stream = spark.readStream.schema(SC.EVENT_SCHEMA).parquet(events_dir)
    agg = SC.windowed_crawl_metrics(stream, window="1 hour", watermark="2 hours")
    SC.run_available_now(agg, "winmetrics", str(tmp_path / "ck1"), output_mode="complete")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value)
        for r in spark.table("winmetrics").collect()
    }
    # batch twin
    ev = spark.read.parquet(events_dir)
    expect = {
        (r.hour, r.event_type): (r.n, r.sum_value)
        for r in ev.withColumn(
            "hour", F.date_format(F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss")
        )
        .groupBy("hour", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .collect()
    }
    assert got == expect


def test_politeness_gate_token_bucket(spark, tmp_path):
    urls_dir = str(tmp_path / "urls")
    rows = [(f"h{i % 3}.example", f"https://h{i % 3}.example/p{i}") for i in range(30)]
    spark.createDataFrame(rows, "host string, url string").repartition(1).write.parquet(urls_dir)
    stream = spark.readStream.schema("host string, url string").parquet(urls_dir)
    gated = SC.politeness_gate(stream, capacity_per_host=4)
    t = time.monotonic()
    SC.run_available_now(gated, "gated", str(tmp_path / "ck2"))
    # the gate's processing-time timeout keeps an AvailableNow query alive;
    # the drain must still end once the input is committed
    assert time.monotonic() - t < 30
    out = spark.table("gated").collect()
    assert len(out) == 30
    by_host = {}
    for r in out:
        by_host.setdefault(r.host, []).append(r.admitted)
    for host, admits in by_host.items():
        assert sum(admits) == 4, f"{host}: budget not enforced ({sum(admits)})"


def test_discovered_url_stream_normalizes(spark, tmp_path):
    in_dir = str(tmp_path / "links")
    rows = [
        ("https://Ex.COM/a/?utm_source=x#f", 0, "https://ex.com", "ex.com"),
        ("https://ex.com/a", 0, "https://ex.com", "ex.com"),  # same after P1
        ("https://ex.com/b", 0, "https://ex.com", "ex.com"),
    ]
    spark.createDataFrame(
        rows, "url string, seed_id int, base_url string, base_domain string"
    ).repartition(1).write.parquet(in_dir)
    stream = SC.discovered_url_stream(spark, in_dir)
    SC.run_available_now(stream, "cand", str(tmp_path / "ck3"))
    urls = sorted(r.url for r in spark.table("cand").collect())
    assert urls == ["https://ex.com/a", "https://ex.com/b"]


def test_seen_gate_dedups_across_restarts(spark, tmp_path):
    """J1 streaming twin: state survives the query restart via the
    checkpoint, so a URL seen in run 1 is NOT re-emitted by run 2.
    (File sink, not memory: only fault-tolerant sinks support recovery.)"""
    in_dir = tmp_path / "seenin"
    in_dir.mkdir()
    ck = str(tmp_path / "ck_seen")
    out_dir = str(tmp_path / "seenout")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "host string, url string").coalesce(1) \
            .write.parquet(str(in_dir / name))

    def run_once():
        stream = spark.readStream.schema("host string, url string") \
            .option("recursiveFileLookup", "true").parquet(str(in_dir))
        q = (SC.seen_gate(stream).writeStream.format("parquet")
             .option("path", out_dir).option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination(300)
        return sorted(r.url for r in spark.read.parquet(out_dir).collect())

    write_batch("batch1", [
        ("a.example", "https://a.example/1"),
        ("a.example", "https://a.example/1"),   # intra-batch dup
        ("a.example", "https://a.example/2"),
        ("b.example", "https://b.example/1"),
    ])
    got1 = run_once()
    assert got1 == ["https://a.example/1", "https://a.example/2",
                    "https://b.example/1"]

    write_batch("batch2", [
        ("a.example", "https://a.example/1"),   # dup ACROSS restart
        ("a.example", "https://a.example/3"),
        ("c.example", "https://c.example/1"),
    ])
    got2 = run_once()
    # run 2 appended ONLY the two never-seen URLs
    assert got2 == sorted(got1 + ["https://a.example/3",
                                  "https://c.example/1"])


def _site_page(url, links, words=12):
    text = " ".join(f"w{i}" for i in range(words))
    return (url, "ex.test", "Title " + url, [("text", text, "", 0)],
            words, links, "text/html", True)


def _cc_site(spark):
    """Tiny site with a known reachable closure: / -> a,b; a -> c; island
    /zz unreachable; /ext links off-domain (filtered by expand_links)."""
    from web2llmstxt_spark import schemas
    rows = [
        _site_page("https://ex.test/", ["/a", "/b"]),
        _site_page("https://ex.test/a", ["/c", "https://other.example/x"]),
        _site_page("https://ex.test/b", ["/a"]),          # re-link: seen dedup
        _site_page("https://ex.test/c", []),
        _site_page("https://ex.test/zz", ["/a"]),         # unreachable island
    ]
    return spark.createDataFrame(rows, schemas.SITE_PAGES)


def test_continuous_crawl_reaches_closure(spark, tmp_path):
    """The self-feeding streaming loop crawls exactly the reachable set,
    once per URL, and stops on a no-progress round."""
    site = _cc_site(spark)
    pages = SC.continuous_crawl(
        spark, site, str(tmp_path / "cc"), ["https://ex.test/"],
        base_url="https://ex.test", base_domain="ex.test",
    )
    urls = sorted(r.url for r in pages.select("url").collect())
    assert urls == [
        "https://ex.test/", "https://ex.test/a",
        "https://ex.test/b", "https://ex.test/c",
    ]  # closure only, no island, no off-domain, NO duplicates


def test_continuous_crawl_resumes_without_refetch(spark, tmp_path):
    """Kill-and-restart: a second driver loop over the same work_dir
    continues from the checkpointed seen state — the restart fetches the
    NEXT frontier ring, never refetching finished URLs."""
    site = _cc_site(spark)
    wd = str(tmp_path / "cc2")
    # round 1 only: fetches just the seed
    first = SC.continuous_crawl(
        spark, site, wd, ["https://ex.test/"],
        base_url="https://ex.test", base_domain="ex.test", max_rounds=1,
    )
    assert sorted(r.url for r in first.collect()) == ["https://ex.test/"]
    # "restart": fresh loop, same work_dir/checkpoint, seeds re-planted —
    # the seen state dedups them; remaining rings crawl exactly once
    pages = SC.continuous_crawl(
        spark, site, wd, ["https://ex.test/"],
        base_url="https://ex.test", base_domain="ex.test",
    )
    urls = sorted(r.url for r in pages.select("url").collect())
    assert urls == [
        "https://ex.test/", "https://ex.test/a",
        "https://ex.test/b", "https://ex.test/c",
    ]


def test_continuous_crawl_politeness_defers_and_completes(spark, tmp_path):
    """capacity_per_host=2: every reachable URL is still crawled exactly
    once, but over MORE rounds — the over-capacity remainder survives in the
    pending dir between rounds (checkpointed frontier remainder)."""
    import glob
    from web2llmstxt_spark import schemas
    # root fans out to 5 children at once: with cap 2 the ring must defer
    rows = [_site_page("https://ex.test/", [f"/p{i}" for i in range(5)])]
    rows += [_site_page(f"https://ex.test/p{i}", []) for i in range(5)]
    site = spark.createDataFrame(rows, schemas.SITE_PAGES)
    wd = str(tmp_path / "cc3")
    pages = SC.continuous_crawl(
        spark, site, wd, ["https://ex.test/"],
        base_url="https://ex.test", base_domain="ex.test",
        capacity_per_host=2,
    )
    urls = sorted(r.url for r in pages.select("url").collect())
    assert urls == ["https://ex.test/"] + [f"https://ex.test/p{i}" for i in range(5)]
    # deferral actually happened: pending dirs were written
    assert glob.glob(str(tmp_path / "cc3" / "pending" / "round-*"))
    # politeness held per round: 6 pages over cap 2 needs >= 3 fetch rounds,
    # visible as >= 3 links-round dirs (one per fetching superstep)
    assert len(glob.glob(str(tmp_path / "cc3" / "links" / "round-*"))) >= 3
