"""session.local_frame, the one builder of driver-held tables, and the
product paths that must build every such table through it.

local_frame hands Spark one Arrow table: a LocalRelation at these sizes,
so no Python worker ever runs for it. Its schema is the contract: it must
equal what ``createDataFrame(rows, schema)`` gave, nullability and nesting
included. The guard tests patch ``SparkSession.createDataFrame`` to refuse
any input that is not Arrow or pandas, then run the crawl, pipeline and
curate entry points under it.
"""

import argparse
import hashlib
import importlib.util
import json
import os
import re
import shutil
import tempfile
import zipfile

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.types import StructType

from web2llmstxt_spark import schemas, session
from web2llmstxt_spark.operators import bpe, robots
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig, crawl
from web2llmstxt_spark.session import local_frame
from web2llmstxt_spark.sources.corpus import generate_corpus

SPAN = ("text", "hello", "", 0)
SITE_ROW = ("https://a.example/", "a.example", None, [SPAN, ("link", "", "/x", 1)],
            12, ["/x", "/y"], "text/html", True)

# (schema, rows) for each schema a converted call site passes
CASES = {
    "robots_rules": (robots.RULES_ARRAY_SCHEMA,
                     [("a.example", [(3, 1, "/ab"), (1, 0, "/")]), ("b.example", [])]),
    "bpe_merges": (bpe.MERGES_SCHEMA, [(1, "a", "b", "ab", 7), (2, "ab", "c", "abc", 3)]),
    "site_pages": (schemas.SITE_PAGES, [SITE_ROW]),
    # None where the schema allows it: a whole span (its NOT NULL kind and
    # offset are then null too), a span's text and media_ref, an out_links
    # element
    "site_pages_nulls": (schemas.SITE_PAGES, [
        SITE_ROW[:3] + ([None, ("text", None, None, 0)], 0, ["/x", None]) + SITE_ROW[6:]]),
    "seeds": ("seed_id int, base_url string, base_domain string, url string",
              [(0, "https://A.example", "A.example", "https://a.example/")]),
    "rank_offsets": ("__pid int, __rank_off long, __flag_off long", [(0, 0, 0), (1, 5, 2)]),
    "codebook": ("sub int, cid int, cvec array<double>", [(0, 1, [0.5, -1.0]), (1, 0, [])]),
    "sitemap_blobs": ("sitemap_url string, body binary", [("https://a.example/s.xml", b"\x1f\x8b\x00")]),
    "empty_caps": ("host string, cap int", []),
    "desc_cache_empty": ("cache_key string, description string", []),
}


def _jvm_schema(df) -> StructType:
    """The schema the JVM holds (not the Python-side cached copy)."""
    return StructType.fromJson(json.loads(df._jdf.schema().json()))


@pytest.mark.parametrize("case", sorted(CASES))
def test_schema_and_rows_match_the_list_path(spark, case):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _jvm_schema(got) == _jvm_schema(want)
    assert got.collect() == want.collect()


@pytest.mark.parametrize("schema,row,path", [
    (bpe.MERGES_SCHEMA, (1, "a", None, "ab", 7), "right_tok"),
    (schemas.SITE_PAGES, SITE_ROW[:3] + ([(None, "t", "", 0)],) + SITE_ROW[4:], "spans[].kind"),
    (schemas.SITE_PAGES, SITE_ROW[:5] + (None,) + SITE_ROW[6:], "out_links"),
])
def test_none_in_not_null_field_raises(spark, schema, row, path):
    with pytest.raises(ValueError, match=re.escape(path)):
        local_frame(spark, [row], schema)
    with pytest.raises(Exception):  # the list path's verifier refuses it too
        spark.createDataFrame([row], schema)


def test_small_input_plans_as_local_relation(spark):
    df = local_frame(spark, [("a.example", 3), ("b.example", 5)], "host string, cap int")
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    list_plan = spark.createDataFrame([("a.example", 3)], "host string, cap int")
    assert "LocalRelation" not in list_plan._jdf.queryExecution().optimizedPlan().toString()


# ---------------------------------------------------------- package zip


def _digest_of_zip(path: str) -> str:
    digest = hashlib.sha256()
    with zipfile.ZipFile(path) as z:
        for name in z.namelist():
            digest.update(name.encode() + b"\0" + hashlib.sha256(z.read(name)).digest())
    return digest.hexdigest()[:16]


def test_package_zip_is_named_after_its_content_and_reused():
    path = session.package_zip()
    name = os.path.basename(path)
    assert re.fullmatch(r"web2llmstxt_spark_pkg-[0-9a-f]{16}\.zip", name)
    assert name == f"web2llmstxt_spark_pkg-{_digest_of_zip(path)}.zip"
    with zipfile.ZipFile(path) as z:
        names = z.namelist()
    assert "web2llmstxt_spark/session.py" in names
    assert not any("__pycache__" in n for n in names)
    before = os.stat(path)
    assert session.package_zip() == path  # same content, same path ...
    after = os.stat(path)
    # ... and the file already there is not rewritten
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)


def test_package_zip_of_other_content_gets_another_path(tmp_path, monkeypatch):
    pkg = os.path.dirname(os.path.abspath(session.__file__))
    copy = tmp_path / "src" / "web2llmstxt_spark"
    shutil.copytree(pkg, copy, ignore=shutil.ignore_patterns("__pycache__"))
    spec = importlib.util.spec_from_file_location("session_copy", copy / "session.py")
    session_copy = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(session_copy)
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    same = session_copy.package_zip()
    assert os.path.basename(same) == os.path.basename(session.package_zip())
    with open(copy / "schemas.py", "a") as f:
        f.write("# another checkout\n")
    other = session_copy.package_zip()
    assert other != same and os.path.exists(same) and os.path.exists(other)
    assert os.path.basename(other) == f"web2llmstxt_spark_pkg-{_digest_of_zip(other)}.zip"
    assert not [p for p in os.listdir(tmp_path) if p.endswith(".tmp")]


# ------------------------------------------------ product paths, guarded


def _arrow_only(monkeypatch):
    """From here on, createDataFrame refuses any input but Arrow or pandas:
    a list or RDD input would run a Python-worker stage to unpickle it."""
    real = SparkSession.createDataFrame

    def guarded(self, data, *args, **kwargs):
        if not isinstance(data, (pa.Table, pd.DataFrame)):
            raise AssertionError(f"createDataFrame of a {type(data).__name__}")
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", guarded)


def test_guard_refuses_the_list_path(spark, monkeypatch):
    _arrow_only(monkeypatch)
    with pytest.raises(AssertionError, match="list"):
        spark.createDataFrame([(1,)], "x int")


def test_pipeline_with_robots_caps_and_budget_cut_builds_no_python_table(
        spark, tmp_path, monkeypatch):
    from web2llmstxt_spark.operators import ranking
    from web2llmstxt_spark.plans.pipeline import generate_llmstxt

    corpus = generate_corpus(seed=17, n_hosts=2, pages_per_host=25)
    caps = {h: c for h, _r, c, _d in corpus.host_policies}
    site = local_frame(spark, corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    seed = corpus.seeds[0][1]
    calls = []
    rank = ranking.global_rank

    def spy(*args, **kwargs):
        calls.append(spark.sparkContext.getLocalProperty("spark.job.description"))
        return rank(*args, **kwargs)

    monkeypatch.setattr(ranking, "global_rank", spy)
    _arrow_only(monkeypatch)
    res = generate_llmstxt(
        spark, site, seed, str(tmp_path / "out"), max_pages=2, include_full_text=True,
        robots_rules=corpus.robots_rules, enforce_robots=True, host_caps=caps,
        run_dir=str(tmp_path / "run"), collect_entries=True,
    )
    site.unpersist()
    # a comprehensive crawl that reached a budget-cut superstep
    assert any(c.endswith("-attempt") for c in calls), calls
    cfg = CrawlConfig(max_pages=6, comprehensive=True, safety_limit=30,
                      enforce_robots=True, host_caps=caps)
    want = crawl(corpus, cfg, [(0, seed)])
    assert [p["url"] for p in res["pages"]] == [p["url"] for p in want.pages]


def test_crawl_with_deny_hosts_builds_no_python_table(spark, monkeypatch):
    from web2llmstxt_spark.operators.frontier import FrontierCrawler

    corpus = generate_corpus(seed=31, n_hosts=3, pages_per_host=20)
    denied = sorted({u.split("/")[2] for _sid, u, _p in corpus.seeds})[1]
    cfg = CrawlConfig(max_pages=15, deny_hosts=frozenset({denied}))
    site = local_frame(spark, corpus.site_pages_rows(), schemas.SITE_PAGES).cache()
    seeds = [(sid, url) for sid, url, _ in corpus.seeds]
    _arrow_only(monkeypatch)
    pages_df, seen_df = FrontierCrawler(spark, site, cfg).crawl(seeds)
    got = [r.url for r in pages_df.orderBy("rank").collect()]
    seen = {r.url for r in seen_df.collect()}
    site.unpersist()
    want = crawl(corpus, cfg, seeds)
    assert got == [p["url"] for p in want.pages] and seen == want.seen


def test_curate_with_pack_out_builds_no_python_table(spark, tmp_path, monkeypatch):
    from web2llmstxt_spark.cli import run_curate

    p = str(tmp_path / "docs_in")
    os.makedirs(p)
    rows = [(i, f"hotel india juliet item {i} kilo lima mike november") for i in range(20)]
    pq.write_table(pa.table({"doc_id": [r[0] for r in rows], "text": [r[1] for r in rows]}),
                   os.path.join(p, "part-0.parquet"))
    args = argparse.Namespace(
        in_parquet=p, out=str(tmp_path / "curated"), text_col="text", id_col="doc_id",
        bench_parquet=None, no_repetition_gate=False, no_pii_scrub=False,
        no_substring_scrub=False, no_exact_dedup=False,
        pack_out=str(tmp_path / "shards"), pack_budget=8, bins_per_shard=2,
    )
    _arrow_only(monkeypatch)
    stats = run_curate(spark, args)
    assert stats["in_docs"] == 20 and stats["pack"]["docs"] == stats["kept_docs"] > 0
    assert stats["pack"]["shards"] >= 2
