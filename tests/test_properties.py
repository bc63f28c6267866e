"""Property-based tests (hypothesis) for the pure kernels and codecs, and
for the engine's JVM matchers against those kernels.

Most run WITHOUT a SparkSession — they pin the driver-side Python kernels
and the stdlib codecs over randomized inputs, complementing the
example-based parity tests (SURVEY §5: the reference's own test strategy is
example-based; property tests harden the from-scratch pieces the reference
never had, the codecs above all). The last section holds the crawl
engine's Column-algebra scorers and robots matcher to the kernels the
oracles run; each example evaluates one generated list in one Spark
action."""

from hypothesis import given, settings
from hypothesis import strategies as st

from web2llmstxt_spark.functions import kernels, png, wav, y4m

# ------------------------------------------------------------------ codecs


@given(
    width=st.integers(1, 24),
    height=st.integers(1, 24),
    color_type=st.sampled_from([0, 2]),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_png_roundtrip(width, height, color_type, data):
    ch = 1 if color_type == 0 else 3
    n = width * height * ch
    pixels = data.draw(st.binary(min_size=n, max_size=n))
    w, h, got_ch, out = png.decode_png(png.encode_png(width, height, pixels, color_type))
    assert (w, h, got_ch) == (width, height, ch)
    assert out == pixels  # every scanline filter type unfilters exactly


@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    n_channels=st.integers(1, 2),
    bits=st.sampled_from([8, 16]),
    n_frames=st.integers(1, 64),
    data=st.data(),
)
@settings(max_examples=40, deadline=None)
def test_wav_roundtrip(rate, n_channels, bits, n_frames, data):
    block = n_channels * bits // 8
    n = n_frames * block
    payload = data.draw(st.binary(min_size=n, max_size=n))
    got_rate, got_ch, got_bits, samples = wav.decode_wav(
        wav.encode_wav(rate, n_channels, bits, payload)
    )
    assert (got_rate, got_ch, got_bits) == (rate, n_channels, bits)
    assert len(samples) == n_frames * n_channels
    # re-encode the decoded samples: byte-identical payload
    if bits == 8:
        again = bytes(s for s in samples)
    else:
        import struct

        again = b"".join(struct.pack("<h", s) for s in samples)
    assert again == payload


@given(
    width=st.integers(2, 16).map(lambda x: x * 2),  # 420 needs even dims
    height=st.integers(2, 16).map(lambda x: x * 2),
    cspace=st.sampled_from(["mono", "420"]),
    n_frames=st.integers(1, 6),
    data=st.data(),
)
@settings(max_examples=30, deadline=None)
def test_y4m_roundtrip(width, height, cspace, n_frames, data):
    size = width * height if cspace == "mono" else width * height * 3 // 2
    frames = [
        data.draw(st.binary(min_size=size, max_size=size))
        for _ in range(n_frames)
    ]
    w, h, _fps, got_cs, got = y4m.decode_y4m(
        y4m.encode_y4m(width, height, (25, 1), frames, cspace)
    )
    assert (w, h) == (width, height)
    assert got_cs == cspace  # decoder normalizes C420jpeg -> "420"
    assert got == frames


# ------------------------------------------------------------------ kernels

_url_path = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyz0123456789-_/.", min_size=0, max_size=30
)


@given(host=st.sampled_from(["ex.example", "EX.Example", "a.b.example"]),
       path=_url_path,
       frag=st.sampled_from(["", "#x", "#section-2"]))
@settings(max_examples=60, deadline=None)
def test_normalize_url_idempotent(host, path, frag):
    """normalize(normalize(u)) == normalize(u) — the URL-seen set's identity
    function must be a projection, or the anti-join would leak re-fetches."""
    u = f"https://{host}/{path}{frag}"
    once = kernels.normalize_url(u)
    assert kernels.normalize_url(once) == once


@given(st.text(max_size=200))
@settings(max_examples=60, deadline=None)
def test_word_count_non_negative_and_split_stable(text):
    wc = kernels.word_count(text)
    assert wc >= 0
    # pinned ASCII class: counting is join-stable on single spaces
    tokens = [t for t in text.split(" ") if t]
    rejoined = " ".join(tokens)
    assert kernels.word_count(rejoined) == kernels.word_count(rejoined + "")


# ------------------------------------------- substring dedup / scrub / bm25
# Spark-free: the DuckDB oracle twins are checked against a direct
# pure-Python spec over randomized corpora (the Spark plans are already
# hash-matched to these twins at sf0.01 and sf0.1 by the driver).

import math

import duckdb
import pandas as pd

from web2llmstxt_spark.operators import bm25, dedup

_doc = st.lists(st.sampled_from("a b c aa bb cc dd ee".split()), max_size=24)
_corpus = st.lists(_doc, min_size=1, max_size=12)


def _spec_windows(tokens, w):
    return [" ".join(tokens[i:i + w]) for i in range(len(tokens) - w + 1)]


@given(corpus=_corpus, w=st.integers(2, 5))
@settings(max_examples=30, deadline=None)
def test_window_dup_sql_matches_spec(corpus, w):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(
            dedup.window_dup_sql("text", "doc_id", "documents", window=w)
        ).fetchall()
    }
    # spec: window duplicated iff its text occurs in >= 2 distinct docs
    owners = {}
    for i, toks in enumerate(corpus):
        for win in set(_spec_windows(toks, w)):
            owners.setdefault(win, set()).add(i)
    for i, toks in enumerate(corpus):
        wins = _spec_windows(toks, w)
        dupw = sum(1 for win in wins if len(owners[win]) >= 2)
        bp = dupw * 10000 // max(len(wins), 1)
        assert got[i] == (len(wins), dupw, bp), (i, toks)


@given(corpus=_corpus, w=st.integers(2, 5))
@settings(max_examples=30, deadline=None)
def test_remove_spans_sql_matches_spec(corpus, w):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r[0]: (r[1], r[2], r[3])
        for r in con.sql(
            dedup.remove_spans_sql("text", "doc_id", "documents", window=w)
        ).fetchall()
    }
    owners = {}
    for i, toks in enumerate(corpus):
        for win in set(_spec_windows(toks, w)):
            owners.setdefault(win, set()).add(i)
    for i, toks in enumerate(corpus):
        toks = toks if toks else [""]  # pinned split: '' -> one empty token
        wins = _spec_windows(toks, w)
        covered = set()
        for p, win in enumerate(wins):           # p is 0-based here
            if len(owners[win]) >= 2:
                covered.update(range(p, p + w))  # tokens p..p+w-1
        kept = [t for j, t in enumerate(toks) if j not in covered]
        want = (" ".join(kept), len(toks) - len(kept), len(kept))
        assert got[i] == want, (i, toks)
        # conservation invariant
        assert got[i][1] + got[i][2] == len(toks)


@given(corpus=st.lists(_doc, min_size=2, max_size=10),
       qterms=st.lists(st.sampled_from("a b aa cc".split()), min_size=1,
                       max_size=3, unique=True))
@settings(max_examples=30, deadline=None)
def test_bm25_sql_matches_spec(corpus, qterms):
    rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    q = " ".join(qterms)
    got = con.sql(
        bm25.bm25_sql(q, "text", "doc_id", "documents", k=len(corpus))
    ).fetchall()
    # spec (empty docs tokenize to [''] under the pinned split semantics)
    toksed = [t if t else [""] for t in corpus]
    n = float(len(corpus))
    avgdl = sum(len(t) for t in toksed) / n
    dfreq = {t: sum(1 for d in toksed if t in d) for t in qterms}
    want = {}
    for i, d in enumerate(toksed):
        sc = 0.0
        for t in qterms:
            tf = d.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            sc += idf * tf * (bm25.K1 + 1) / (
                tf + bm25.K1 * (1 - bm25.B + bm25.B * len(d) / avgdl)
            )
        if sc > 0:
            want[i] = round(sc, 4)
    assert {r[0]: r[1] for r in got} == want


# ------------------------------------- engine matchers vs the oracle kernels
# The crawl engine scores and robots-filters every frontier candidate with
# JVM Column expressions; the oracles run the pure-Python kernels. Crawl
# order and the seen set depend on the two agreeing row for row.

from hypothesis import example
from pyspark.sql import functions as F

from web2llmstxt_spark.functions import native
from web2llmstxt_spark.operators import robots
from web2llmstxt_spark.oracle.crawl_oracle import robots_disallowed

_BASES = [
    "https://ex.example", "https://ex.example/", "https://docs.ex.example/api",
    "https://www.Acme.example/", "http://blog.example/news/",
]
_WORDS = sorted(
    set(kernels.HIGH_VALUE_KEYWORDS + kernels.MEDIUM_VALUE_KEYWORDS
        + kernels.LOW_VALUE_KEYWORDS + kernels.BESTFIRST_KEYWORDS)
) + ["page", "acme", "Docs", "LOGIN", "x"]
# ASCII only: the native isalpha test is ^[A-Za-z]+$ (native.py docstring)
_seg = st.one_of(
    st.sampled_from(_WORDS),
    st.text(alphabet="abcXYZ0189-_.", max_size=8),
)
_suffix = st.sampled_from(["", "/", ".png", ".PDF", ".html", ".js", "/page/2"])
_query = st.sampled_from([
    "", "?", "?page=2", "?q=1&page=3", "?q=short", "?q=a-much-longer-query",
    "?a=1?bb=22222222222",  # double '?': the kernel reads the middle part
])


@st.composite
def _scored_url(draw):
    """(url, base_url): the url usually extends its base (so the path-depth
    terms see a stripped path), sometimes another site's."""
    base = draw(st.sampled_from(_BASES))
    root = draw(st.one_of(st.just(base), st.sampled_from(_BASES)))
    segs = draw(st.lists(_seg, max_size=6))
    url = root.rstrip("/") + "/" + "/".join(segs) + draw(_suffix) + draw(_query)
    return url, base


@given(st.lists(_scored_url(), min_size=1, max_size=100))
@settings(max_examples=8, deadline=None)
def test_score_url_native_matches_kernel(spark, pairs):
    df = spark.createDataFrame(pairs, "url string, base_url string")
    rows = df.select(
        "url", "base_url",
        native.score_url_native(F.col("url"), F.col("base_url")).alias("s"),
    ).collect()
    assert len(rows) == len(pairs)
    for r in rows:
        assert r.s == kernels.score_url_importance(r.url, r.base_url), (r.url, r.base_url)


@given(
    urls=st.lists(st.one_of(st.none(), _scored_url().map(lambda p: p[0])),
                  min_size=1, max_size=100),
    base=st.sampled_from(_BASES),
    weight=st.sampled_from([1.0, 0.5, 3.0]),
)
@settings(max_examples=8, deadline=None)
def test_keyword_score_native_matches_kernel(spark, urls, base, weight):
    kws = kernels.bestfirst_keywords(base)
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rows = df.select(
        "url", native.keyword_score_native(F.col("url"), kws, weight).alias("s")
    ).collect()
    assert len(rows) == len(urls)
    for r in rows:
        assert r.s == kernels.keyword_relevance_score(r.url, kws, weight), (r.url, kws)


_HOSTS = ["a.example", "b.example", "edge.example"]
_path_seg = st.sampled_from(["private", "docs", "dup", "a", "ab", ""])
_prefix = st.builds(
    lambda segs, slash: "/" + "/".join(segs) + slash,
    st.lists(_path_seg, max_size=3), st.sampled_from(["", "/"]),
)
_rules = st.dictionaries(
    st.sampled_from(_HOSTS),
    st.lists(st.tuples(st.sampled_from(["allow", "disallow"]), _prefix), max_size=6),
)


@st.composite
def _robots_url(draw):
    host = draw(st.sampled_from(_HOSTS + ["other.example"]))
    if draw(st.booleans()):
        host = host.upper()  # host matching is case-insensitive
    path = draw(st.one_of(
        st.just(""),  # empty path decides as '/'
        st.lists(_path_seg, min_size=1, max_size=4).map(lambda s: "/" + "/".join(s)),
    ))
    return f"https://{host}{path}" + draw(st.sampled_from(["", "?page=2"]))


_EDGE_RULES = {"edge.example": [
    ("disallow", "/private/"),
    ("allow", "/private/docs/"),  # nested allow under a disallow
    ("allow", "/dup"),
    ("disallow", "/dup"),         # duplicate prefix: allow wins the tie
]}
_EDGE_URLS = [
    "https://edge.example",       # empty path -> '/'
    "https://edge.example/",
    "https://edge.example?page=2",
    "https://edge.example/private/x",
    "https://edge.example/private/docs/x",
    "https://edge.example/dup/inside",
    "https://EDGE.example/private/y",
    "https://nohost.example/private/x",
]


@given(rules_by_host=_rules, urls=st.lists(_robots_url(), min_size=1, max_size=100),
       broadcast=st.booleans())
@example(rules_by_host=_EDGE_RULES, urls=_EDGE_URLS, broadcast=True)
@example(rules_by_host=_EDGE_RULES, urls=_EDGE_URLS, broadcast=False)
@settings(max_examples=6, deadline=None)
def test_robots_join_matches_oracle(spark, rules_by_host, urls, broadcast):
    """The frontier's only robots matcher (rule-array join + longest-prefix
    Column algebra) decides every URL as oracle.robots_disallowed does."""
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    rules_df = robots.rules_array_from_list(spark, rules_by_host)
    rows = robots.with_robots_decision(df, rules_df, broadcast=broadcast).collect()
    assert sorted(r.url for r in rows) == sorted(urls)
    for r in rows:
        assert r.disallowed == robots_disallowed(r.url, rules_by_host), (r.url, rules_by_host)
