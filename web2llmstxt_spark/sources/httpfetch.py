"""Real HTTP fetch transport (S2) + the HTML round trip it rides on.

The reference fetches each URL over HTTP and parses the page
(crawler/web_crawler.py:93-103; retry sessions :832-839). This module closes
the engine's last stubbed operator with the same shape, Spark-first:

- ``HttpFetcher`` — fetch(cand) as ONE mapInPandas over the candidate batch;
  per-URL retry lives INSIDE the task via `operators.retry.fetch_with_retry`
  (Spark task retries re-run whole partitions — per-URL retry must be
  UDF-internal), transport is stdlib urllib (requests is just a dependency,
  not a capability). Work is O(|candidates|), never corpus-sized; the
  candidate set is spread round-robin across fetch workers (or host-hashed
  when per-host pacing must be globally correct — see ``partition_by_host``).
- ``render_page_html`` / ``parse_page_html`` — a deterministic HTML
  rendering of the span model (heading/text/code/link/image/audio/video with
  offsets) and its exact inverse, so a page served as HTML reconstructs the
  corpus row bit-for-bit: (kind, text, media_ref, offset) span equality is
  the north-rule per-row invariant.
- ``CorpusHTTPServer`` — an in-process loopback server (ThreadingHTTPServer)
  publishing a synthetic Corpus as HTML, with a thread-safe request log.
  Tests drive the REAL fetch path end-to-end against it: a FrontierCrawler
  over HttpFetcher must match the TableFetcher crawl byte-for-byte on
  pages + seen (tests/test_httpfetch.py), politeness asserted server-side.

Scale shape: the fetcher carries only a gateway address into tasks (no
corpus, no closures over driver state); each task holds one HTTP connection
loop; retry/backoff per URL; found/fetch_ok map exactly onto the
TableFetcher join semantics so everything downstream (_fetch_post, seen
accounting, quirk Q5) is shared code.
"""

from __future__ import annotations

import html as _html
import threading
import time
from html.parser import HTMLParser
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame

from ..operators.retry import DEFAULT_FORCELIST, fetch_with_retry


class _MaxDictParam(AccumulatorParam):
    """Accumulator merging host -> last-fetch timestamps by max: tasks
    report when they last hit each host; the driver folds the per-task
    reports after the job so the NEXT fetch job can pace its first
    same-host request against the previous job's last one."""

    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        for k, t in b.items():
            if t > a.get(k, 0.0):
                a[k] = t
        return a

# ------------------------------------------------------------------ render

#: span kind -> (tag, is_media). Media spans carry the ref in src; link
#: spans carry BOTH text and ref (markdown-ish text + target).
_KIND_TAG = {
    "heading": "h1",
    "text": "p",
    "code": "pre",
    "link": "a",
    "image": "img",
    "audio": "audio",
    "video": "video",
}
_TAG_KIND = {v: k for k, v in _KIND_TAG.items()}


def render_page_html(title: str, spans, out_links) -> bytes:
    """Deterministic HTML for one page. Every span becomes one element
    tagged with its offset (``data-o``); nav links render last. The
    escaping is exactly inverted by ``parse_page_html`` — round-trip span
    equality is test-pinned (including unicode-whitespace text and
    multi-line code spans)."""
    parts = ["<!doctype html><html><head><title>",
             _html.escape(title or "", quote=False),
             "</title></head><body>\n"]
    for s in spans or []:
        kind = s["kind"] if isinstance(s, dict) else s[0]
        text = (s["text"] if isinstance(s, dict) else s[1]) or ""
        ref = (s["media_ref"] if isinstance(s, dict) else s[2]) or ""
        off = s["offset"] if isinstance(s, dict) else s[3]
        tag = _KIND_TAG.get(kind)
        esc = _html.escape(text, quote=False)
        if tag == "img":
            parts.append(f'<img src="{_html.escape(ref)}" data-o="{off}">\n')
        elif tag in ("audio", "video"):
            parts.append(f'<{tag} src="{_html.escape(ref)}" data-o="{off}"></{tag}>\n')
        elif tag == "a":
            parts.append(f'<a href="{_html.escape(ref)}" data-o="{off}">{esc}</a>\n')
        elif tag is not None:
            parts.append(f'<{tag} data-o="{off}">{esc}</{tag}>\n')
        else:  # unknown kind: generic carrier, still invertible
            parts.append(
                f'<section data-kind="{_html.escape(kind)}" '
                f'data-ref="{_html.escape(ref)}" data-o="{off}">{esc}</section>\n'
            )
    parts.append("<nav>\n")
    for link in out_links or []:
        parts.append(f'<a href="{_html.escape(link)}"></a>\n')
    parts.append("</nav></body></html>\n")
    return "".join(parts).encode("utf-8")


class _PageParser(HTMLParser):
    """Exact inverse of render_page_html (kernel-style, reused by the
    fetcher UDF). Spans come back in document order with their offsets;
    out_links only from <nav> (an <a data-o> outside nav is a link SPAN)."""

    def __init__(self):
        super().__init__(convert_charrefs=True)
        self.title: str | None = None
        self.spans: list[dict] = []
        self.out_links: list[str] = []
        self._in_nav = False
        self._in_title = False
        self._open: dict | None = None  # span being collected
        self._buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "nav":
            self._in_nav = True
            return
        if tag == "title":
            self._in_title = True
            self._buf = []
            return
        if self._in_nav:
            if tag == "a":
                self.out_links.append(a.get("href") or "")
            return
        if tag == "img":
            self.spans.append(
                {"kind": "image", "text": "", "media_ref": a.get("src") or "",
                 "offset": int(a["data-o"])}
            )
            return
        kind = "section" if tag == "section" else _TAG_KIND.get(tag)
        if kind is not None and "data-o" in a:
            self._open = {
                "kind": a.get("data-kind", kind) if tag == "section" else kind,
                "media_ref": (a.get("src") or a.get("href") or a.get("data-ref") or ""),
                "offset": int(a["data-o"]),
            }
            self._buf = []

    def handle_data(self, data):
        if self._in_title or self._open is not None:
            self._buf.append(data)

    def handle_endtag(self, tag):
        if tag == "nav":
            self._in_nav = False
        elif tag == "title":
            self.title = "".join(self._buf)
            self._in_title = False
        elif self._open is not None and _TAG_KIND.get(tag) or tag == "section":
            if self._open is not None:
                self._open["text"] = "".join(self._buf)
                # field order pinned to the span schema
                self.spans.append(
                    {"kind": self._open["kind"], "text": self._open["text"],
                     "media_ref": self._open["media_ref"],
                     "offset": self._open["offset"]}
                )
                self._open = None
                self._buf = []


def parse_page_html(body: bytes | str) -> dict:
    """HTML -> {title, spans, out_links}; inverse of render_page_html."""
    text = body.decode("utf-8") if isinstance(body, (bytes, bytearray)) else body
    p = _PageParser()
    p.feed(text)
    p.close()
    return {"title": p.title, "spans": p.spans, "out_links": p.out_links}


# --------------------------------------------------------------- transport

def http_transport(gateway: str, timeout: float = 10.0,
                   headers: dict | None = None):
    """Picklable transport ``fn(url, attempt) -> {status, body}`` routing
    every URL through a loopback/sidecar HTTP gateway: the request line
    carries the URL's path+query, the ``X-Target-URI`` header the full
    original URL (absolute-URI proxy convention) — so https URLs crawl over
    a plain-HTTP hop without touching the frontier's canonical identity.
    The single implementation behind both the standalone transport and the
    fetcher's in-task closure (which wraps per-host pacing around it)."""
    gw = gateway.rstrip("/")
    extra = dict(headers or {})

    def transport(url: str, attempt: int) -> dict:
        import urllib.error
        import urllib.request
        from urllib.parse import quote, urlsplit

        parts = urlsplit(url)
        path = quote(parts.path or "/", safe="/%:@!$&'()*+,;=~-._")
        if parts.query:
            path += "?" + parts.query
        req = urllib.request.Request(
            gw + path, headers={"X-Target-URI": url, **extra}
        )
        try:
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                return {"status": resp.status, "body": resp.read()}
        except urllib.error.HTTPError as e:
            return {"status": e.code}

    return transport


# ----------------------------------------------------------------- fetcher

class HttpFetcher:
    """Production fetch path (S2): per-partition HTTP via mapInPandas with
    UDF-internal retry (ref T5: urllib3 Retry(total=3, backoff_factor=1,
    status_forcelist=[429,500,502,503,504]), crawler/web_crawler.py:832-839)
    and optional per-host pacing.

    Output schema and found/fetch_ok semantics are TableFetcher's exactly
    (shared ``_fetch_post``): 200 -> found+ok, 404 -> not found (URL still
    enters seen, quirk Q5), retries-exhausted 5xx/429 -> found but failed.
    ``sleep`` defaults to real ``time.sleep`` so the documented backoff
    actually waits in production; tests pass ``sleep=None`` (no wait) or a
    recorder.

    ``partition_by_host=True`` hashes candidates by host so one host's URLs
    land in one task and ``per_host_delay_ms`` pacing is globally correct
    (the politeness budget the frontier enforces upstream stays the primary
    control; this is the transport-level floor). Default is round-robin
    spread — perfectly even fetch load, the right choice when upstream caps
    already bound per-host concurrency.
    Each request's ``X-Superstep`` header is its fetch() call's index: the
    superstep, except on a comprehensive budget cut (one call per wave).
    """

    def __init__(
        self,
        gateway: str,
        total: int = 3,
        backoff_factor: float = 1.0,
        status_forcelist: tuple[int, ...] = DEFAULT_FORCELIST,
        sleep=time.sleep,
        timeout: float = 10.0,
        partition_by_host: bool = False,
        per_host_delay_ms: int = 0,
        extra_headers: dict | None = None,
    ):
        self.gateway = gateway
        self.total = total
        self.backoff_factor = backoff_factor
        self.status_forcelist = status_forcelist
        self.sleep = sleep
        self.timeout = timeout
        self.partition_by_host = partition_by_host
        self.per_host_delay_ms = per_host_delay_ms
        self.extra_headers = dict(extra_headers or {})
        self._fetch_call = -1
        # host -> last-fetch wall-clock seconds, carried ACROSS fetch() calls
        # (r5 verdict #1: a per-job closure dict resets at superstep
        # boundaries, exactly where the reference's sequential loop never
        # violated the politeness floor). Wall clock, not monotonic: task
        # processes differ (and on a cluster, hosts differ); NTP-scale skew
        # is well under any realistic politeness delay.
        self._last_hits: dict[str, float] = {}
        self._hit_acc = None

    def _pacing_seed(self, now: float) -> dict[str, float]:
        """The host -> last-hit snapshot that seeds the next fetch job's
        tasks. The previous fetch job has been materialized by the frontier
        before fetch() is called again, so its accumulator value is
        complete: fold it into the carried map first. Then drop hits older
        than the per-host delay: only a hit within the delay of ``now`` can
        still make a task wait, and pruning keeps the map (and every task
        closure) O(active hosts) over a long crawl."""
        if self._hit_acc is not None:
            for k, t in self._hit_acc.value.items():
                if t > self._last_hits.get(k, 0.0):
                    self._last_hits[k] = t
        horizon = now - self.per_host_delay_ms / 1000.0
        self._last_hits = {h: t for h, t in self._last_hits.items() if t > horizon}
        return dict(self._last_hits)

    def fetch(self, cand: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F
        from pyspark.sql.types import (
            ArrayType, BooleanType, IntegerType, StringType, StructField,
            StructType,
        )

        from ..operators.frontier import _fetch_post

        self._fetch_call += 1
        span_t = StructType([
            StructField("kind", StringType()),
            StructField("text", StringType()),
            StructField("media_ref", StringType()),
            StructField("offset", IntegerType()),
        ])
        out_schema = StructType(
            list(cand.schema.fields)
            + [
                StructField("title", StringType()),
                StructField("spans", ArrayType(span_t)),
                StructField("out_links", ArrayType(StringType())),
                StructField("fetch_ok", BooleanType()),
                StructField("found", BooleanType()),
            ]
        )
        n_fetch = int(cand.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        if self.partition_by_host:
            # all of a host's URLs in one task: in-task pacing == global pacing
            cand = cand.repartition(
                n_fetch, F.xxhash64(F.lower(F.parse_url(F.col("url"), F.lit("HOST"))))
            )
        else:
            # even fetch load (the same spread the cf fetcher needs — slim
            # candidate rows otherwise AQE-coalesce into a few fat tasks)
            cand = cand.repartition(n_fetch)

        gateway, timeout = self.gateway, self.timeout
        total, bf = self.total, self.backoff_factor
        forcelist, sleep = self.status_forcelist, self.sleep
        delay_ms = self.per_host_delay_ms
        headers = dict(self.extra_headers)
        headers["X-Superstep"] = str(self._fetch_call)

        hit_acc = None
        seed_hits: dict[str, float] = {}
        if delay_ms > 0:
            seed_hits = self._pacing_seed(time.time())
            hit_acc = cand.sparkSession.sparkContext.accumulator(
                {}, _MaxDictParam()
            )
            self._hit_acc = hit_acc

        def run(batches):
            from urllib.parse import urlsplit

            base = http_transport(gateway, timeout, headers)
            # host -> wall-clock seconds, seeded with the prior fetch calls'
            # last hits so the floor holds across superstep and wave bounds
            last_hit: dict[str, float] = dict(seed_hits)

            def transport(url: str, attempt: int) -> dict:
                if delay_ms > 0:
                    host = urlsplit(url).netloc
                    prev = last_hit.get(host)
                    now = time.time()
                    if prev is not None:
                        wait = prev + delay_ms / 1000.0 - now
                        if wait > 0:
                            time.sleep(wait)
                    now = time.time()
                    last_hit[host] = now
                    hit_acc.add({host: now})
                return base(url, attempt)

            for pdf in batches:
                titles, spans_c, links_c, oks, founds = [], [], [], [], []
                for url in pdf["url"]:
                    r = fetch_with_retry(
                        transport, url, total, bf, forcelist, sleep
                    )
                    status = r.get("status")
                    if status == 200:
                        page = parse_page_html(r["body"])
                        titles.append(page["title"])
                        spans_c.append(page["spans"])
                        links_c.append(page["out_links"])
                        oks.append(True)
                        founds.append(True)
                    elif status == 404:
                        titles.append(None); spans_c.append(None)
                        links_c.append(None); oks.append(None)
                        founds.append(False)
                    else:  # retries exhausted (5xx/429/transport)
                        titles.append(None); spans_c.append(None)
                        links_c.append(None); oks.append(False)
                        founds.append(True)
                out = pdf.copy()
                out["title"] = titles
                out["spans"] = spans_c
                out["out_links"] = links_c
                out["fetch_ok"] = oks
                out["found"] = founds
                yield out

        return _fetch_post(cand.mapInPandas(run, out_schema))


# ------------------------------------------------------------------ server

class CorpusHTTPServer:
    """In-process loopback publisher of a synthetic Corpus: each page is
    served as the HTML render of its spans; pages with ``fetch_ok=False``
    answer 503 (exercising the retry policy), unknown URLs 404. Keeps a
    thread-safe request log [(host, path, target_uri, fetch_call,
    t_monotonic)] (``X-Superstep``: HttpFetcher's fetch() call) so tests
    can assert politeness (per-host request counts per fetch call) SERVER-
    side — the only place pacing claims are honest. Use as a context
    manager; ``base_url`` is the gateway for HttpFetcher."""

    def __init__(self, pages: dict, host: str = "127.0.0.1", port: int = 0):
        self.log: list[tuple] = []
        self._lock = threading.Lock()
        rendered: dict[str, tuple[int, bytes]] = {}
        for url, p in pages.items():
            title = p.title if hasattr(p, "title") else p["title"]
            spans = p.spans if hasattr(p, "spans") else p["spans"]
            links = p.out_links if hasattr(p, "out_links") else p["out_links"]
            ok = p.fetch_ok if hasattr(p, "fetch_ok") else p["fetch_ok"]
            body = render_page_html(title, spans, links)
            rendered[url] = (200 if ok else 503, body)
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802 (stdlib API)
                target = self.headers.get("X-Target-URI") or self.path
                step = self.headers.get("X-Superstep")
                from urllib.parse import urlsplit

                with outer._lock:
                    outer.log.append(
                        (urlsplit(target).netloc, urlsplit(target).path,
                         target, int(step) if step is not None else None,
                         time.monotonic())
                    )
                hit = rendered.get(target)
                if hit is None:
                    self.send_response(404)
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                status, body = hit
                self.send_response(status)
                if status != 200:
                    self.send_header("Content-Length", "0")
                    self.end_headers()
                    return
                self.send_header("Content-Type", "text/html; charset=utf-8")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *a):  # silence per-request stderr noise
                pass

        self._server = ThreadingHTTPServer((host, port), Handler)
        self.base_url = f"http://{host}:{self._server.server_address[1]}"
        self._thread = threading.Thread(
            target=self._server.serve_forever, daemon=True
        )

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._server.shutdown()
        self._server.server_close()
        self._thread.join(timeout=5)
        return False

    def requests_by_host(self) -> dict:
        with self._lock:
            out: dict[str, int] = {}
            for host, _p, _u, _s, _t in self.log:
                out[host] = out.get(host, 0) + 1
            return out

    def requests_by_host_superstep(self) -> dict:
        """(host, fetch() call) -> requests; the call is the superstep
        except on a comprehensive budget cut, one call per wave."""
        with self._lock:
            out: dict[tuple, int] = {}
            for host, _p, _u, step, _t in self.log:
                out[(host, step)] = out.get((host, step), 0) + 1
            return out
