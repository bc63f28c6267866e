"""Native Column-expression twins of the hot-path kernels.

These stay entirely JVM-side (whole-stage codegen, no Python boundary) — the
fast path for bulk scoring/categorization at 100 TB. Parity with the
pure-Python kernels (which the oracles run) is enforced by property tests
over generated inputs (tests/test_properties.py) and by the engine-vs-oracle
crawl gates.

Caveats (documented deviations, covered by parity tests on our URL corpora):
- ``str.isalpha`` is replicated as ``^[A-Za-z]+$`` (ASCII); the reference
  would also accept non-ASCII letters.
"""

from __future__ import annotations

import re as _re
from functools import reduce
from operator import or_

from pyspark.sql import Column
from pyspark.sql import functions as F

from . import kernels


def _regex_any(needles) -> str:
    """One alternation regex == any-substring-contains over the needle list.

    A single rlike node instead of N contains nodes — whole-stage codegen
    compiles in milliseconds instead of seconds (measured: the 53-needle
    contains-chain cost ~8 s of Janino per job)."""
    return "|".join(_re.escape(k) for k in needles)


def _contains_any(col: Column, needles) -> Column:
    return col.rlike(_regex_any(needles))


def score_url_native(url: Column, base_url: Column) -> Column:
    """Column-algebra twin of kernels.score_url_importance (C1).

    Ref: llmsgen/crawler/web_crawler.py:147-167 (pyc).
    """
    ul = F.lower(url)
    is_asset = ul.rlike(
        "(" + "|".join(_re.escape(e) for e in kernels.ASSET_EXTENSIONS) + ")$"
    )

    kw = (
        F.when(_contains_any(ul, kernels.HIGH_VALUE_KEYWORDS), F.lit(3.0))
        .when(_contains_any(ul, kernels.MEDIUM_VALUE_KEYWORDS), F.lit(1.5))
        .otherwise(F.lit(0.0))
    )
    low = F.when(_contains_any(ul, kernels.LOW_VALUE_KEYWORDS), F.lit(-5.0)).otherwise(F.lit(0.0))

    path = F.regexp_replace(F.replace(url, base_url, F.lit("")), r"^/+|/+$", "")
    segs = F.split(path, "/")
    n = F.size(segs)
    second_empty = (n == 2) & (F.get(segs, 1) == F.lit(""))
    seg_tier = (
        F.when((n <= 1) | second_empty, F.lit(2.0))
        .when(n <= 2, F.lit(1.5))
        .when(n > 4, F.lit(-1.0))
        .otherwise(F.lit(0.0))
    )
    alpha = F.when(
        F.exists(segs, lambda s: (F.length(s) > 3) & s.rlike("^[A-Za-z]+$")),
        F.lit(1.0),
    ).otherwise(F.lit(0.0))

    page_pen = F.when(
        url.contains("?page=") | url.contains("&page=") | url.contains("/page/"),
        F.lit(-3.0),
    ).otherwise(F.lit(0.0))
    # limit -1 (not 2): the kernel's url.split('?')[1] is the segment
    # BETWEEN the first and second '?', not everything after the first —
    # they differ only on double-'?' URLs, where limit 2 silently broke
    # kernel/native/DuckDB three-way parity
    after_q = F.get(F.split(url, r"\?", -1), 1)
    query_pen = F.when(
        url.contains("?") & (F.length(after_q) > 10), F.lit(-2.0)
    ).otherwise(F.lit(0.0))

    score = F.lit(1.0) + kw + low + seg_tier + alpha + page_pen + query_pen
    return F.when(is_asset, F.lit(0.0)).otherwise(F.greatest(F.lit(0.1), score))


def score_url_v1_native(url: Column) -> Column:
    """Column-algebra twin of kernels.score_url_importance_v1 (C2, the v1
    source-variant scorer — opt-in, never mixed into the v2 gold path).

    Ref: crawler/web_crawler.py:150-189.
    """
    ul = F.lower(url)
    is_asset = ul.rlike(
        "(" + "|".join(_re.escape(e) for e in kernels.ASSET_EXTENSIONS) + ")$"
    )
    high = F.when(
        _contains_any(ul, kernels.V1_HIGH_VALUE_KEYWORDS), F.lit(2.0)
    ).otherwise(F.lit(0.0))
    med = F.when(
        _contains_any(ul, kernels.V1_MEDIUM_VALUE_KEYWORDS), F.lit(1.0)
    ).otherwise(F.lit(0.0))
    # url.count('/') == size(split(url, '/', -1)) - 1; depth counts past
    # protocol+domain
    depth = F.size(F.split(url, "/", -1)) - F.lit(3)
    depth_pen = F.when(
        depth > 3, (depth - F.lit(3)).cast("double") * F.lit(-0.5)
    ).otherwise(F.lit(0.0))
    after_q = F.get(F.split(url, r"\?", -1), 1)  # same double-'?' quirk as v2
    query_pen = F.when(
        url.contains("?") & (F.length(after_q) > 10), F.lit(-2.0)
    ).otherwise(F.lit(0.0))
    score = F.lit(1.0) + high + med + depth_pen + query_pen
    return F.when(is_asset, F.lit(0.0)).otherwise(F.greatest(F.lit(0.1), score))


def categorize_native(url: Column, title: Column, content: Column) -> Column:
    """Column-algebra twin of kernels.categorize_entry (G1).

    Ref: llmsgen/utils/text_utils.py:265-302.
    """
    ul = F.lower(F.coalesce(url, F.lit("")))
    tl = F.lower(F.coalesce(title, F.lit("")))
    cl = F.lower(F.substring(F.coalesce(content, F.lit("")), 1, 300))

    def hit(keys, include_content=True):
        hays = [ul, tl, cl] if include_content else [ul, tl]
        pat = _regex_any(keys)
        return reduce(or_, [h.rlike(pat) for h in hays])

    return (
        F.when(hit(["/api", "/reference", "api docs", "developer."]), "API & Technical Reference")
        .when(hit(["/docs", "/documentation", "readme", "manual"]), "Key Documentation")
        .when(hit(["/guide", "/tutorial", "how-to", "learn", "getting-started"]), "Guides & Tutorials")
        .when(hit(["/product", "/service", "/feature", "pricing", "plans", "tool"]), "Products & Services")
        .when(hit(["/blog", "/news", "/article", "/resource"]), "Blog & Resources")
        .when(hit(["about", "contact", "company", "team", "mission"], include_content=False), "General Information")
        .when(_contains_any(ul, ["?page=", "/page/", "/compare", "/vs", "tag/", "category/"]), "Other Pages")
        .otherwise(F.lit("General Information"))
    )


def keyword_hits_native(url: Column, keywords) -> Column:
    """Number of BestFirst keywords appearing as substrings of lower(url) —
    the integer numerator of kernels.keyword_relevance_score (C3 stand-in,
    llmsgen/crawler/web_crawler.py:251+ (pyc) keyword consts)."""
    ul = F.lower(url)
    hits = F.lit(0)
    for k in keywords:
        hits = hits + F.when(ul.contains(k.lower()), 1).otherwise(0)
    return hits


def keyword_score_native(url: Column, keywords, weight: float = 1.0) -> Column:
    """Column twin of kernels.keyword_relevance_score (hit fraction x weight)."""
    return keyword_hits_native(url, keywords).cast("double") / F.lit(float(len(keywords))) * F.lit(weight)


def host_bucket_native(value: Column, num_buckets) -> Column:
    """JVM twin of kernels.host_bucket: md5-based deterministic bucket id
    (north-rule host-hash frontier partitioning). md5 rather than
    xxhash64/murmur3 because Python's hashlib computes the identical digest,
    keeping the pandas-UDF twin bit-exact. 15 hex chars = 60 bits, exact in
    a long. Applied to every frontier candidate every superstep (the Bloom
    prefilter's partition key), so it must not cross a Python boundary."""
    h = F.md5(F.coalesce(value, F.lit("")))
    return F.pmod(
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"), F.lit(num_buckets)
    ).cast("int")


def _ordered_robots_rules(rules_by_host: dict) -> list[tuple[str, str, str]]:
    """Flatten rules_by_host into the evaluation order under which a flat
    FIRST-match CASE == longest-prefix-match with allow-on-tie: per host,
    sort by (prefix length desc, allow before disallow). Two same-length
    prefixes that both match a path are the same string, so the only real
    tie is a duplicate prefix with conflicting rules — allow sorts first and
    wins, matching oracle.robots_disallowed."""
    out = []
    for host, rules in rules_by_host.items():
        for rule, prefix in sorted(rules, key=lambda rp: (-len(rp[1]), rp[0] != "allow")):
            out.append((host.lower(), rule, prefix))
    return out


# ------------------------------------------------------------------ SQL twins
# DuckDB translations for the driver's oracle (ANSI-ish SQL). The scorer SQL
# replicates C1 branch-for-branch so the oracle check covers the real
# operator, not a toy.

def _sql_contains_any(expr: str, needles) -> str:
    return "(" + " OR ".join(f"contains({expr}, '{k}')" for k in needles) + ")"


def score_url_sql(url_expr: str, base_sql: str) -> str:
    """DuckDB SQL expression computing kernels.score_url_importance(url, base).

    ``base_sql`` is a raw SQL expression (quote literals yourself:
    ``"'https://ex.example'"``) so per-row bases like ``'https://' || host``
    work too."""
    ul = f"lower({url_expr})"
    asset = "(" + " OR ".join(f"{ul} LIKE '%{e}'" for e in kernels.ASSET_EXTENSIONS) + ")"
    high = _sql_contains_any(ul, kernels.HIGH_VALUE_KEYWORDS)
    med = _sql_contains_any(ul, kernels.MEDIUM_VALUE_KEYWORDS)
    low = _sql_contains_any(ul, kernels.LOW_VALUE_KEYWORDS)
    segs = f"string_split(trim(replace({url_expr}, {base_sql}, ''), '/'), '/')"
    n = f"len({segs})"
    second_empty = f"({n} = 2 AND {segs}[2] = '')"
    alpha = f"(len(list_filter({segs}, s -> len(s) > 3 AND regexp_full_match(s, '[A-Za-z]+'))) > 0)"
    page = (
        f"(contains({url_expr}, '?page=') OR contains({url_expr}, '&page=')"
        f" OR contains({url_expr}, '/page/'))"
    )
    after_q = f"string_split({url_expr}, '?')[2]"
    query_pen = f"(contains({url_expr}, '?') AND len({after_q}) > 10)"
    score = (
        f"1.0 + (CASE WHEN {high} THEN 3.0 WHEN {med} THEN 1.5 ELSE 0.0 END)"
        f" + (CASE WHEN {low} THEN -5.0 ELSE 0.0 END)"
        f" + (CASE WHEN ({n} <= 1 OR {second_empty}) THEN 2.0"
        f"      WHEN {n} <= 2 THEN 1.5 WHEN {n} > 4 THEN -1.0 ELSE 0.0 END)"
        f" + (CASE WHEN {alpha} THEN 1.0 ELSE 0.0 END)"
        f" + (CASE WHEN {page} THEN -3.0 ELSE 0.0 END)"
        f" + (CASE WHEN {query_pen} THEN -2.0 ELSE 0.0 END)"
    )
    return f"(CASE WHEN {asset} THEN 0.0 ELSE greatest(0.1, {score}) END)"


def score_url_v1_sql(url_expr: str) -> str:
    """DuckDB SQL expression computing kernels.score_url_importance_v1 (C2)."""
    ul = f"lower({url_expr})"
    asset = "(" + " OR ".join(f"{ul} LIKE '%{e}'" for e in kernels.ASSET_EXTENSIONS) + ")"
    high = _sql_contains_any(ul, kernels.V1_HIGH_VALUE_KEYWORDS)
    med = _sql_contains_any(ul, kernels.V1_MEDIUM_VALUE_KEYWORDS)
    # url.count('/') == len(string_split(url, '/')) - 1; depth past proto+domain
    depth = f"(len(string_split({url_expr}, '/')) - 3)"
    after_q = f"string_split({url_expr}, '?')[2]"  # Python split('?')[1]
    query_pen = f"(contains({url_expr}, '?') AND len({after_q}) > 10)"
    score = (
        f"1.0 + (CASE WHEN {high} THEN 2.0 ELSE 0.0 END)"
        f" + (CASE WHEN {med} THEN 1.0 ELSE 0.0 END)"
        f" + (CASE WHEN {depth} > 3 THEN -({depth} - 3) * 0.5 ELSE 0.0 END)"
        f" + (CASE WHEN {query_pen} THEN -2.0 ELSE 0.0 END)"
    )
    return f"(CASE WHEN {asset} THEN 0.0 ELSE greatest(0.1, {score}) END)"


def keyword_hits_sql(url_expr: str, keywords) -> str:
    """DuckDB twin of keyword_hits_native."""
    ul = f"lower({url_expr})"
    return "(" + " + ".join(
        f"(CASE WHEN contains({ul}, '{k.lower()}') THEN 1 ELSE 0 END)" for k in keywords
    ) + ")"


def categorize_sql(url_expr: str, title_expr: str, content_expr: str) -> str:
    """DuckDB SQL expression computing kernels.categorize_entry."""
    ul = f"lower(coalesce({url_expr}, ''))"
    tl = f"lower(coalesce({title_expr}, ''))"
    cl = f"lower(substr(coalesce({content_expr}, ''), 1, 300))"

    def hit(keys, include_content=True):
        hays = [ul, tl, cl] if include_content else [ul, tl]
        return "(" + " OR ".join(f"contains({h}, '{k}')" for k in keys for h in hays) + ")"

    other = _sql_contains_any(ul, ["?page=", "/page/", "/compare", "/vs", "tag/", "category/"])
    return (
        "(CASE "
        f"WHEN {hit(['/api', '/reference', 'api docs', 'developer.'])} THEN 'API & Technical Reference' "
        f"WHEN {hit(['/docs', '/documentation', 'readme', 'manual'])} THEN 'Key Documentation' "
        f"WHEN {hit(['/guide', '/tutorial', 'how-to', 'learn', 'getting-started'])} THEN 'Guides & Tutorials' "
        f"WHEN {hit(['/product', '/service', '/feature', 'pricing', 'plans', 'tool'])} THEN 'Products & Services' "
        f"WHEN {hit(['/blog', '/news', '/article', '/resource'])} THEN 'Blog & Resources' "
        f"WHEN {hit(['about', 'contact', 'company', 'team', 'mission'], False)} THEN 'General Information' "
        f"WHEN {other} THEN 'Other Pages' "
        "ELSE 'General Information' END)"
    )


def robots_disallowed_sql(url_expr: str, rules_by_host: dict) -> str:
    """DuckDB expression for oracle.robots_disallowed (the registry's
    q_robots_filter oracle): one flat first-match CASE over the
    _ordered_robots_rules order; host/path via regexp (DuckDB has no
    parse_url), path falling back to '/'."""
    host = f"lower(regexp_extract({url_expr}, '^[a-zA-Z]+://([^/?#]+)', 1))"
    path = (
        f"coalesce(nullif(regexp_extract({url_expr}, "
        f"'^[a-zA-Z]+://[^/?#]+([^?#]*)', 1), ''), '/')"
    )
    whens = "".join(
        f"WHEN {host} = '{h}' AND starts_with({path}, '{prefix}') "
        f"THEN {'TRUE' if rule == 'disallow' else 'FALSE'} "
        for h, rule, prefix in _ordered_robots_rules(rules_by_host)
    )
    return f"(CASE {whens}ELSE FALSE END)"


# ------------------------------------------------------- URL canonicalization

def canon_url_native(url: Column) -> Column:
    """JVM Column twin of ``kernels.normalize_url`` (P1) for crawl-shaped
    URLs — the alias-collapse step a frontier runs on EVERY discovered link
    before the seen-check, so at a 10^10-URL frontier it must stay inside
    whole-stage codegen (the pandas-UDF kernel remains the parity oracle).

    Bounded contract (exactly what link extraction emits and the synthetic
    corpora generate; asserted by tests/test_canon.py against the kernel):
    no userinfo/port/;params, query keys unique with non-blank values, and
    percent-encoding already canonical (urlencode would re-quote exotic
    bytes; the JVM twin does not).

    Ref semantics: crawler/web_crawler.py:371-395 — drop fragment, lowercase
    scheme+netloc, rstrip trailing '/' from path (empty -> '/'), drop the 15
    tracking params, preserve remaining param order.
    """
    nofrag = F.regexp_replace(url, "#.*$", "")
    scheme = F.lower(F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    host = F.lower(F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)", 1))
    rawpath = F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)", 1)
    stripped = F.regexp_replace(rawpath, "/+$", "")
    path = F.when(stripped == "", F.lit("/")).otherwise(stripped)
    query = F.regexp_extract(nofrag, r"\?(.*)$", 1)
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (F.size(F.split(p, "=")) >= 2)
        & (F.element_at(F.split(p, "="), 2) != "")
        & ~F.lower(F.element_at(F.split(p, "="), 1)).isin(
            sorted(kernels.TRACKING_PARAMS)
        ),
    )
    newq = F.array_join(kept, "&")
    return F.concat(
        scheme, F.lit("://"), host, path,
        F.when(newq != "", F.concat(F.lit("?"), newq)).otherwise(F.lit("")),
    )


def canon_url_sql(url_expr: str) -> str:
    """DuckDB twin of canon_url_native: identical regex surgery + list_filter
    param drop, so oracle rows canonicalize byte-for-byte with the JVM path."""
    tracking = ", ".join(f"'{t}'" for t in sorted(kernels.TRACKING_PARAMS))
    nofrag = f"regexp_replace({url_expr}, '#.*$', '')"
    scheme = f"lower(regexp_extract({nofrag}, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))"
    host = f"lower(regexp_extract({nofrag}, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1))"
    rawpath = (
        f"regexp_extract({nofrag}, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1)"
    )
    path = f"coalesce(nullif(regexp_replace({rawpath}, '/+$', ''), ''), '/')"
    query = f"regexp_extract({nofrag}, '\\?(.*)$', 1)"
    kept = (
        f"list_filter(string_split({query}, '&'), p -> "
        f"len(string_split(p, '=')) >= 2 AND string_split(p, '=')[2] != '' "
        f"AND NOT list_contains([{tracking}], lower(string_split(p, '=')[1])))"
    )
    newq = f"array_to_string({kept}, '&')"
    return (
        f"({scheme} || '://' || {host} || {path} || "
        f"CASE WHEN {newq} != '' THEN '?' || {newq} ELSE '' END)"
    )


# ----------------------------------------------------------------- SURT keys

def surt_key_native(url: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) key — the CDX index
    key every web-archive lookup system sorts on (OpenWayback/pywb spec,
    Common Crawl cdx-*.gz layout): scheme dropped, host labels reversed and
    comma-joined, then ``)/`` + path + ('?' + query if present), lowercased.

    ``example,ex,docs)/page?q=1`` sorts all of a registrable domain's
    subdomains contiguously — the property that lets a 300 GB CDX index be
    range-scanned per domain. Pure Column algebra (JVM, codegen); the
    DuckDB twin below is the oracle.

    Deviation from the full pywb canon (documented): query params are kept
    in original order, not alphabetized — callers canonicalize with
    canon_url_native first, which already drops tracking params.
    """
    lower = F.lower(url)
    host = F.regexp_extract(lower, r"^[a-z][a-z0-9+.-]*://([^/?]*)", 1)
    rest = F.regexp_extract(lower, r"^[a-z][a-z0-9+.-]*://[^/?]*(.*)$", 1)
    rev_host = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.when(rest == "", F.lit("/")).otherwise(rest)
    return F.concat(rev_host, F.lit(")"), path)


def surt_key_sql(url_expr: str) -> str:
    """DuckDB twin of surt_key_native (byte-identical keys)."""
    lower = f"lower({url_expr})"
    host = f"regexp_extract({lower}, '^[a-z][a-z0-9+.-]*://([^/?]*)', 1)"
    rest = f"regexp_extract({lower}, '^[a-z][a-z0-9+.-]*://[^/?]*(.*)$', 1)"
    rev_host = f"array_to_string(list_reverse(string_split({host}, '.')), ',')"
    path = f"(CASE WHEN {rest} = '' THEN '/' ELSE {rest} END)"
    return f"({rev_host} || ')' || {path})"
