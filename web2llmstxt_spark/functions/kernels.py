"""Pure-Python row kernels — the single source of truth for row semantics.

Every kernel here is a deterministic pure function re-implementing one
row-level behavior of the reference (cited ``file:line`` into
``/root/reference``; ``(pyc)`` = original source line recovered from the
shipped CPython 3.12 bytecode of the v2 ``llmsgen`` package).

They are shared by BOTH sides of every parity test:
  * the Spark engine wraps them in vectorized pandas UDFs
    (``functions/udfs.py``) so executor arithmetic is bit-identical, and
  * the pure-Python crawl oracle (``oracle/crawl_oracle.py``) composes them
    single-threaded.

No Spark imports here — this module must be importable on executors and in
the oracle without a JVM.
"""

from __future__ import annotations

import hashlib
import re
import string
import urllib.parse

# ---------------------------------------------------------------------------
# URL kernels
# ---------------------------------------------------------------------------

#: Tracking params stripped during URL normalization.
#: Ref: crawler/web_crawler.py:380-384 (v1 source; v2 pyc constant identical).
TRACKING_PARAMS = frozenset(
    {
        "utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
        "gclid", "fbclid", "gclsrc", "_ga", "_gl", "mc_cid", "mc_eid",
        "ref", "referrer", "source",
    }
)


def normalize_url(url: str) -> str:
    """Canonical URL identity used by the URL-seen set.

    Semantics of ``WebCrawler._normalize_url``
    (crawler/web_crawler.py:371-395; identical in
    llmsgen/crawler/web_crawler.py:47-69 (pyc)): drop fragment, strip
    trailing slash from the path (empty path -> '/'), drop the 15 tracking
    params, re-encode the remaining query with ``doseq``, lowercase netloc.
    """
    parsed = urllib.parse.urlparse(url)
    path = parsed.path.rstrip("/") or "/"
    query_params = urllib.parse.parse_qs(parsed.query)
    allowed = {k: v for k, v in query_params.items() if k.lower() not in TRACKING_PARAMS}
    new_query = urllib.parse.urlencode(allowed, doseq=True)
    return urllib.parse.urlunparse(
        (parsed.scheme, parsed.netloc.lower(), path, parsed.params, new_query, "")
    )


#: Asset extensions scored 0.0 (never crawled).
#: Ref: llmsgen/crawler/web_crawler.py:150 (pyc const tuple).
ASSET_EXTENSIONS = (
    ".png", ".jpg", ".jpeg", ".gif", ".svg", ".ico",
    ".css", ".js", ".pdf", ".zip", ".xml", ".txt",
)

#: Keyword tiers of the v2 importance scorer.
#: Ref: llmsgen/crawler/web_crawler.py:152-154 (pyc const tuples, verbatim).
HIGH_VALUE_KEYWORDS = (
    "agents", "tools", "ai", "automation", "solutions", "features", "pricing",
    "about", "docs", "documentation", "guide", "tutorial", "api", "reference",
    "blog", "article", "news", "support", "help", "faq", "getting-started",
    "overview", "mcp", "model", "claude",
)
MEDIUM_VALUE_KEYWORDS = (
    "product", "service", "resources", "download", "install", "setup",
    "config", "examples", "changelog", "contact", "team",
)
LOW_VALUE_KEYWORDS = (
    "login", "signup", "register", "cart", "checkout", "account", "profile",
    "admin", "search", "tag", "category", "author", "icon", "favicon",
    "apple-touch", "manifest", "robots",
)


def score_url_importance(url: str, base_url: str) -> float:
    """The frontier priority function (defines crawl order).

    Bytecode-exact twin of v2 ``WebCrawler._score_url_importance``
    (llmsgen/crawler/web_crawler.py:147-167 (pyc), disassembly-verified):

    - start 1.0; asset extension -> return 0.0 immediately
    - +3.0 if any high-value keyword in url.lower(), ELIF +1.5 medium
    - -5.0 if any low-value keyword in url.lower()
    - path segments = url.replace(base_url, '').strip('/').split('/'):
      +2.0 if <=1 segment or (2 segments and 2nd empty); elif +1.5 if <=2;
      elif -1.0 if >4
    - +1.0 if any segment has len>3 and isalpha
    - -3.0 if '?page='/'&page='/'/page/' in the RAW url (case-sensitive)
    - -2.0 if '?' in url and len(url.split('?')[1]) > 10
    - floor at 0.1
    """
    score = 1.0
    url_lower = url.lower()
    if any(url_lower.endswith(ext) for ext in ASSET_EXTENSIONS):
        return 0.0
    if any(k in url_lower for k in HIGH_VALUE_KEYWORDS):
        score += 3.0
    elif any(k in url_lower for k in MEDIUM_VALUE_KEYWORDS):
        score += 1.5
    if any(k in url_lower for k in LOW_VALUE_KEYWORDS):
        score -= 5.0
    path_segments = url.replace(base_url, "").strip("/").split("/")
    if len(path_segments) <= 1 or (len(path_segments) == 2 and not path_segments[1]):
        score += 2.0
    elif len(path_segments) <= 2:
        score += 1.5
    elif len(path_segments) > 4:
        score -= 1.0
    if any(s for s in path_segments if len(s) > 3 and s.isalpha()):
        score += 1.0
    if "?page=" in url or "&page=" in url or "/page/" in url:
        score -= 3.0
    if "?" in url and len(url.split("?")[1]) > 10:
        score -= 2.0
    return max(0.1, score)


#: Keyword tiers of the v1 importance scorer (top-level source variant).
#: Ref: crawler/web_crawler.py:161-174 (verbatim const lists).
V1_HIGH_VALUE_KEYWORDS = (
    "documentation", "docs", "guide", "tutorial", "api", "reference",
    "blog", "article", "news", "feature", "product", "service",
    "about", "contact", "help", "support", "changelog", "release",
    "tools", "resources", "pricing", "plans", "download", "install",
)
V1_MEDIUM_VALUE_KEYWORDS = ("learn", "faq", "getting-started", "overview", "intro")


def score_url_importance_v1(url: str, base_url: str = "") -> float:
    """The v1 ``WebCrawler._score_url_importance`` variant (C2) — the
    top-level-source scorer with DIFFERENT constants from the v2 gold path.
    Ref: crawler/web_crawler.py:150-189 (source, line-exact):

    - start 1.0; asset extension -> return 0.0 immediately
    - +2.0 if any of 24 high-value keywords in url.lower()
    - +1.0 ADDITIONALLY if any of 5 medium keywords (independent ifs,
      NOT elif — unlike v2)
    - -0.5 x (depth-3) where depth = url.count('/') - 2, only past depth 3
      (``base_url`` is ignored: v1 counts slashes on the raw url)
    - -2.0 if '?' in url and len(url.split('?')[1]) > 10
    - floor at 0.1

    NOT wired into the crawl paths: mixing these constants with the v2 gold
    scorer would corrupt crawl-order parity (SURVEY §2.4). Exposed as an
    opt-in scoring variant with JVM + DuckDB twins (native.score_url_v1_*)
    and a driver-checked query row.
    """
    score = 1.0
    url_lower = url.lower()
    if any(url_lower.endswith(ext) for ext in ASSET_EXTENSIONS):
        return 0.0
    if any(k in url_lower for k in V1_HIGH_VALUE_KEYWORDS):
        score += 2.0
    if any(k in url_lower for k in V1_MEDIUM_VALUE_KEYWORDS):
        score += 1.0
    path_depth = url.count("/") - 2
    if path_depth > 3:
        score -= (path_depth - 3) * 0.5
    if "?" in url and len(url.split("?")[1]) > 10:
        score -= 2.0
    return max(0.1, score)


def extract_domain_from_url(url: str) -> str:
    """Filename-safe domain. Ref: llmsgen/utils/text_utils.py:106-135."""
    try:
        if not url:
            return "unknown_domain"
        url_to_parse = url if "://" in url else "http://" + url
        parsed = urllib.parse.urlparse(url_to_parse)
        domain = parsed.netloc.replace("www.", "")
        if not domain or ("." not in domain and domain == url_to_parse.split("://")[-1].split("/")[0]):
            if "://" not in url and parsed.path == url and not parsed.netloc:
                return "unknown_domain"
            if not domain:
                return "unknown_domain"
            if "." not in domain:
                return "unknown_domain"
        return re.sub(r"[^\w\-_.]", "_", domain)
    except Exception:
        return "unknown_domain"


# ---------------------------------------------------------------------------
# Link extraction (the flatMap kernel)
# ---------------------------------------------------------------------------

#: Link prefixes dropped outright. Ref: crawler/web_crawler.py:482-484;
#: llmsgen/crawler/web_crawler.py:102-145 (pyc const tuple).
EXCLUDED_LINK_PREFIXES = ("#", "mailto:", "tel:", "javascript:")


def extract_links(raw_links, base_url: str, base_domain: str) -> list[str]:
    """Resolve + filter + normalize raw hrefs found on a page.

    Twin of the href path of ``WebCrawler._extract_all_links``
    (crawler/web_crawler.py:444-522; v2 llmsgen/crawler/web_crawler.py:102-145
    (pyc), same semantics), applied to the synthetic corpus' ``out_links``
    column (which plays the role of the regex-harvested raw hrefs):

    - skip empty and '#'/'mailto:'/'tel:'/'javascript:' prefixed links
    - '/x'           -> base_url.rstrip('/') + '/x'   (resolved against the
      SITE ROOT, not the current page — a reference quirk we replicate)
    - 'http...'      -> kept only if base_domain is a substring
    - other relative -> base_url.rstrip('/') + '/' + link.lstrip('/')
    - normalize_url(); drop if == base_url (raw compare, reference quirk)

    Returns a SORTED list (canonical order; the reference returns a set whose
    iteration order is nondeterministic — quirk Q1, canonicalized here and in
    the oracle identically).
    """
    out: set[str] = set()
    root = base_url.rstrip("/")
    for link in raw_links or ():
        if not link or link.startswith(EXCLUDED_LINK_PREFIXES):
            continue
        if link.startswith("/"):
            full = f"{root}{link}"
        elif link.startswith("http"):
            if base_domain not in link:
                continue
            full = link
        else:
            full = f"{root}/{link.lstrip('/')}"
        norm = normalize_url(full)
        if norm != base_url:
            out.add(norm)
    return sorted(out)


def get_domain_variants(domain: str) -> set[str]:
    """www/apex/subdomain variants (P3). Ref: crawler/web_crawler.py:711-733."""
    variants = {domain.lower()}
    if domain.startswith("www."):
        variants.add(domain[4:])
    else:
        variants.add(f"www.{domain}")
    if "." in domain:
        parts = domain.split(".")
        if len(parts) >= 2:
            main = ".".join(parts[-2:])
            variants.add(main)
            variants.add(f"www.{main}")
    return variants


def is_valid_domain_url(url: str, valid_domains: set[str]) -> bool:
    """Domain-variant membership (P3). Ref: crawler/web_crawler.py:735-759."""
    if not url or not url.startswith(("http://", "https://")):
        return False
    try:
        parsed = urllib.parse.urlparse(url)
        url_domain = parsed.netloc.lower()
        if url_domain in valid_domains:
            return True
        for valid in valid_domains:
            if url_domain == valid or url_domain.endswith(f".{valid}"):
                return True
        return False
    except Exception:
        return False


#: The v2 BestFirst keyword list (C3 stand-in). Verbatim constants from
#: ``crawl_website`` (llmsgen/crawler/web_crawler.py:251+ (pyc) const tuple);
#: the 24th keyword is the per-site domain name, appended at call time.
BESTFIRST_KEYWORDS = (
    "documentation", "guide", "tutorial", "api", "reference",
    "blog", "article", "news", "feature", "product", "service",
    "about", "contact", "help", "support", "changelog", "release",
    "tools", "resources", "pricing", "plans", "download", "install",
)


def domain_name_from_url(base_url: str) -> str:
    """``parsed.netloc.replace('www.','').split('.')[0]`` — the domain-name
    keyword the reference appends to the BestFirst scorer list
    (llmsgen/crawler/web_crawler.py:251+ (pyc): consts 'www.', '', '.', 0)."""
    return urllib.parse.urlparse(base_url).netloc.replace("www.", "").split(".")[0]


def bestfirst_keywords(base_url: str) -> tuple[str, ...]:
    """The full 24-keyword BestFirst list for a site."""
    return BESTFIRST_KEYWORDS + (domain_name_from_url(base_url),)


def keyword_relevance_score(url: str, keywords: tuple[str, ...], weight: float = 1.0) -> float:
    """Deterministic stand-in for crawl4ai's ``KeywordRelevanceScorer``
    (external library, C3): fraction of keywords appearing as substrings of
    the lowercased URL, times ``weight``. The reference delegates BestFirst
    ordering to this scorer (crawler/web_crawler.py:231-236 v1;
    llmsgen/crawler/web_crawler.py:251+ (pyc) with weight=1.0); the
    substring-hit-fraction form is the library's documented public behavior,
    reimplemented here so ordering is reproducible without the dependency.
    Matching is case-insensitive on both sides, so a keyword taken from a
    mixed-case host (``www.Acme.example`` -> ``Acme``) still hits.
    """
    if not keywords:
        return 0.0
    u = (url or "").lower()
    hits = sum(1 for k in keywords if k.lower() in u)
    return weight * (hits / len(keywords))


def make_absolute_url(href: str, base_url: str) -> str:
    """L4. Ref: crawler/web_crawler.py:634-642."""
    try:
        if href.startswith("http"):
            return href
        return urllib.parse.urljoin(base_url, href)
    except Exception:
        return ""


def generate_sequential_pages(current_url: str, base_domain: str, max_pages: int = 20) -> set[str]:
    """Sequential pagination synthesis (L3).

    Twin of ``WebCrawler._generate_sequential_pages``
    (crawler/web_crawler.py:644-709): first matching pattern of
    /page/N/, ?page=N, ?p=N, /pN/, ?offset=N generates ~9 next pages and
    up to 5 previous (offset steps by n*10 — reference quirk); with no
    pattern and no query string, probe ?page=2..5 and ?p=2..5. (v1-only
    operator; its results are never enqueued by the reference — quirk Q3.)
    """
    out: set[str] = set()
    patterns = [
        (r"/page/(\d+)/", lambda m, n: current_url.replace(f"/page/{m.group(1)}/", f"/page/{n}/")),
        (r"[?&]page=(\d+)", lambda m, n: re.sub(r"([?&])page=\d+", f"\\g<1>page={n}", current_url)),
        (r"[?&]p=(\d+)", lambda m, n: re.sub(r"([?&])p=\d+", f"\\g<1>p={n}", current_url)),
        (r"/p(\d+)/", lambda m, n: current_url.replace(f"/p{m.group(1)}/", f"/p{n}/")),
        (r"[?&]offset=(\d+)", lambda m, n: re.sub(r"([?&])offset=\d+", f"\\g<1>offset={n * 10}", current_url)),
    ]
    for pattern, gen in patterns:
        m = re.search(pattern, current_url)
        if m:
            try:
                current = int(m.group(1))
            except ValueError:
                continue
            for nxt in range(current + 1, min(current + max_pages, current + 10)):
                u = gen(m, nxt)
                if u and base_domain in u and u != current_url:
                    out.add(u)
            if current > 1:
                for prev in range(max(1, current - 5), current):
                    u = gen(m, prev)
                    if u and base_domain in u and u != current_url:
                        out.add(u)
            break
    if not out and "?" not in current_url:
        base = current_url.rstrip("/")
        for page_num in range(2, 6):
            for param in ("page", "p"):
                test = f"{base}?{param}={page_num}"
                if base_domain in test:
                    out.add(test)
    return out


# ---------------------------------------------------------------------------
# Title kernels
# ---------------------------------------------------------------------------

def clean_title(title) -> str:
    """Distill-side title cleaner. Ref: llmsgen/utils/text_utils.py:30-46."""
    if not title:
        return "Untitled Page"
    t = str(title)
    t = re.sub(r"&[a-zA-Z0-9#]+;", " ", t)
    t = re.sub(r"<[^>]+>", "", t)
    t = re.sub(r"\s*[-|–—]\s*[^-|–—]+$", "", t)
    t = " ".join(t.split())
    if t and (t.islower() or t.isupper()):
        t = t.title()
    return t.strip() if t.strip() else "Untitled Page"


def clean_title_text(title) -> str:
    """Crawler-side title cleaner used on fetched pages.

    Twin of v2 ``WebCrawler._clean_title_text``
    (llmsgen/crawler/web_crawler.py:71-78 (pyc)): strip the suffix after the
    last separator, fall back to stripping a prefix when that empties the
    string, drop HTML entities, collapse whitespace, title-case all-lower /
    all-upper strings.
    """
    if not title:
        return "Untitled Page"
    t = str(title)
    stripped = re.sub(r"\s*[-|–—]\s*[^-|–—]*$", "", t)
    if not stripped.strip():
        stripped = re.sub(r"^\s*[^-|–—]*\s*[-|–—]\s*", "", t)
    stripped = re.sub(r"&[a-zA-Z0-9#]+;", " ", stripped)
    stripped = " ".join(stripped.split())
    if stripped and (stripped.islower() or stripped.isupper()):
        stripped = stripped.title()
    return stripped.strip() if stripped.strip() else "Untitled Page"


def extract_title(meta_title, markdown_content, url) -> str:
    """Title extraction with fallbacks.

    Twin of v2 ``WebCrawler._extract_title_v6``
    (llmsgen/crawler/web_crawler.py:80-100 (pyc)): metadata title (unless
    'untitled'/'') -> first markdown H1 -> titleized last URL segment (len>3)
    -> 'Untitled Page'.
    """
    if meta_title and str(meta_title).strip().lower() not in ("untitled", ""):
        return clean_title_text(str(meta_title).strip())
    if markdown_content:
        m = re.search(r"^#\s+(.+)", markdown_content, re.MULTILINE)
        if m:
            return clean_title_text(m.group(1))
    if url:
        seg = url.rstrip("/").split("/")[-1]
        seg = seg.replace("-", " ").replace("_", " ").title()
        if len(seg) > 3:
            return seg
    return "Untitled Page"


# ---------------------------------------------------------------------------
# Text cleaning / summarization kernels (the distill chain D1-D4)
# ---------------------------------------------------------------------------

#: UI/navigation regexes removed before summarization.
#: Ref: llmsgen/utils/text_utils.py:53-59.
_UI_PATTERNS = [
    r"\b(?:click here|read more|learn more|sign up|log in|subscribe|search|filter|sort by|view all)\b",
    r"\b(?:menu|navigation|nav|header|footer|sidebar|skip to|go to|back to|return to)\b",
    r"\b(?:cookie(?:s)?\s+(?:policy|notice|consent)|privacy\s+policy|terms\s+(?:of\s+)?(?:service|use))\b",
    r"\bcopyright\s*(?:©|&copy;)?\s*\d{4}\b",
    r"\ball\s+rights\s+reserved\b",
    r"\bfollow\s+us\s+on\b",
]

#: Navigation indicators. Ref: llmsgen/utils/text_utils.py:67-72.
NAV_INDICATORS = [
    "click here", "read more", "learn more", "sign up", "log in", "subscribe",
    "newsletter", "follow us", "social media", "cookie", "privacy policy",
    "terms of service", "copyright", "all rights reserved", "menu",
    "navigation", "back to top", "skip to content", "search", "filter", "sort by",
]


def clean_content_text_for_processing(content) -> str:
    """Ref: llmsgen/utils/text_utils.py:48-62."""
    if not content:
        return ""
    content = re.sub(r"\s+", " ", content)
    for pattern in _UI_PATTERNS:
        content = re.sub(pattern, "", content, flags=re.IGNORECASE)
    return content.strip()


def is_navigation_text(text: str, threshold_ratio: float = 0.3) -> bool:
    """Keyword-density nav detector. Ref: llmsgen/utils/text_utils.py:64-76."""
    text_lower = text.lower()
    nav_count = sum(1 for ind in NAV_INDICATORS if ind in text_lower)
    word_count = len(text.split())
    if word_count == 0:
        return False
    return (nav_count / word_count) > threshold_ratio


_MEANINGFUL_WORDS = [
    "is", "are", "was", "were", "has", "have", "can", "will",
    "provides", "offers", "describes",
]


def is_good_sentence_for_summary(
    sentence: str, min_len: int = 15, max_len: int = 200, alphanum_ratio: float = 0.7
) -> bool:
    """Summary-sentence predicate. Ref: llmsgen/utils/text_utils.py:78-92."""
    sentence = sentence.strip()
    if not (min_len <= len(sentence) <= max_len):
        return False
    if is_navigation_text(sentence, threshold_ratio=0.5):
        return False
    num_alphanum = sum(1 for ch in sentence if ch.isalnum() or ch.isspace())
    if len(sentence) > 0 and (num_alphanum / len(sentence)) < alphanum_ratio:
        return False
    if len(sentence.split()) < 5 and not any(w in sentence.lower() for w in _MEANINGFUL_WORDS):
        return False
    return True


def clean_sentence_for_output(sentence: str) -> str:
    """Ref: llmsgen/utils/text_utils.py:94-103."""
    if not sentence:
        return ""
    sentence = " ".join(sentence.strip().split())
    sentence = re.sub(r"[.!?]{2,}$", ".", sentence)
    if sentence and sentence[0].islower():
        sentence = sentence[0].upper() + sentence[1:]
    if sentence and not sentence.endswith((".", "!", "?")):
        sentence += "."
    return sentence


def extract_key_sentences_from_content(
    title: str, content: str, num_sentences: int = 3, max_chars_per_sentence: int = 150
) -> str:
    """Key-sentence summarizer (D1). Ref: llmsgen/utils/text_utils.py:169-198."""
    cleaned = clean_content_text_for_processing(content)
    if not cleaned or len(cleaned.strip()) < 50:
        return clean_title(title) if title else "Website content summary."
    sentences: list[str] = []
    paragraphs = [p.strip() for p in cleaned.split("\n\n") if p.strip()]
    for para in paragraphs[:5]:
        if len(sentences) >= num_sentences:
            break
        for sent in re.split(r"(?<=[.!?])\s+", para)[:2]:
            if is_good_sentence_for_summary(sent, max_len=max_chars_per_sentence):
                sentences.append(clean_sentence_for_output(sent))
                if len(sentences) >= num_sentences:
                    break
    if len(sentences) < num_sentences:
        items = re.findall(
            r"(?:^|\n)[-*•]\s*([^\n]{20," + str(max_chars_per_sentence) + r"})",
            cleaned,
            re.MULTILINE,
        )
        for item in items:
            if len(sentences) >= num_sentences:
                break
            if is_good_sentence_for_summary(item, max_len=max_chars_per_sentence):
                sentences.append(clean_sentence_for_output(item))
    if sentences:
        return " ".join(sentences)
    return create_initial_content_description(title, content)


def create_initial_content_description(title: str, content_sample: str) -> str:
    """Content-type template description (G2). Ref: llmsgen/utils/text_utils.py:201-212."""
    content_lower = (content_sample or "")[:1000].lower()
    ct = clean_title(title)
    if "api" in content_lower and ("documentation" in content_lower or "docs" in content_lower):
        return f"API documentation for {ct}."
    if "tutorial" in content_lower or "guide" in content_lower:
        return f"Tutorial and guide for {ct}."
    if "pricing" in content_lower or "plans" in content_lower:
        return f"Pricing information for {ct}."
    if "features" in content_lower or "capabilities" in content_lower:
        return f"Features and capabilities of {ct}."
    if "blog" in content_lower or "news" in content_lower or "article" in content_lower:
        return f"Blog post or article about {ct}."
    if "about" in content_lower or "company" in content_lower:
        return f"Information about {ct}."
    return f"Content related to {ct}."


def create_smart_fallback_description(title: str, content_sample: str, url: str) -> str:
    """The deterministic description generator the shipped v2 pipeline uses.

    Ref: llmsgen/utils/text_utils.py:214-221. The v2 generator's
    ``generate_description_with_fallbacks`` is hardwired to bypass AI and call
    this (llmsgen/generator/llms_generator.py:270 (pyc), "FOR TESTING: Always
    uses fallback description logic") — so this IS the reference's entry
    description behavior, confirmed by the golden
    output/example.com-llms.txt:9.
    """
    domain = extract_domain_from_url(url)
    base_desc = create_initial_content_description(title, content_sample)
    if domain != "unknown_domain" and domain not in base_desc.lower():
        return f"{base_desc} From {domain}."
    return base_desc


def detect_hallucination(description: str, title: str, content_sample: str) -> bool:
    """AI-output relevance check (D6). Ref: llmsgen/utils/text_utils.py:138-167."""
    description_lower = description.lower()
    title_lower = title.lower()
    content_sample_lower = content_sample[:500].lower()
    indicators = [
        "game character", "tasks a-j", "proof by contradiction", "tree of thought",
        "let's say we have", "consider each of these tasks", "shortest path",
        "deploy tool a", "tool b", "tool c", "character can only work",
        "proof by exhaustion", "direct proof and inductive logic",
    ]
    if any(ind in description_lower for ind in indicators):
        return True
    common = {
        "the", "and", "or", "but", "in", "on", "at", "to", "for", "of", "with",
        "by", "a", "an", "is", "are", "was", "were", "this", "that",
    }
    desc_words = set(description_lower.split()) - common
    title_words = set(title_lower.split()) - common
    content_words = set(content_sample_lower.split()) - common
    title_overlap = len(desc_words & title_words) / len(title_words) if title_words else 0
    content_overlap = len(desc_words & content_words) / len(content_words) if content_words else 0
    return title_overlap < 0.1 and content_overlap < 0.05


def remove_page_separators(text: str) -> str:
    """Ref: llmsgen/utils/text_utils.py:8-14."""
    text = re.sub(r"<\|crawl4ai-page-\d+-lllmstxt\|>\n", "", text)
    text = re.sub(r"<!-- .* -->\n", "", text)
    text = re.sub(r"\n---\n\n", "\n\n", text)
    text = re.sub(r"\n{3,}", "\n\n", text)
    return text.strip()


# ---------------------------------------------------------------------------
# D8 utilities (v1 utils/text_utils.py)
# ---------------------------------------------------------------------------

_STOP_WORDS = {
    "the", "and", "or", "but", "in", "on", "at", "to", "for", "of", "with",
    "by", "from", "as", "is", "was", "are", "were", "be", "been", "have",
    "has", "had", "do", "does", "did", "will", "would", "could", "should",
    "may", "might", "can", "this", "that", "these", "those", "a", "an",
}


def truncate_text(text: str, max_length: int, add_ellipsis: bool = True) -> str:
    """Ref: utils/text_utils.py:143-152."""
    if not text or len(text) <= max_length:
        return text
    if add_ellipsis and max_length > 3:
        return text[: max_length - 3] + "..."
    return text[:max_length]


def extract_words(text: str, min_length: int = 3) -> list[str]:
    """Stopword-filtered word extraction. Ref: utils/text_utils.py:155-177."""
    if not text:
        return []
    translator = str.maketrans("", "", string.punctuation)
    words = text.translate(translator).split()
    return [w.lower() for w in words if len(w) >= min_length and w.lower() not in _STOP_WORDS]


def calculate_text_similarity(text1: str, text2: str) -> float:
    """Jaccard over extract_words. Ref: utils/text_utils.py:180-194."""
    if not text1 or not text2:
        return 0.0
    w1, w2 = set(extract_words(text1)), set(extract_words(text2))
    if not w1 or not w2:
        return 0.0
    union = len(w1 | w2)
    return len(w1 & w2) / union if union else 0.0


# ---------------------------------------------------------------------------
# Site-level kernels (llms.txt assembly)
# ---------------------------------------------------------------------------

def site_name_from_title(base_url: str, main_title: str | None) -> str:
    """H1 site name given the (already looked-up) main page title — the
    scale-friendly entrypoint: callers fetch the one main-page title with a
    filtered limit(1) instead of shipping all pages to the driver."""
    if main_title:
        t = clean_title(main_title)
        if t and len(t) > 3:
            return t
    domain = extract_domain_from_url(base_url)
    return domain.replace("_", " ").title() if domain != "unknown_domain" else "Website"


def extract_site_name(base_url: str, pages: list[dict]) -> str:
    """H1 site name. Ref: llmsgen/utils/text_utils.py:224-235."""
    main_title = None
    if pages:
        main = next(
            (p for p in pages if p.get("url") == base_url or p.get("url") == base_url.rstrip("/")),
            None,
        )
        if main:
            main_title = main.get("title")
    return site_name_from_title(base_url, main_title)


def site_summary_from_samples(samples: list[str]) -> str:
    """Blockquote summary from the first pages' content[:500] samples — the
    scale-friendly entrypoint (callers collect only limit(5) × 500 chars)."""
    sample = " ".join((s or "").lower() for s in samples)
    if not sample.strip():
        return "A website with various content and resources."
    if any(k in sample for k in ["api", "documentation", "docs", "developer", "reference"]):
        return "Software documentation, API references, and developer resources."
    if any(k in sample for k in ["pricing", "plans", "subscription", "buy", "purchase", "checkout"]):
        return "Information on products, services, and pricing plans."
    if any(k in sample for k in ["blog", "article", "news", "post", "insights"]):
        return "A collection of articles, blog posts, and news updates."
    if any(k in sample for k in ["tutorial", "guide", "how to", "learn", "course"]):
        return "Educational content, tutorials, and learning materials."
    if any(k in sample for k in ["product", "service", "solution", "tool", "feature"]):
        return "Details about products, services, and their features."
    if any(k in sample for k in ["about us", "company", "mission", "team"]):
        return "Information about the company, its mission, and team."
    return "A comprehensive website offering information and resources on various topics."


def generate_site_summary(pages: list[dict], num_page_samples: int = 5) -> str:
    """Blockquote summary. Ref: llmsgen/utils/text_utils.py:238-262."""
    return site_summary_from_samples(
        [(p.get("content", "") or "")[:500] for p in pages[:num_page_samples]]
    )


#: Category section order (dict insertion order of the reference).
#: Ref: llmsgen/utils/text_utils.py:270-274.
CATEGORY_ORDER = (
    "Key Documentation",
    "API & Technical Reference",
    "Products & Services",
    "Guides & Tutorials",
    "Blog & Resources",
    "General Information",
    "Other Pages",
)


def categorize_entry(url: str, title: str, content_sample: str) -> str:
    """Single-entry twin of ``categorize_llmstxt_entries`` (G1).

    Ref: llmsgen/utils/text_utils.py:265-302 — first matching of 7 sections
    via substring tests on url/title/content[:300] (General Information tests
    url/title only; the Other Pages test applies only when nothing matched).
    """
    url_lower = (url or "").lower()
    title_lower = (title or "").lower()
    content_lower = ((content_sample or "")[:300]).lower()

    def hit(keys, include_content=True):
        hay = (url_lower, title_lower, content_lower) if include_content else (url_lower, title_lower)
        return any(k in h for k in keys for h in hay)

    if hit(["/api", "/reference", "api docs", "developer."]):
        return "API & Technical Reference"
    if hit(["/docs", "/documentation", "readme", "manual"]):
        return "Key Documentation"
    if hit(["/guide", "/tutorial", "how-to", "learn", "getting-started"]):
        return "Guides & Tutorials"
    if hit(["/product", "/service", "/feature", "pricing", "plans", "tool"]):
        return "Products & Services"
    if hit(["/blog", "/news", "/article", "/resource"]):
        return "Blog & Resources"
    if hit(["about", "contact", "company", "team", "mission"], include_content=False):
        return "General Information"
    if any(k in url_lower for k in ["?page=", "/page/", "/compare", "/vs", "tag/", "category/"]):
        return "Other Pages"
    return "General Information"


# ---------------------------------------------------------------------------
# Interleaved spans (BASELINE.json input_hint)
# ---------------------------------------------------------------------------

#: Span kinds whose ``text`` participates in the reconstructed page content.
TEXT_KINDS = ("heading", "text", "code", "list", "link")


def spans_to_content_py(spans) -> str:
    """Python twin of ``udfs.spans_to_content`` (native Column expr).

    The reference carries one markdown ``content`` string per page
    (crawler/web_crawler.py:107-111); our input shape is the interleaved span
    sequence. Reconstruction: text-bearing spans, offset order, joined by
    blank lines. ``spans`` items are dicts or (kind, text, media_ref, offset)
    tuples.
    """
    items = []
    for s in spans or ():
        if isinstance(s, dict):
            items.append((s["kind"], s.get("text") or "", s["offset"]))
        else:
            items.append((s[0], s[1] or "", s[3]))
    items.sort(key=lambda t: t[2])
    return "\n\n".join(text for kind, text, _ in items if kind in TEXT_KINDS and text)


# ---------------------------------------------------------------------------
# Misc shared helpers (engine-side, not reference-derived)
# ---------------------------------------------------------------------------

#: The pinned ASCII whitespace class — identical to Java regex ``\s`` (what
#: the engine's native expressions split on) and to the DuckDB oracle twins'
#: explicit class (operators/textstats.WS_CLASS_JAVA). Python's str.split()
#: uses the wider Unicode set (NBSP, ideographic space, \x1c-\x1f, ...), so
#: it is NOT used anywhere a Python kernel must agree bit-for-bit with a
#: Spark/DuckDB computation.
_WS_ASCII_RE = re.compile("[ \t\n\x0b\f\r]+")


def ws_tokens(content: str) -> list[str]:
    """Non-empty tokens on the pinned ASCII whitespace class."""
    return [t for t in _WS_ASCII_RE.split(content or "") if t]


def final_description(desc: str | None, page_content: str | None) -> str:
    """The render-time description fallback (ref file_utils.py:124-130).

    Python reference of the distributed ``render_desc`` column in
    plans/distill.py: both sides split only a 4096-char prefix on the pinned
    ASCII whitespace class (Java ``\\s`` == ``_WS_ASCII_RE``), so a page
    whose first 30 tokens span >4 KB (minified JS, base64 blobs) truncates
    identically here and in the Spark plan.
    """
    if desc == "N/A (full_text_only mode)" or not desc:
        return (
            " ".join(ws_tokens(page_content[:4096])[:30]) + "..."
            if page_content
            else "No content available."
        )
    return desc


def word_count(content: str) -> int:
    """Token count on the pinned ASCII whitespace class.

    Ref semantics: len(content.split()) — llmsgen/crawler/web_crawler.py:236
    (pyc). Documented deviation: the reference splits on PYTHON Unicode
    whitespace; this engine pins the Java/ASCII class so the Spark-native
    quality gate (functions/udfs.native_word_count), the DuckDB oracle twins
    and this kernel agree bit-for-bit on ALL inputs — a page whose 50-word
    boundary falls on U+00A0 was engine-vs-oracle divergent before. The
    synthetic corpus now plants NBSP/ideographic-space joints so the parity
    suite exercises exactly this class (sources/corpus._make_spans).
    """
    return len(ws_tokens(content))


def stable_hash64(value: str) -> int:
    """Deterministic 64-bit hash (hash-seed independent, unlike ``hash()``).

    Used for host-hash partitioning and Bloom indexes so engine and oracle
    agree across processes.
    """
    return int.from_bytes(hashlib.blake2b(value.encode("utf-8"), digest_size=8).digest(), "big")


def host_bucket(host: str, num_buckets: int) -> int:
    """Frontier partition id for a host (north-rule host-hash partitioning).

    md5-prefix based so the JVM twin (native.host_bucket_native — the hot
    path since r4) computes the identical id with Spark's built-in md5;
    this Python form is the oracle twin and the resume/rebuild reference."""
    return int(hashlib.md5(host.encode("utf-8")).hexdigest()[:15], 16) % num_buckets
