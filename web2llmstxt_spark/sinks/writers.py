"""Output sinks: llms.txt / llms-full.txt / JSON / YAML, v2 and v1 text.

Reference: ``llmsgen/utils/file_utils.py:94-222`` (write_text_output /
write_json_output / write_yaml_output / write_output_files) and the v1
text writers (generator/llms_generator.py:789-821).

The reference renders every file from in-memory lists. Here each format has
one path: a streaming writer fed by ``toLocalIterator``, so the driver holds
one Arrow partition at a time and never the entry list or page content.

- ``write_output_files`` is the only dispatch. It takes the distributed
  entries and pages tables and builds both entry orders itself: canonical
  category position then index for the v2 llms.txt, index alone for json,
  yaml and v1.
- Entries carry no page content: each one's description fallback is the
  ``render_desc`` column computed distributed in plans/distill.py
  (``kernels.final_description`` is its Python reference).
- llms-full.txt and the json/yaml full-text sections stream rank-ordered
  pages.
"""

from __future__ import annotations

import itertools
import json
import os
from typing import Iterable, Iterator

from pyspark.sql import functions as F

from ..functions import kernels

try:  # pyyaml is optional in the sandbox
    import yaml

    _HAS_YAML = True
except ImportError:  # pragma: no cover
    _HAS_YAML = False


def write_llms_txt_stream(
    path: str,
    site_name: str,
    site_summary: str,
    entries_iter: Iterable,
    metadata: dict,
) -> None:
    """Stream the v2 llms.txt (ref file_utils.py:107-136) from entries
    ordered by (canonical category position, index), without ever holding
    the O(pages) entry list on the driver: driver memory = one Arrow
    partition of bounded, content-free rows.

    Category sections emerge from order transitions in the stream;
    ``write_output_files`` builds that order (``_category_ordered``).
    """
    with open(path, "w", encoding="utf-8") as f:
        w = _JoinWriter(f)
        w.emit(f"# {site_name}\n")
        w.emit(f"> {site_summary}\n")
        total = metadata.get("total_pages_crawled", 0)
        generated_date = metadata.get("generated_at", "").split("T")[0]
        w.emit(f"Generated from {total} pages on {generated_date} using automated crawling.\n")
        cur_cat = None
        for e in entries_iter:
            cat = e["category"]
            line = f"- [{e.get('title', 'Untitled')}]({e.get('url', '#')}): {e['render_desc']}"
            if cat != cur_cat:
                if cur_cat is not None:
                    f.write("\n")  # close the previous block's trailing newline
                w.emit(f"## {cat}\n")
                w.emit(line)  # first line of the new block element
                cur_cat = cat
            else:
                f.write("\n" + line)  # continue the block element in place
        if cur_cat is not None:
            f.write("\n")  # final block's trailing newline


class _JoinWriter:
    """Writes elements joined by newline ("\\n".join semantics, streamed)."""

    def __init__(self, f):
        self.f = f
        self.first = True

    def emit(self, element: str) -> None:
        if not self.first:
            self.f.write("\n")
        self.f.write(element)
        self.first = False


def write_llms_full_stream(
    path: str,
    base_url: str,
    pages_iter: Iterable,
    total_pages: int,
    metadata: dict,
) -> None:
    """Stream llms-full.txt (ref file_utils.py:139-160) from a rank-ordered
    iterator of rows/dicts with (title, url, content); driver memory = one
    Arrow partition."""
    max_full = metadata.get("max_full_text_pages")
    n_write = total_pages if max_full is None else min(total_pages, max_full)
    with open(path, "w", encoding="utf-8") as f:
        w = _JoinWriter(f)
        w.emit(f"# {base_url} llms-full.txt")
        w.emit(
            f"# Generated on {metadata.get('generated_at', '')} using {metadata.get('model_used', 'N/A')}"
        )
        w.emit(f"# Total pages crawled: {metadata.get('total_pages_crawled', total_pages)}")
        w.emit(f"# Processing time: {metadata.get('processing_time_seconds', 'N/A')}s")
        if max_full is not None and total_pages > max_full:
            w.emit(f"# Displaying {n_write} of {total_pages} crawled pages due to limit.")
        w.emit("")
        for i, page in enumerate(pages_iter, 1):
            if i > n_write:
                break
            d = page if isinstance(page, dict) else page.asDict()
            w.emit(f"## Page {i}: {d.get('title', 'Untitled')}")
            w.emit(f"**URL:** {d.get('url', '#')}\n")
            w.emit(d.get("content", "No content available."))
            w.emit("\n---\n")


def write_llms_full_v1_stream(
    path: str,
    domain: str,
    pages_iter: Iterable,
    total_pages: int,
    generated_on: str,
) -> None:
    """v1 llms-full.txt (generator/llms_generator.py:804-821), streamed like
    the v2 sink: one Arrow partition of driver memory, never the corpus."""
    sep = "=" * 80
    with open(path, "w", encoding="utf-8") as f:
        f.write(f"# {domain.upper()} - Full Content\n")
        f.write(f"# Generated on {generated_on}\n")
        f.write(f"# Total pages: {total_pages}\n\n")
        f.write(sep + "\n\n")
        for i, page in enumerate(pages_iter, 1):
            d = page if isinstance(page, dict) else page.asDict()
            f.write(f"--- Page {i} ---\n")
            f.write(f"Title: {d.get('title', 'Untitled')}\n")
            f.write(f"URL: {d.get('url', '')}\n")
            f.write(f"Content:\n{d.get('content', '')}\n\n")
            f.write(sep + "\n\n")


def _entry_public(e: dict) -> dict:
    return {k: v for k, v in e.items() if k != "render_desc"}


def _json_dump_list_stream(f, items: Iterable) -> None:
    """Stream a JSON array element-by-element, byte-identical to
    ``json.dump(list(items), f, indent=2, ensure_ascii=False)`` — each
    element is dumped with indent=2 and re-indented two spaces, exactly the
    nesting json.dump applies inside a top-level list. Driver memory = one
    element at a time."""
    first = True
    for it in items:
        if first:
            f.write("[")
        s = json.dumps(it, indent=2, ensure_ascii=False)
        s = "\n".join("  " + ln for ln in s.splitlines())
        f.write(("\n" if first else ",\n") + s)
        first = False
    f.write("\n]" if not first else "[]")


def write_json_stream(
    path: str,
    entries: Iterable,
    metadata: dict,
    full_pages_iter: Iterator | None,
) -> None:
    """JSON sink; ``llms_entries`` streams entry-by-entry (``entries`` may be
    any iterable — a toLocalIterator-backed generator keeps the whole sink
    O(1) on the driver) and ``full_content_pages`` (when requested) streams
    row by row so page content never accumulates on the driver."""
    with open(path, "w", encoding="utf-8") as f:
        f.write('{\n"metadata": ')
        json.dump(metadata, f, indent=2, ensure_ascii=False)
        f.write(',\n"llms_entries": ')
        _json_dump_list_stream(f, (_entry_public(e) for e in entries))
        if full_pages_iter is not None:
            f.write(',\n"full_content_pages": [')
            first = True
            for row in full_pages_iter:
                d = row if isinstance(row, dict) else row.asDict()
                f.write(("" if first else ",") + "\n")
                json.dump(d, f, ensure_ascii=False)
                first = False
            f.write("\n]")
        f.write("\n}")


def _yaml_kwargs():
    return dict(default_flow_style=False, allow_unicode=True, indent=2)


def _yaml_dump_key_list_stream(f, key: str, items: Iterable) -> None:
    """Stream ``key: [items...]`` element-by-element, byte-identical to the
    key's section in ``yaml.dump({key: list(items), ...})``: pyyaml renders a
    nested block list at the parent indent, so concatenating per-element
    single-item-list dumps reproduces the full-list bytes exactly."""
    it = iter(items)
    try:
        first = next(it)
    except StopIteration:
        f.write(yaml.dump({key: []}, **_yaml_kwargs()))
        return
    f.write(f"{key}:\n")
    f.write(yaml.dump([first], **_yaml_kwargs()))
    for item in it:
        f.write(yaml.dump([item], **_yaml_kwargs()))


def write_yaml_stream(
    path: str,
    metadata: dict,
    entries_iter: Iterable,
    full_pages_iter: Iterator | None,
) -> None:
    """YAML sink, streamed: byte-identical to
    ``yaml.dump({'metadata': ..., 'llms_entries': [...],
    'full_content_pages': [...]}, default_flow_style=False,
    allow_unicode=True, indent=2)`` — pyyaml sorts top-level keys
    (sort_keys default), so sections emit in sorted-key order — without ever
    holding the entry list or page content list on the driver."""
    sections: dict[str, object] = {"metadata": metadata, "llms_entries": entries_iter}
    if full_pages_iter is not None:
        sections["full_content_pages"] = full_pages_iter
    with open(path, "w", encoding="utf-8") as f:
        for key in sorted(sections):
            v = sections[key]
            if isinstance(v, dict):
                f.write(yaml.dump({key: v}, **_yaml_kwargs()))
            else:
                _yaml_dump_key_list_stream(f, key, v)


def write_llms_txt_v1_stream(
    path: str,
    domain: str,
    entries_iter: Iterable,
    total_entries: int,
    generated_on: str,
) -> None:
    """v1 llms.txt (generator/llms_generator.py:789-801) streamed per entry,
    byte-exact to the reference's ``content +=`` chain. The header's entry
    count is passed in (known from the crawl's page count) so the stream
    needs no pre-pass."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(f"# {domain.upper()} - LLMs.txt\n")
        f.write(f"# Generated on {generated_on}\n")
        f.write(f"# Total pages: {total_entries}\n\n")
        for e in entries_iter:
            f.write(f"## {e.get('title', 'Untitled')}\n")
            f.write(f"URL: {e.get('url', '')}\n")
            f.write(f"Description: {e['render_desc']}\n\n")


def _rows(df) -> Iterator[dict]:
    return (r.asDict() for r in df.toLocalIterator())


def _index_ordered(entries_df) -> Iterator[dict]:
    """The json/yaml/v1 entry order: crawl index (== rank) alone."""
    return _rows(entries_df.orderBy("index"))


def _category_ordered(entries_df) -> Iterator[dict]:
    """The v2 llms.txt entry order: categories outside kernels.CATEGORY_ORDER
    are dropped (the reference renders only the ordered sections), the rest
    sorted by canonical position then crawl index. The sort is distributed
    (a range shuffle over content-free rows)."""
    cat_ord = F.array_position(
        F.array(*[F.lit(c) for c in kernels.CATEGORY_ORDER]), F.col("category")
    )
    return _rows(
        entries_df.filter(F.col("category").isin(*kernels.CATEGORY_ORDER))
        .orderBy(cat_ord, "index")
    )


def write_output_files(
    output_dir: str,
    base_url: str,
    entries_df,
    pages_df,
    metadata: dict,
    site_name: str,
    site_summary: str,
    style: str = "v2",
) -> list[str]:
    """Dispatch on format (ref llmsgen/utils/file_utils.py:204-222); returns
    written paths, llms.txt before llms-full.txt.

    ``entries_df``: the categorized entries (plans/distill.py), carrying
    ``render_desc``; ``pages_df``: the rank-ordered crawl output. Both are
    only streamed, never collected. The format and the full-text switches are
    the run's own record: ``metadata['export_format']``,
    ``['include_full_text']`` and ``['full_text_only_mode']``, so the files
    always agree with the metadata written beside them. ``style``: 'v2' (gold
    spec, default) or 'v1' (`# DOMAIN - LLMs.txt` / `--- Page i ---` blocks,
    generator/llms_generator.py:789-821)."""
    os.makedirs(output_dir, exist_ok=True)
    domain = kernels.extract_domain_from_url(base_url)
    written = []
    fmt = metadata["export_format"]
    include_full_text = metadata["include_full_text"]
    full_text_only = metadata["full_text_only_mode"]
    total_pages = metadata["total_pages_crawled"]

    def full_pages_iter():
        return (
            pages_df.orderBy("rank")
            .select("title", "url", "content")
            .toLocalIterator()
        )

    if fmt == "json":
        path = os.path.join(output_dir, f"{domain}-llms.json")
        write_json_stream(
            path, _index_ordered(entries_df), metadata,
            full_pages_iter() if include_full_text else None,
        )
        written.append(path)
    elif fmt == "yaml":
        if not _HAS_YAML:
            raise NotImplementedError("pyyaml not available in this environment")
        full_iter = None
        if include_full_text:
            # the page iterator is SLICED, not materialized: islice consumes
            # only max_full_text_pages rows from the toLocalIterator stream,
            # so the driver never holds the full crawl's content at once
            max_full = metadata.get("max_full_text_pages") or None
            full_iter = (
                r.asDict() for r in itertools.islice(full_pages_iter(), max_full)
            )
        path = os.path.join(output_dir, f"{domain}-llms.yaml")
        write_yaml_stream(
            path, metadata, (_entry_public(e) for e in _index_ordered(entries_df)), full_iter
        )
        written.append(path)
    elif style == "v1":
        generated_on = metadata.get("generated_at", "").replace("T", " ").split(".")[0]
        total_entries = metadata["total_entries_processed"]
        if not full_text_only and total_entries:
            path = os.path.join(output_dir, f"{domain}-llms.txt")
            write_llms_txt_v1_stream(
                path, domain, _index_ordered(entries_df), total_entries, generated_on
            )
            written.append(path)
        if include_full_text or full_text_only:
            path = os.path.join(output_dir, f"{domain}-llms-full.txt")
            write_llms_full_v1_stream(path, domain, full_pages_iter(), total_pages, generated_on)
            written.append(path)
    else:
        if not full_text_only:
            path = os.path.join(output_dir, f"{domain}-llms.txt")
            write_llms_txt_stream(
                path, site_name, site_summary, _category_ordered(entries_df), metadata
            )
            written.append(path)
        if include_full_text or full_text_only:
            path = os.path.join(output_dir, f"{domain}-llms-full.txt")
            write_llms_full_stream(path, base_url, full_pages_iter(), total_pages, metadata)
            written.append(path)
    return written
