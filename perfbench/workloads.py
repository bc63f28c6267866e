"""The three benchmark workloads: seeded inputs, the timed operation, and
the output check that runs after the clock stops.

Each workload drives only public entry points of ``web2llmstxt_spark``:

- ``bfs_crawl``: ``FrontierCrawler.crawl`` over ``ClosedFormFetcher``
  (in-memory state, Bloom seen-filter, robots rules, per-host caps);
- ``site_llmstxt``: ``plans.pipeline.generate_llmstxt`` over a parquet
  corpus through ``TableFetcher`` (comprehensive mode, durable ``run_dir``);
  traced runs then delete the last committed superstep and call
  ``state.checkpoint.resume_crawl``;
- ``corpus_curate``: ``cli.run_curate`` with every stage on, decontamination
  against a seeded eval set, and packed training shards.

Sizes are fixed per workload so that every seed does the same amount of
work; the seed only changes the contents.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import os
import random
import re
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from web2llmstxt_spark import cli
from web2llmstxt_spark.functions import kernels
from web2llmstxt_spark.operators import curation, dedup, scrub
from web2llmstxt_spark.operators.frontier import ClosedFormFetcher, FrontierCrawler
from web2llmstxt_spark.oracle import crawl_oracle
from web2llmstxt_spark.oracle.crawl_oracle import CrawlConfig
from web2llmstxt_spark.sources import cfcorpus
from web2llmstxt_spark.sources.corpus import (
    Corpus,
    SitePage,
    corpus_from_parquet,
    generate_corpus_fast,
)
from web2llmstxt_spark.plans import pipeline
from web2llmstxt_spark.sinks import writers
from web2llmstxt_spark.state import checkpoint

from tracing import around, crawl_phase, patched, rollup

#: robots rules disallow two of these sections per host: neutral and
#: low-value sections, so the rules bite without starving the crawl
ROBOTS_POOL = ("login", "signup", "search", "widgets", "gadgets", "stuff",
               "misc", "alpha", "beta")

#: a fixed date keeps the sink bytes a pure function of the seed
GENERATED_AT = "2026-01-01T00:00:00+00:00"


@dataclass
class Outcome:
    """One timed operation: wall time, work items, and what the check and
    the trace need afterwards."""

    wall_s: float
    items: int
    extra: dict = field(default_factory=dict)
    #: epoch seconds the iteration started and ended (set by the runner)
    window: tuple[float, float] = (0.0, 0.0)


def _fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def robots_and_caps(rng: random.Random, n_hosts: int, budget: int):
    """Seeded robots rules (two disallowed sections per ``bh<i>.example``
    host) and per-host per-superstep caps: one host gets a tight cap that
    bites from the first superstep on, the others one to two times their
    even share of the budget, so the budget is still reached in the same
    superstep for every seed."""
    hosts = [f"bh{i}.example" for i in range(n_hosts)]
    rules = []
    for h in hosts:
        for seg in rng.sample(ROBOTS_POOL, 2):
            rules.append((h, "*", "disallow", f"/{seg}"))
        rules.append((h, "*", "allow", "/"))
    share = budget // n_hosts
    tight = set(rng.sample(hosts, 1))
    return rules, {h: rng.randint(10, 25) if h in tight else rng.randint(share, 2 * share)
                   for h in hosts}


def _cf_corpus(cf_seed: int, n_hosts: int, pages: int, out_links: int,
               robots_rules: list) -> Corpus:
    """The closed-form corpus as an oracle ``Corpus`` (the same
    ``page_fields`` the fetcher evaluates)."""
    rows = {}
    for hi in range(n_hosts):
        for i in range(pages):
            r = cfcorpus.page_fields(cf_seed, hi, i, pages, out_links)
            rows[r["url"]] = SitePage(
                url=r["url"], host=r["host"], title=r["title"],
                spans=[(s["kind"], s["text"], s["media_ref"], s["offset"])
                       for s in r["spans"]],
                word_count=r["word_count"], out_links=r["out_links"],
                content_type=r["content_type"], fetch_ok=r["fetch_ok"],
            )
    seeds = [(hi, f"https://bh{hi}.example/", 1.0) for hi in range(n_hosts)]
    return Corpus(pages=rows, seeds=seeds, robots_rules=robots_rules,
                  host_policies=[])


def frontier_layers(crawler, jobs: list[dict], cores: int) -> dict:
    """Per-layer numbers of one crawl: the crawler's own superstep metrics,
    phase walls and Bloom counters, plus its ``crawl:<phase>`` jobs from
    the event log."""
    steps = [s for s in crawler.metrics if s["superstep"] >= 1]
    walls = crawler.phase_walls
    attempted = sum(s["attempted"] for s in steps)
    m = {
        "frontier.depth0_s": walls.get("depth0_ms", 0) / 1000.0,
        "frontier.attempt_s": sum(s["attempt_ms"] for s in steps) / 1000.0,
        "frontier.state_s": sum(s["state_ms"] for s in steps) / 1000.0,
        "frontier.finalize_s": walls.get("finalize_ms", 0) / 1000.0,
        "frontier.supersteps": float(len(steps)),
        "frontier.attempted": float(attempted),
        "frontier.kept_ratio": (sum(s["pages_kept"] for s in steps) / attempted
                                if attempted else 0.0),
        "bloom.rebuilds": float(crawler.bloom_rebuilds),
        "bloom.deltas": float(crawler.bloom_deltas),
        "bloom.m_bits": float(crawler.bloom_m_bits),
    }
    by_phase: dict[str, list] = {}
    for j in jobs:
        phase = crawl_phase(j["desc"])
        if phase is not None:
            by_phase.setdefault(phase, []).append(j)
    for phase in ("d0", "attempt", "state", "finalize"):
        r = rollup(by_phase.get(phase, []), cores)
        for k in ("jobs", "util", "shuffle_write_mb", "spill_mb", "gc_s"):
            m[f"frontier.{phase}.{k}"] = r[k]
    # the jobs that run the fetch: depth 0 and every superstep's attempt
    m["fetch.scan_input_mb"] = rollup(
        by_phase.get("d0", []) + by_phase.get("attempt", []), cores)["input_mb"]
    return m


# ------------------------------------------------------------- bfs_crawl

class BfsCrawl:
    """Systematic BFS over the closed-form corpus: the frontier, Bloom,
    link-expansion and native-scorer layers do nearly all the work; distill,
    sinks and durable state do none."""

    name = "bfs_crawl"
    unit = "URLs seen"
    python_workers = True
    N_HOSTS, PAGES, OUT_LINKS, BUDGET = 16, 200, 40, 1200

    def make_inputs(self, seed: int, work: str) -> dict:
        rng = random.Random(seed)
        cf_seed = rng.randrange(1, 2**31)
        rules, caps = robots_and_caps(rng, self.N_HOSTS, self.BUDGET)
        return {"cf_seed": cf_seed, "rules": rules, "caps": caps}

    def _cfg(self, inputs: dict) -> CrawlConfig:
        return CrawlConfig(max_pages=self.BUDGET, safety_limit=self.BUDGET,
                           enforce_robots=True, host_caps=inputs["caps"])

    def prepare_check(self, inputs: dict) -> None:
        corpus = _cf_corpus(inputs["cf_seed"], self.N_HOSTS, self.PAGES,
                            self.OUT_LINKS, inputs["rules"])
        ref = crawl_oracle.crawl(corpus, self._cfg(inputs))
        inputs["oracle"] = (ref.order, ref.seen)

    def run_once(self, spark, inputs: dict, work: str, it: int,
                 tracer=None) -> Outcome:
        t0 = time.perf_counter()
        crawler = FrontierCrawler(
            spark, None, self._cfg(inputs), robots_rules=inputs["rules"],
            run_dir=None, use_bloom=True,
            fetcher=ClosedFormFetcher(inputs["cf_seed"], self.N_HOSTS, self.PAGES,
                                      self.OUT_LINKS),
        )
        pages_df, seen_df = crawler.crawl(
            [(hi, f"https://bh{hi}.example/") for hi in range(self.N_HOSTS)])
        order = [r[0] for r in pages_df.orderBy("rank").select("url").collect()]
        seen = {r[0] for r in seen_df.collect()}
        wall = time.perf_counter() - t0
        return Outcome(wall, len(seen), extra={
            "order": order, "seen": seen, "crawlers": [crawler]})

    def hooks(self, tracer):
        return contextlib.nullcontext()

    def layers(self, out: Outcome, tracer, jobs: list[dict], cores: int) -> dict:
        return frontier_layers(out.extra["crawlers"][0], jobs, cores)

    def check(self, inputs: dict, out: Outcome) -> list[str]:
        ref_order, ref_seen = inputs["oracle"]
        errs = []
        if out.extra["order"] != ref_order:
            errs.append(f"crawl order differs from the oracle "
                        f"({len(out.extra['order'])} vs {len(ref_order)} pages)")
        if out.extra["seen"] != ref_seen:
            errs.append(f"URL-seen set differs from the oracle "
                        f"({len(out.extra['seen'])} vs {len(ref_seen)} URLs)")
        return errs


# ---------------------------------------------------------- site_llmstxt

_URL_LINE = re.compile(r"^\*\*URL:\*\* (.*)$", re.M)
_BULLET = re.compile(r"^- \[.*\]\((.*?)\): ", re.M)
_SECTION = re.compile(r"^## (.*)$", re.M)


class SiteLlmstxt:
    """``generate_llmstxt`` in comprehensive mode with a durable run_dir:
    the table-scan fetch, parquet snapshots, distill and sinks all do work.
    Traced runs then delete the last committed superstep and resume."""

    name = "site_llmstxt"
    unit = "llms.txt entries"
    python_workers = True
    N_HOSTS, PAGES, MAX_PAGES = 8, 150, 36

    def _cfg(self, inputs: dict) -> CrawlConfig:
        # the config generate_llmstxt derives for include_full_text=True
        n = self.MAX_PAGES * 3
        return CrawlConfig(max_pages=n, comprehensive=True, safety_limit=n * 5,
                           enforce_robots=True, host_caps=inputs["caps"])

    def make_inputs(self, seed: int, work: str) -> dict:
        rng = random.Random(seed)
        meta = generate_corpus_fast(rng.randrange(1, 2**31), self.N_HOSTS, self.PAGES,
                                    out_dir=_fresh_dir(os.path.join(work, "corpus")))
        rules, caps = robots_and_caps(rng, self.N_HOSTS, self.MAX_PAGES * 3 * 5)
        return {"meta": meta, "rules": rules, "caps": caps,
                "seeds": list(enumerate(meta["seeds"]))}

    def _site(self, spark, meta: dict):
        return spark.read.parquet(os.path.join(meta["path"], "site_pages.parquet"))

    def _pipeline(self, spark, inputs, out_dir, run_dir, tracer=None):
        meta = inputs["meta"]
        if tracer is not None:
            tracer.tag("crawl:d0")
        return pipeline.generate_llmstxt(
            spark, self._site(spark, meta), meta["seeds"][0], out_dir,
            max_pages=self.MAX_PAGES, include_full_text=True, run_dir=run_dir,
            seeds=inputs["seeds"], robots_rules=inputs["rules"],
            enforce_robots=True, host_caps=inputs["caps"],
            generated_at=GENERATED_AT,
        )

    def _resume(self, spark, inputs, run_dir, tracer):
        last = checkpoint.last_complete_superstep(run_dir)
        shutil.rmtree(os.path.join(run_dir, f"superstep={last}"))
        tracer.tag("crawl:d0")
        pages_df, seen_df = checkpoint.resume_crawl(
            spark, self._site(spark, inputs["meta"]), self._cfg(inputs), run_dir,
            inputs["seeds"], robots_rules=inputs["rules"],
        )
        order = [r[0] for r in pages_df.orderBy("rank").select("url").collect()]
        seen = {r[0] for r in seen_df.collect()}
        return order, seen

    def prepare_check(self, inputs: dict) -> None:
        meta = inputs["meta"]
        corpus = corpus_from_parquet(
            os.path.join(meta["path"], "site_pages.parquet"), meta["seeds"])
        corpus.robots_rules = inputs["rules"]
        ref = crawl_oracle.crawl(corpus, self._cfg(inputs), inputs["seeds"])
        inputs["oracle"] = (ref.order, ref.seen)

    def run_once(self, spark, inputs: dict, work: str, it: int,
                 tracer=None) -> Outcome:
        out_dir = _fresh_dir(os.path.join(work, f"out{it}"))
        run_dir = _fresh_dir(os.path.join(work, f"run{it}"))
        t0 = time.perf_counter()
        res = self._pipeline(spark, inputs, out_dir, run_dir, tracer)
        wall = time.perf_counter() - t0
        llms_txt, llms_full = res["paths"]
        with open(llms_txt, encoding="utf-8") as f:
            txt = f.read()
        with open(llms_full, encoding="utf-8") as f:
            full = f.read()
        entries = len(_BULLET.findall(txt))
        state_mb = _dir_mb(run_dir)
        # the last superstep's seen snapshot is the uninterrupted seen set
        last = checkpoint.last_complete_superstep(run_dir)
        full_seen = set(pq.read_table(
            os.path.join(run_dir, f"superstep={last}", "seen")).column("url").to_pylist())

        extra = {"txt": txt, "full": full, "full_seen": full_seen,
                 "state_mb": state_mb}
        if tracer is not None:
            # the resume costs a fifth of a run, and only the per-layer
            # metrics report it: traced runs only
            extra["resume_at"] = time.time()
            t1 = time.perf_counter()
            extra["resumed"] = self._resume(spark, inputs, run_dir, tracer)
            extra["resume_s"] = time.perf_counter() - t1
            extra["crawlers"] = tracer.crawlers[-2:]
        return Outcome(wall, entries, extra=extra)

    def hooks(self, tracer):
        """Spans and job tags around distill, the sinks and the resume's
        state load; every FrontierCrawler the pipeline and the resume
        construct is recorded for its metrics."""
        def recording(cls):
            class Recorded(cls):
                def __init__(self, *a, **k):
                    super().__init__(*a, **k)
                    tracer.crawlers.append(self)
            return Recorded

        stack = contextlib.ExitStack()
        for obj, attr, wrap in (
            (pipeline, "distill_to_output", around(tracer, "distill", "distill")),
            (writers, "write_output_files", around(tracer, "sinks", "sinks")),
            (checkpoint, "load_state", around(tracer, "checkpoint.load", "crawl:d0")),
            (pipeline, "FrontierCrawler", recording),
            (checkpoint, "FrontierCrawler", recording),
        ):
            stack.enter_context(patched(obj, attr, wrap))
        return stack

    def layers(self, out: Outcome, tracer, jobs: list[dict], cores: int) -> dict:
        x = out.extra
        crawl_jobs = [j for j in jobs if j["submit"] < x["resume_at"]]
        pipeline_crawler, resumed = x["crawlers"]
        m = frontier_layers(pipeline_crawler, crawl_jobs, cores)
        distill_s = tracer.total("distill", out.window)
        sinks_s = tracer.total("sinks", out.window)
        m.update({
            "checkpoint.bytes_written_mb": x["state_mb"],
            "checkpoint.resume_load_s": tracer.total("checkpoint.load", out.window)
            + resumed.phase_walls.get("depth0_ms", 0) / 1000.0,
            "checkpoint.resume_s": x["resume_s"],
            "distill.s": distill_s - sinks_s,
            "distill.jobs": float(sum(1 for j in crawl_jobs if j["desc"] == "distill")),
            "sinks.s": sinks_s,
            "sinks.driver_rows": float(len(_BULLET.findall(x["txt"]))
                                       + len(_URL_LINE.findall(x["full"]))),
            "sinks.bytes_out_mb": sink_bytes_mb(out),
        })
        return m

    def check(self, inputs: dict, out: Outcome) -> list[str]:
        ref_order, ref_seen = inputs["oracle"]
        x, errs = out.extra, []
        full_order = _URL_LINE.findall(x["full"])
        if full_order != ref_order:
            errs.append(f"llms-full.txt page order differs from the oracle "
                        f"({len(full_order)} vs {len(ref_order)} pages)")
        bullets = _BULLET.findall(x["txt"])
        if sorted(bullets) != sorted(ref_order):
            errs.append(f"llms.txt has {len(bullets)} bullets for "
                        f"{len(ref_order)} pages")
        sections = _SECTION.findall(x["txt"])
        pos = [kernels.CATEGORY_ORDER.index(s) if s in kernels.CATEGORY_ORDER else -1
               for s in sections]
        if -1 in pos or pos != sorted(set(pos)):
            errs.append(f"llms.txt sections out of CATEGORY_ORDER: {sections}")
        if x["full_seen"] != ref_seen:
            errs.append("uninterrupted URL-seen set differs from the oracle")
        if "resumed" in x and x["resumed"] != (full_order, x["full_seen"]):
            errs.append("resumed crawl differs from the uninterrupted crawl")
        return errs


def _dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 2**20


def sink_bytes_mb(out: Outcome) -> float:
    """Bytes the sinks wrote, less the one header line that records the
    processing time (the only bytes that are not a function of the seed)."""
    n = len(out.extra["txt"].encode())
    for line in out.extra["full"].split("\n"):
        if not line.startswith("# Processing time:"):
            n += len(line.encode()) + 1
    return (n - 1) / 2**20


# --------------------------------------------------------- corpus_curate

_WS = re.compile(r"[ \t\n\x0b\f\r]+")
_SYLLABLES = [c + v for c in "bcdfghjklmnprstvz" for v in ("a", "e", "i", "o", "u", "ai", "ou")]


def _tokens(text: str) -> list[str]:
    # dedup.tokens_col: split(lower(trim(text)), WS_CLASS_JAVA)
    return _WS.split(text.strip(" ").lower())


def repetition_keep(text: str) -> bool:
    """curation.repetition_stats' keep flag, recomputed in pure Python."""
    toks = _tokens(text)
    n = len(toks)
    grams: dict[str, int] = {}
    for i in range(max(n - 2, 0) + 1):
        g = " ".join(toks[i:i + 2])
        grams[g] = grams.get(g, 0) + 1
    dup_bad = (n - len(set(toks))) * 10 > 3 * n
    bg_bad = max(grams.values()) * 100 > 18 * sum(grams.values())
    return not (dup_bad or bg_bad)


def _ngrams(text: str, n: int = 8) -> set[str]:
    toks = _tokens(text)
    return {" ".join(toks[i:i + n]) for i in range(max(len(toks) - n, 0) + 1)}


class CorpusCurate:
    """``cli.run_curate`` with every stage on: the only path through
    ``operators.curation``, ``operators.scrub`` and ``operators.dedup``;
    the crawl layers do no work here."""

    name = "corpus_curate"
    unit = "input documents"
    #: every curation stage is JVM Column algebra: no Python workers to spawn
    python_workers = False
    N_DOCS, N_EVAL = 300, 40
    STAGES = ("repetition", "decontam", "pii", "substring", "dedup", "pack")

    def _docs(self, rng: random.Random, n_docs: int, n_eval: int):
        vocab = sorted({"".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(2, 3)))
                        for _ in range(6000)})

        def words(k: int) -> list[str]:
            return [rng.choice(vocab) for _ in range(k)]

        evals = [" ".join(words(60)) for _ in range(n_eval)]
        footers = [words(24) for _ in range(6)]
        docs: list[tuple[int, str]] = []
        # fixed proportions, so every seed does the same work per stage
        for i in range(n_docs):
            kind = i % 20
            body = words(rng.randint(50, 150))
            if kind == 0:    # repetitive: fails the repetition gate
                body = words(4) * 15
            elif kind == 1:  # shares a 20-token passage with the eval set
                ev = _tokens(rng.choice(evals))
                at = rng.randrange(len(ev) - 20)
                body[10:10] = ev[at:at + 20]
            elif kind in (2, 3, 4):  # PII: email, phone, IPv4
                body.insert(rng.randrange(len(body)), rng.choice([
                    f"{rng.choice(vocab)}.{rng.choice(vocab)}@example.org",
                    f"+1 555 {rng.randrange(100, 999)} {rng.randrange(1000, 9999)}",
                    f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}",
                ]))
            elif kind in (5, 6):     # shared boilerplate footer
                body += rng.choice(footers)
            elif kind == 7 and docs:  # exact duplicate of an earlier doc
                docs.append((i, docs[rng.randrange(len(docs))][1]))
                continue
            docs.append((i, " ".join(body)))
        return docs, list(enumerate(evals, start=10**6))

    def _write(self, rows, path: str) -> str:
        os.makedirs(path, exist_ok=True)
        pq.write_table(pa.table({"doc_id": [r[0] for r in rows],
                                 "text": [r[1] for r in rows]}),
                       os.path.join(path, "part-0.parquet"))
        return path

    def make_inputs(self, seed: int, work: str) -> dict:
        rng = random.Random(seed)
        docs, evals = self._docs(rng, self.N_DOCS, self.N_EVAL)
        return {
            "docs": docs, "evals": evals,
            "docs_path": self._write(docs, _fresh_dir(os.path.join(work, "docs"))),
            "eval_path": self._write(evals, _fresh_dir(os.path.join(work, "eval"))),
        }

    def _args(self, docs_path, eval_path, out, pack_out):
        return argparse.Namespace(
            in_parquet=docs_path, out=out, text_col="text", id_col="doc_id",
            bench_parquet=eval_path, no_repetition_gate=False,
            no_pii_scrub=False, no_substring_scrub=False, no_exact_dedup=False,
            pack_out=pack_out, pack_budget=2048, bins_per_shard=16,
        )

    def prepare_check(self, inputs: dict) -> None:
        eval_grams = set()
        for _, t in inputs["evals"]:
            eval_grams |= _ngrams(t)
        keep = {i: repetition_keep(t) for i, t in inputs["docs"]}
        inputs["oracle"] = (keep, eval_grams)

    def run_once(self, spark, inputs: dict, work: str, it: int,
                 tracer=None) -> Outcome:
        out = os.path.join(work, f"curated{it}")
        pack = os.path.join(work, f"packed{it}")
        args = self._args(inputs["docs_path"], inputs["eval_path"], out, pack)
        t0 = time.perf_counter()
        if tracer is None:
            stats = cli.run_curate(spark, args)
        else:
            stats = self._traced_curate(spark, args, tracer)
        wall = time.perf_counter() - t0
        kept = pq.read_table(out).select(["doc_id", "text"]).to_pylist()
        return Outcome(wall, stats["in_docs"], extra={"stats": stats, "kept": kept})

    def _traced_curate(self, spark, args, tracer) -> dict:
        """run_curate with each stage operator wrapped: the wrapper opens
        the stage's span and tags the Spark jobs submitted until the next
        stage opens. Spark is lazy, so a stage's jobs are the actions
        run_curate takes while that stage is current, and they recompute
        whatever uncached lineage they read; a stage with no action of its
        own (the PII scrub) is fused into the next stage's jobs. Exact dedup
        has no operator of its own: its span runs from run_curate's first
        use of the scrubbed text after the removed-token sum to packing."""
        def stage(name, after=None):
            def wrap(fn):
                def inner(*a, **k):
                    tracer.stage(f"curate.{name}")
                    out = fn(*a, **k)
                    if after:
                        # run_curate sums the scrub's removed tokens, then
                        # select()s the scrubbed text into exact dedup
                        select = out.select

                        def select_then_stage(*cols):
                            tracer.stage(f"curate.{after}")
                            return select(*cols)

                        out.select = select_then_stage
                    return out
                return inner
            return wrap

        tracer.stage("curate.input")
        try:
            with patched(curation, "repetition_stats", stage("repetition")), \
                    patched(curation, "decontaminate", stage("decontam")), \
                    patched(scrub, "scrub_pii", stage("pii")), \
                    patched(dedup, "remove_duplicated_spans", stage("substring", "dedup")), \
                    patched(curation, "write_training_shards", stage("pack")):
                return cli.run_curate(spark, args)
        finally:
            tracer.stage(None)
            tracer.tag(None)

    def hooks(self, tracer):
        return contextlib.nullcontext()

    def layers(self, out: Outcome, tracer, jobs: list[dict], cores: int) -> dict:
        st = out.extra["stats"]
        m = {f"curate.{k}_s": tracer.total(f"curate.{k}", out.window)
             for k in ("input",) + self.STAGES}
        for k in ("in_docs", "dropped_repetition", "dropped_contaminated",
                  "tokens_removed", "dedup_removed", "kept_docs"):
            m[f"curate.{k}"] = float(st[k])
        m["curate.pack_bins"] = float(st["pack"]["bins"])
        return m

    def check(self, inputs: dict, out: Outcome) -> list[str]:
        keep, eval_grams = inputs["oracle"]
        text_of = dict(inputs["docs"])
        stats, kept, errs = out.extra["stats"], out.extra["kept"], []
        hashes = [hashlib.md5(r["text"].encode()).hexdigest() for r in kept]
        if len(set(hashes)) != len(hashes):
            errs.append("two kept documents share md5(text)")
        ids = [r["doc_id"] for r in kept]
        if any(i not in text_of for i in ids):
            errs.append("a kept doc_id is not an input document")
            return errs
        if not all(keep[i] for i in ids):
            errs.append("a kept document fails the repetition kernel")
        n_fail = sum(1 for v in keep.values() if not v)
        if stats.get("dropped_repetition") != n_fail:
            errs.append(f"repetition gate dropped {stats.get('dropped_repetition')}, "
                        f"kernel says {n_fail}")
        if any(_ngrams(text_of[i]) & eval_grams for i in ids):
            errs.append("a kept document shares an 8-gram with the eval set")
        if stats.get("kept_docs") != len(kept) or stats["pack"]["docs"] != len(kept):
            errs.append("kept/packed document counts disagree with the output")
        return errs


WORKLOADS = {w.name: w for w in (BfsCrawl(), SiteLlmstxt(), CorpusCurate())}
