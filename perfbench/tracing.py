"""Tracing for the benchmark's traced runs (``--trace 1``).

Three sources, all read from the benchmark's own code:

- driver-side spans: name, start, end and parent span, kept in memory and
  written out once at the end of the run;
- Spark job descriptions: the crawler tags its own jobs ``crawl:<phase>``;
  the benchmark tags distill, sinks and each curation stage by wrapping the
  library functions for the duration of one call;
- the Spark event log (``SPARK_GRAFT_EXTRA_CONF`` turns it on), rolled up
  per job description into jobs, task busy time, shuffle, spill and GC.

Nothing here is active in the timed (untraced) runs.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """In-memory spans plus the job-description tag of the driver thread."""

    def __init__(self, spark, trace_id: str):
        self.spark = spark
        self.trace_id = trace_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._stage: dict | None = None
        self.crawlers: list = []

    def tag(self, desc: str | None) -> None:
        self.spark.sparkContext.setJobDescription(desc)

    @contextlib.contextmanager
    def span(self, name: str, tag: str | None = None):
        """A nested span; ``tag`` also labels the Spark jobs it submits."""
        rec = self._open(name)
        prev = self.spark.sparkContext.getLocalProperty("spark.job.description")
        if tag is not None:
            self.tag(tag)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            if tag is not None:
                self.tag(prev)

    def stage(self, name: str | None) -> None:
        """Sequential spans: close the open stage span, open ``name``."""
        if self._stage is not None:
            self._stage["end"] = time.time()
            self._stage = None
        if name is not None:
            self._stage = self._open(name)
            self.tag(name.replace(".", ":", 1))

    def _open(self, name: str) -> dict:
        rec = {
            "trace": self.trace_id,
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        return rec

    def total(self, name: str, window: tuple[float, float]) -> float:
        """Summed duration of the closed spans called ``name`` that started
        inside ``window`` (epoch seconds)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None
            and window[0] <= s["start"] < window[1]
        )

    def jvm_gc_s(self) -> float:
        """Cumulative collection time of every JVM garbage collector."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


@contextlib.contextmanager
def patched(obj, attr: str, wrapper):
    """Replace ``obj.attr`` by ``wrapper(original)`` for the block."""
    orig = getattr(obj, attr)
    setattr(obj, attr, wrapper(orig))
    try:
        yield
    finally:
        setattr(obj, attr, orig)


def around(tracer: Tracer, name: str, tag: str):
    """Wrapper factory: run the wrapped call inside a tagged span."""

    def wrap(fn):
        def inner(*args, **kwargs):
            with tracer.span(name, tag):
                return fn(*args, **kwargs)

        return inner

    return wrap


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Per-job records from the event log(s) in ``log_dir``: description,
    submit/complete times (epoch s) and task sums over the job's stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    tasks: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    # Spark writes a rolling log: a directory of numbered event files
    paths = sorted(p for p in glob.glob(os.path.join(log_dir, "**"), recursive=True)
                   if os.path.isfile(p))
    for path in paths:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a truncated last line
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "desc": props.get("spark.job.description") or "",
                        "submit": ev["Submission Time"] / 1000.0,
                        "complete": None,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["complete"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = tasks[ev["Stage ID"]]
                    a["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    a["in_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / 2**20
                    sw = m.get("Shuffle Write Metrics") or {}
                    a["sw_mb"] += sw.get("Shuffle Bytes Written", 0) / 2**20
                    a["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / 2**20
    for sid, sums in tasks.items():
        job = jobs.get(stage_job.get(sid))
        if job is None:
            continue
        for k, v in sums.items():
            job[k] = job.get(k, 0.0) + v
    return [j for j in jobs.values() if j["complete"] is not None]


def rollup(jobs: list[dict], cores: int) -> dict:
    """Sum job records: count, wall, task busy time, utilization, MB, GC."""
    wall = sum(j["complete"] - j["submit"] for j in jobs)
    busy = sum(j.get("run_s", 0.0) for j in jobs)
    return {
        "jobs": float(len(jobs)),
        "wall_s": wall,
        "util": busy / (wall * cores) if wall > 0 else 0.0,
        "shuffle_write_mb": sum(j.get("sw_mb", 0.0) for j in jobs),
        "spill_mb": sum(j.get("spill_mb", 0.0) for j in jobs),
        "gc_s": sum(j.get("gc_s", 0.0) for j in jobs),
        "input_mb": sum(j.get("in_mb", 0.0) for j in jobs),
    }


def crawl_phase(desc: str) -> str | None:
    """``crawl:<tag>`` job description -> phase group
    (d0 / attempt / state / finalize), else None."""
    if not desc.startswith("crawl:"):
        return None
    tag = desc[len("crawl:"):]
    if tag.startswith("d0"):
        return "d0"
    if tag.endswith("-attempt"):
        return "attempt"
    if tag.endswith("-state"):
        return "state"
    return "finalize" if tag == "finalize" else None
