"""Structured Streaming operators (engine extension).

The reference has NO real streaming (README's "Real-time streaming crawling"
is an unchecked TODO, reference README.md:404); these are the north-rule
extensions a continuously-fed frontier needs:

- ``windowed_crawl_metrics``: tumbling-window per-type counters with a
  watermark for late events (the A4 counters as a live stream),
- ``politeness_gate``: per-host token-bucket admission over an unbounded URL
  stream via ``applyInPandasWithState`` (T3 as a stateful streaming op),
- ``discovered_url_stream``: file-source stream of discovered-URL batches ->
  normalized, deduped candidates (the streaming half of J1/J2; the exact
  seen-check stays in the batch superstep),
- ``seen_gate``: checkpointed per-host URL-seen state — first-ever occurrence
  across micro-batches AND query restarts (J1 as a stateful streaming op),
- ``continuous_crawl``: the full composition — a self-feeding availableNow
  loop (links dir -> seen_gate -> fetch -> pages + new links) where each
  drain is one BFS superstep, resumable from the streaming checkpoint.

All testable hermetically with file sources + ``Trigger.AvailableNow`` +
memory sinks (tests/test_streaming.py).
"""

from __future__ import annotations

import time

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from ..functions import udfs
from ..session import local_frame

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ]
)


def windowed_crawl_metrics(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window per-type counts with late-data watermark.

    ``events`` is a streaming DataFrame with (ts timestamp, event_type
    string, value double).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


#: output of politeness_gate
GATE_SCHEMA = StructType(
    [
        StructField("host", StringType()),
        StructField("url", StringType()),
        StructField("admitted", IntegerType()),   # 1 admitted / 0 deferred
        StructField("tokens_left", IntegerType()),
    ]
)

GATE_STATE_SCHEMA = StructType([StructField("tokens", IntegerType())])


def _gate_fn(capacity: int):
    """Token-bucket admission: each host starts a micro-batch window with
    ``capacity`` tokens; URLs beyond the budget are deferred (emitted with
    admitted=0 so the caller can re-enqueue). State persists tokens across
    micro-batches (refill is the caller's policy — here: keyed timeout resets).
    """

    def gate(key, pdfs, state: GroupState):
        host = key[0]
        if state.hasTimedOut:
            state.remove()
            return
        tokens = state.get[0] if state.exists else capacity
        out = []
        for pdf in pdfs:
            for url in pdf["url"]:
                if tokens > 0:
                    tokens -= 1
                    out.append((host, url, 1, tokens))
                else:
                    out.append((host, url, 0, 0))
        state.update((tokens,))
        state.setTimeoutDuration(60_000)
        yield pd.DataFrame(out, columns=["host", "url", "admitted", "tokens_left"])

    return gate


def politeness_gate(urls: DataFrame, capacity_per_host: int) -> DataFrame:
    """Per-host token-bucket over a streaming (host, url) DataFrame.

    Stateful streaming twin of the batch per-host cap (CrawlConfig.host_caps,
    frontier.py window path; ref T3 pacing, crawler/web_crawler.py:1174-1176).
    """
    return urls.groupBy("host").applyInPandasWithState(
        _gate_fn(capacity_per_host),
        outputStructType=GATE_SCHEMA,
        stateStructType=GATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


#: output of seen_gate: first-ever occurrence of each (host, url)
SEEN_GATE_SCHEMA = StructType(
    [StructField("host", StringType()), StructField("url", StringType())]
)

SEEN_STATE_SCHEMA = StructType([StructField("seen", ArrayType(StringType()))])


def _seen_fn():
    def gate(key, pdfs, state: GroupState):
        host = key[0]
        seen = set(state.get[0]) if state.exists else set()
        out = []
        for pdf in pdfs:
            for url in pdf["url"]:
                if url not in seen:
                    seen.add(url)
                    out.append((host, url))
        state.update((sorted(seen),))  # sorted -> deterministic state bytes
        yield pd.DataFrame(out, columns=["host", "url"])

    return gate


def seen_gate(urls: DataFrame) -> DataFrame:
    """Streaming URL-seen filter: emit each (host, url) the FIRST time it is
    ever observed — across micro-batches AND across query restarts (the
    state lives in the streaming checkpoint). The streaming half of J1
    (ref `llmsgen/crawler/web_crawler.py:215,233 (pyc)`): the batch engine's
    per-superstep anti-join becomes per-key state keyed by host, the same
    key the frontier partitions on.

    Scale note: the state payload here is the exact per-host URL list —
    right for correctness and for hosts' typical 10^2..10^5 URLs; at the
    10^10-frontier design point the payload swaps to the serialized Bloom
    bitmap (operators/bloom.py) as a pre-filter with the exact anti-join
    kept in the batch layer, and per-key TTL eviction
    (GroupStateTimeout.ProcessingTimeTimeout) bounds dead hosts.
    """
    return urls.groupBy("host").applyInPandasWithState(
        _seen_fn(),
        outputStructType=SEEN_GATE_SCHEMA,
        stateStructType=SEEN_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def discovered_url_stream(
    spark: SparkSession, input_dir: str, schema: str = "url string, seed_id int, base_url string, base_domain string"
) -> DataFrame:
    """File-source stream of raw discovered links -> normalized candidates.

    Normalization (P1) + in-stream dedup (dropDuplicates on the normalized
    URL with watermark-free global state is unbounded; production bounds it
    by the batch superstep's exact anti-join, so here we dedup per
    micro-batch only).
    """
    raw = spark.readStream.schema(schema).parquet(input_dir)
    return raw.withColumn("url", udfs.normalize_url_udf(F.col("url"))).dropDuplicates(
        ["url"]
    )


#: a drain still running after this many seconds raises
DRAIN_TIMEOUT_S = 300


def _caught_up(progress) -> bool:
    """True when the batch ``progress`` reports found no new input: under
    Trigger.AvailableNow every input file present at start is then
    committed to the sink, and any watermark or timeout pass it owed has
    run (that no-data batch was it)."""
    return progress is not None and all(
        s["startOffset"] == s["endOffset"] for s in progress["sources"]
    )


def run_available_now(
    stream_df: DataFrame, query_name: str, checkpoint_dir: str,
    output_mode: str = "append",
):
    """Drain a stream with Trigger.AvailableNow into a memory sink; read
    results via ``spark.table(query_name)``. Aggregations should pass
    output_mode='complete' (append would hold back non-finalized windows).

    The drain ends once all available input is committed: the query ends
    by itself, or a batch finds no new input. The second case is not rare:
    a ProcessingTimeTimeout state (``politeness_gate``) keeps scheduling
    no-data batches, so such an AvailableNow query never ends on its own.
    A failed drain re-raises the query's error, and one still running
    after DRAIN_TIMEOUT_S raises TimeoutError; the query is stopped on
    every exit."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.monotonic() + DRAIN_TIMEOUT_S
        # awaitTermination raises if the query failed
        while not q.awaitTermination(0.1) and not _caught_up(q.lastProgress):
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"stream {query_name!r} not drained after {DRAIN_TIMEOUT_S} s"
                )
    finally:
        q.stop()
    return q


# ---------------------------------------------------------------------------
# Continuous crawl: the full streaming composition
# ---------------------------------------------------------------------------

def continuous_crawl(
    spark: SparkSession,
    site_pages: DataFrame,
    work_dir: str,
    seeds: list[str],
    base_url: str,
    base_domain: str,
    max_rounds: int = 16,
    capacity_per_host: int | None = None,
) -> DataFrame:
    """Self-feeding streaming crawl: the T1 superstep loop re-expressed as a
    checkpointed Structured Streaming drain (engine extension — the
    reference's "real-time streaming crawling" is an unchecked README TODO).

    Each round is one ``Trigger.AvailableNow`` run of ONE query:

      links dir --readStream--> seen_gate (checkpointed URL-seen state)
                --foreachBatch--> [+ deferred frontier] -> politeness split
                                  -> fetch (corpus join) -> pages sink
                                  -> expand_links -> NEW files in links dir
                                  -> over-capacity URLs -> pending dir

    The file source snapshots its input at query start, so links written
    during round k become round k+1's input — a BFS superstep per drain,
    with the frontier itself stored as files (the streaming analogue of the
    batch engine's checkpointed frontier state). The loop stops when a
    round has nothing to fetch and nothing deferred, or after
    ``max_rounds``.

    ``capacity_per_host`` is the T3 politeness budget: at most that many
    fetches per host per round (deterministic per-host url order). The
    over-capacity remainder is written to a ``pending/round-k`` dir INSIDE
    the micro-batch and consumed by the next round — a checkpointed
    frontier remainder, so politeness deferral survives a driver kill
    exactly like the seen state does. Rounds that receive no new gate
    output still drain pending (the driver invokes the batch step directly
    with an empty candidate set).

    Resumability is the point: the URL-seen state lives in the streaming
    checkpoint and commits atomically AFTER foreachBatch succeeds, so a
    crash mid-fetch replays the whole batch (at-least-once into an
    append-only pages dir that downstream dedups on url — the batch
    engine's desc-cache read-side dedup contract, state/desc_cache.py,
    applies here too); a URL can never be marked seen without its fetch
    round having completed.

    Returns the crawled-pages DataFrame (url, title, content, wc).

    Scale notes: ONE stateful operator per query (chaining a second
    applyInPandasWithState in the same query is not supported); per-host
    state partitions on the same host key the batch frontier buckets on
    AND the same key the politeness row_number window partitions on, so
    the split reuses the gate's grouping; the corpus join inside
    foreachBatch is the batch TableFetcher — AQE plans each micro-batch
    independently.
    """
    import glob as _glob
    import os

    from pyspark.sql import Window

    from ..functions.linkexpand import expand_links
    from ..operators.frontier import TableFetcher

    links_dir = os.path.join(work_dir, "links")
    pages_dir = os.path.join(work_dir, "pages")
    pending_dir = os.path.join(work_dir, "pending")
    ck_dir = os.path.join(work_dir, "ck")
    os.makedirs(links_dir, exist_ok=True)

    host_of = F.expr("parse_url(url, 'HOST')")
    seed_df = local_frame(spark, [(u,) for u in seeds], "url string").select(
        host_of.alias("host"), udfs.normalize_url_udf(F.col("url")).alias("url")
    )
    seed_df.coalesce(1).write.mode("append").parquet(os.path.join(links_dir, "seed"))

    fetcher = TableFetcher(site_pages)

    def latest_pending() -> DataFrame | None:
        rounds = sorted(
            int(os.path.basename(d).split("-")[1])
            for d in _glob.glob(os.path.join(pending_dir, "round-*"))
        )
        if not rounds:
            return None
        return spark.read.parquet(
            os.path.join(pending_dir, f"round-{rounds[-1]}")
        )

    # progress detection must cost O(frontier ring), not O(pages crawled so
    # far): count the cached ring inside foreachBatch (which runs on the
    # driver) instead of re-counting the whole pages dir every round.
    ring = {"todo": 0, "round": 0}

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        todo = batch.select("host", "url")
        pending = latest_pending()
        if pending is not None:
            todo = todo.unionByName(pending)
        k = ring["round"]
        n_defer = 0
        deferred = None
        if capacity_per_host is not None:
            w = Window.partitionBy("host").orderBy("url")
            ranked = todo.withColumn("__r", F.row_number().over(w)).persist()
            now = ranked.filter(F.col("__r") <= capacity_per_host).drop("__r")
            deferred = ranked.filter(F.col("__r") > capacity_per_host).drop("__r")
            n_defer = deferred.count()
        else:
            ranked = None
            now = todo
        fetched = fetcher.fetch(now.select("url")).persist()
        try:
            n_fetched = fetched.count()  # ONE count job per micro-batch
            ring["todo"] = n_fetched + n_defer
            if n_fetched > 0:
                ok = fetched.filter(F.col("success"))
                ok.select("url", "title", "content", "wc").write.mode(
                    "append"
                ).parquet(pages_dir)
                links = (
                    expand_links(
                        ok, "out_links", F.lit(base_url), F.lit(base_domain), []
                    )
                    .select("url")
                    .distinct()
                    .select(host_of.alias("host"), "url")
                )
                links.write.mode("append").parquet(
                    os.path.join(links_dir, f"round-{k}")
                )
            if deferred is not None:
                # the deferred-frontier write MUST be the batch's LAST write:
                # a crash before it replays the batch against the PREVIOUS
                # pending round (the current `now` set re-fetches — at-least-
                # once); written any earlier, the replay would read this
                # round's pending, which excludes the never-fetched `now`
                # set — lost URLs. Overwrite => idempotent under replay.
                deferred.write.mode("overwrite").parquet(
                    os.path.join(pending_dir, f"round-{k}")
                )
        finally:
            fetched.unpersist()
            if ranked is not None:
                ranked.unpersist()

    empty_cand = local_frame(spark, [], "host string, url string")
    for k in range(max_rounds):
        ring["todo"] = 0  # stays 0 when the drain has no new files at all
        ring["round"] = k
        called = {"yes": False}

        def batch_entry(b: DataFrame, bid: int) -> None:
            called["yes"] = True
            process_batch(b, bid)

        stream = spark.readStream.schema("host string, url string").option(
            "recursiveFileLookup", "true"
        ).parquet(links_dir)
        q = (
            seen_gate(stream)
            .writeStream.foreachBatch(batch_entry)
            .option("checkpointLocation", ck_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        if not called["yes"]:
            # no new gate output this round; pending may still hold work
            if latest_pending() is None:
                break
            process_batch(empty_cand, -1)
        if ring["todo"] == 0:
            break
    try:
        return spark.read.parquet(pages_dir)
    except Exception:  # nothing ever succeeded: no sink dir
        return local_frame(
            spark, [], "url string, title string, content string, wc int"
        )
