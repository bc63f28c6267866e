"""Description cache (T4): check-before-generate, write-through after.

Reference: ``ModelClient.check_cached_description`` / ``cache_description``
(models/client.py:68-92; identical v2 twin llmsgen/models/manager.py:57-77):
cache key = ``f"{url}:{md5(f'{title}|||{content[:1000]}')}"`` — the first
1000 chars of content fingerprint the page so edits invalidate the entry.

The reference holds the cache as one JSON blob on the driver; at 100 TB
re-run scale the cache IS a table. Here it's a parquet table (the Iceberg
pattern) joined BEFORE the describe projection: hits reuse their stored
description, only misses pay the describe compute, and the miss set is
written through for the next run. The join shuffles only (cache_key,
description) — never page content.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import udfs
from ..session import local_frame, release

CACHE_SCHEMA = "cache_key string, description string"


def content_hash_col(title, content):
    """md5(f"{title}|||{content[:1000]}") — models/client.py:68-71."""
    return F.md5(
        F.concat(
            F.coalesce(title, F.lit("")),
            F.lit("|||"),
            F.substring(F.coalesce(content, F.lit("")), 1, 1000),
        )
    )


def cache_key_col(url, title, content):
    """f"{url}:{content_hash}" — models/client.py:76-78."""
    return F.concat(url, F.lit(":"), content_hash_col(title, content))


def describe_with_cache(
    pages: DataFrame, cache: DataFrame, describe_fn=None
) -> tuple[DataFrame, DataFrame]:
    """pages -> (entries, new_cache_rows).

    entries: (url, title, description, word_count, index) — identical values
    to the uncached ``distill.describe_pages`` (describe is deterministic, so
    a hit and a recompute agree; tested in test_desc_cache).
    new_cache_rows: the misses only — the write-through delta, (cache_key,
    description) plus the entry columns. A fully-warm cache yields 0 rows
    here (the check-before-generate guarantee). ``describe_fn`` injects the
    D5 model (udfs.make_describe_udf); only cache MISSES ever reach it — the
    check-before-generate contract the reference's AI path relies on
    (models/client.py:68-92).

    Each miss is described ONCE: new_cache_rows is an eager localCheckpoint
    of the described misses (no page content), and entries reads its miss
    half from that checkpoint, so neither the write-through nor any action
    on entries runs the model again. Release new_cache_rows
    (session.release) once both are no longer read.
    """
    keyed = pages.withColumn(
        "cache_key", cache_key_col(F.col("url"), F.col("title"), F.col("content"))
    )
    hits = keyed.join(cache, "cache_key").select(
        "url", "title", "description", "word_count", F.col("rank").alias("index")
    )
    d_udf = (
        udfs.make_describe_udf(describe_fn) if describe_fn is not None
        else udfs.describe_udf
    )
    new_cache = keyed.join(cache, "cache_key", "left_anti").select(
        "cache_key",
        d_udf(F.col("title"), F.col("content"), F.col("url")).alias("description"),
        "url", "title", "word_count", F.col("rank").alias("index"),
    ).localCheckpoint(eager=True)
    entries = hits.unionByName(new_cache.drop("cache_key"))
    return entries, new_cache


class DescriptionCache:
    """Parquet-backed cache table: append-only write-through, read-side dedup.

    Concurrency contract (the 100 TB re-run shape): ``merge_and_save`` writes
    the run's miss-delta into a UNIQUE ``delta-<run_id>/`` subdirectory — not
    ``mode('append')`` on the shared root, because Spark's FileOutputCommitter
    stages every append through one shared ``<path>/_temporary/`` dir, and two
    concurrent appends race on that staging dir (the first committer's cleanup
    can delete the other's in-flight task files). A per-run subdir gives each
    writer its own committer staging area, so concurrent runs writing into the
    same cache directory cannot clobber each other. Duplicate keys from racing
    runs are resolved at READ time by ``load()``'s dropDuplicates; describe is
    deterministic, so any surviving row for a key carries the identical
    description — any-wins is exact, not approximate. ``compact()`` is the one
    delete operation and is single-writer by contract (run it from a
    maintenance job, not a crawl): it folds all deltas into one new delta and
    removes the old ones.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _delta_dirs(self) -> list[str]:
        """Committed deltas only: a ``delta-*`` dir counts once its writer's
        _SUCCESS marker exists, so a concurrent half-written delta is invisible
        to readers (per-delta atomicity)."""
        return sorted(
            d
            for d in glob.glob(os.path.join(self.path, "delta-*"))
            if os.path.exists(os.path.join(d, "_SUCCESS"))
        )

    def load(self) -> DataFrame:
        deltas = self._delta_dirs()
        if not deltas:
            return local_frame(self.spark, [], CACHE_SCHEMA)
        return self.spark.read.parquet(*deltas).dropDuplicates(["cache_key"])

    def merge_and_save(self, new_rows: DataFrame) -> int:
        """Write the miss-delta's (cache_key, description) as a new
        ``delta-<run_id>/`` dir (see the class concurrency contract).
        Returns the number of NEW keys written. ``new_rows`` is counted,
        then written: pass it materialized (describe_with_cache does), or
        both actions compute it."""
        new_rows = new_rows.select("cache_key", "description")
        n_new = new_rows.count()
        if n_new:
            delta_path = os.path.join(self.path, f"delta-{uuid.uuid4().hex}")
            new_rows.write.mode("error").parquet(delta_path)
        return n_new

    def compact(self) -> int:
        """Fold all deltas into one (maintenance; SINGLE-writer by contract —
        a delta appended while compaction runs may be deleted with the old
        set). Returns the compacted row count."""
        old_deltas = self._delta_dirs()
        merged = self.load().localCheckpoint(eager=True)  # read fully before delete
        try:
            n = merged.count()
            if old_deltas:
                compacted = os.path.join(self.path, f"delta-{uuid.uuid4().hex}")
                merged.write.mode("error").parquet(compacted)
                for d in old_deltas:
                    shutil.rmtree(d, ignore_errors=True)
            return n
        finally:
            release([merged])
