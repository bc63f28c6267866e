"""Distributed global ranking and top-k — shared by the crawl strategies.

Two-pass rank: range-partition on the sort key, window WITHIN each partition
(parallel), then add per-partition offsets (a tiny driver-side cumulative of
partition counts). Replaces both ``orderBy().limit(k)`` TakeOrdered (driver
merges P x k rows — measured 10-20 s serial at k=60k) and
``Window.orderBy()`` with no partition key (single-task sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import local_frame

#: up to this k, top_k merges per-partition top-k rows on the driver
#: (TakeOrdered); above it the driver would merge P x k rows serially, and
#: the two-pass rank below takes over
LARGE_BATCH = 4096


def global_rank(
    df: DataFrame, order, rank_col: str, cum_col_flag=None,
    caches: list | None = None,
) -> DataFrame:
    """Global ordering WITHOUT a single-partition window or driver merge.

    With ``cum_col_flag`` also emits ``__cum_before``: the global running sum
    of the flag EXCLUDING the current row (the curate pack's stream offsets).
    ``caches`` receives the range-partitioned checkpoint, for the caller to
    release (``session.release``) once the result is materialized.
    """
    spark = df.sparkSession
    p = max(spark.sparkContext.defaultParallelism, 4)
    d = df.repartitionByRange(p, *order).withColumn("__pid", F.spark_partition_id())
    # localCheckpoint (NOT persist): the per-partition offsets below are only
    # valid for THIS materialization. A cache miss would silently re-run
    # repartitionByRange with fresh sampled boundaries and shifted __pid
    # assignment, corrupting ranks (observed as run-to-run seen-set drift
    # before this fix). Checkpointing severs lineage: recompute is
    # impossible, offsets always match the data.
    d = d.localCheckpoint(eager=True)
    if caches is not None:
        caches.append(d)
    aggs = [F.count("*").alias("n")]
    if cum_col_flag is not None:
        aggs.append(F.sum(cum_col_flag.cast("long")).alias("s"))
    part_stats = {r["__pid"]: r for r in d.groupBy("__pid").agg(*aggs).collect()}
    rank_off, flag_off = {}, {}
    acc_n = acc_s = 0
    for pid in sorted(part_stats):
        rank_off[pid] = acc_n
        flag_off[pid] = acc_s
        acc_n += part_stats[pid]["n"]
        if cum_col_flag is not None:
            acc_s += part_stats[pid]["s"] or 0
    w = Window.partitionBy("__pid").orderBy(*order)

    # per-partition offsets attach via a BROADCAST join on __pid, not a
    # WHEN chain: a chain grows the expression tree linearly with partition
    # count (Janino/codegen degrades past a few hundred partitions; a
    # 10^4-partition production sort would not compile)
    off_rows = [
        (pid, rank_off[pid], flag_off.get(pid, 0) or 0) for pid in sorted(part_stats)
    ]
    offs = local_frame(spark, off_rows, "__pid int, __rank_off long, __flag_off long")
    d = d.join(F.broadcast(offs), "__pid")
    d = d.withColumn(rank_col, F.row_number().over(w).cast("long") + F.col("__rank_off"))
    if cum_col_flag is not None:
        local_cum = F.coalesce(
            F.sum(cum_col_flag.cast("long")).over(
                w.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        d = d.withColumn("__cum_before", local_cum + F.col("__flag_off"))
    return d.drop("__pid", "__rank_off", "__flag_off")


def top_k(df: DataFrame, order, k: int, caches: list | None = None) -> DataFrame:
    """The first ``k`` rows of ``df`` by ``order`` (a total order).

    Up to LARGE_BATCH the rows are taken by one TakeOrdered job and come
    back as a driver-held LocalRelation: no cache to free, and a consumer
    that needs their keys on the driver collects them without a job. Above
    it, ``global_rank``'s two passes (its checkpoint goes to ``caches``).
    """
    if k <= LARGE_BATCH:
        rows = df.orderBy(*order).limit(k).collect()
        return local_frame(df.sparkSession, rows, df.schema)
    ranked = global_rank(df, order, "__r", caches=caches)
    return ranked.filter(F.col("__r") <= k).drop("__r")
