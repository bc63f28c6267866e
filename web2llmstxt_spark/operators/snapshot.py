"""Crawl-snapshot diffing — the continuous-recrawl primitive.

A production crawler doesn't run once: it re-crawls, and the interesting
output of run N+1 is the DELTA against run N — which pages appeared,
vanished, or changed. The reference is a one-shot tool (no diff surface);
this extends its crawl model the way a 10^10-URL continuous pipeline needs,
and it closes the loop with the cuckoo URL-seen filter's delete support
(`operators/cuckoo.delete_urls`): the invalidation set produced here is
exactly what gets deleted from the seen filter so changed/removed URLs are
re-fetchable on the next run.

Scale shape (100 TB): ONE full-outer join keyed by URL — the minimum any
diff must pay — over (url, md5(content)) projections, so page bytes never
shuffle; only 32-byte hashes move. Unchanged pages (the overwhelming
majority between consecutive crawls) are dropped BEFORE the result
materializes. Snapshots persisted by `state/checkpoint.py` are already
url-unique (the seen set guarantees it), which this relies on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: change labels, in output order
ADDED, REMOVED, CHANGED = "added", "removed", "changed"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_col: str = "url",
    content_col: str = "content",
) -> DataFrame:
    """Diff two crawl snapshots. Output: one row per non-identical URL —
    (key, change in {added, removed, changed}, h_old, h_new) where the
    hashes are md5 of the page content (null on the missing side).

    Both inputs must be unique on ``key_col`` (crawl snapshots are: the
    URL-seen set enforces it); a duplicated key would fan the join out.
    """
    # md5(NULL) is NULL, and presence is decided by hash nullability below —
    # coalesce so a URL whose body is null (a real shape: the pipeline
    # coalesces null content elsewhere) keys by the ROW, not by content
    # nullability, instead of misclassifying as removed+added.
    o = old.select(
        F.col(key_col).alias("k"),
        F.md5(F.coalesce(F.col(content_col), F.lit(""))).alias("h_old"),
    )
    n = new.select(
        F.col(key_col).alias("k"),
        F.md5(F.coalesce(F.col(content_col), F.lit(""))).alias("h_new"),
    )
    change = (
        F.when(F.col("h_old").isNull(), ADDED)
        .when(F.col("h_new").isNull(), REMOVED)
        .when(F.col("h_old") != F.col("h_new"), CHANGED)
    )
    return (
        o.join(n, "k", "full_outer")
        .select(
            F.col("k").alias(key_col),
            change.alias("change"),
            "h_old",
            "h_new",
        )
        .filter(F.col("change").isNotNull())
    )


def invalidation_set(diff: DataFrame, key_col: str = "url") -> DataFrame:
    """URLs the next crawl must treat as UNSEEN: changed pages (stale copy)
    and removed pages (dead entry). Feed to `cuckoo.delete_urls` — the
    reason the standalone cuckoo filter exists (Bloom cannot delete;
    COVERAGE.md J1)."""
    return diff.filter(F.col("change").isin(CHANGED, REMOVED)).select(key_col)


def recrawl_schedule(
    history: DataFrame,
    now_epoch: int,
    budget: int,
    key_col: str = "url",
) -> DataFrame:
    """Change-rate-driven recrawl scheduling — which URLs to spend the next
    crawl budget on (the Cho/Garcia-Molina "synchronizing a web database"
    policy family: revisit frequency proportional to observed change rate,
    staleness-weighted).

    Input ``history``: one row per (url, epoch:int, h:string) content-hash
    observation across past crawl epochs (exactly what `snapshot_diff`
    consumes; `state/checkpoint.py` snapshots provide it). Per URL it
    derives, with ONE shuffle on the url key (the lag window and the
    aggregate share the partitioning, so Catalyst plans a single exchange):

    - ``n_obs``      observations, ``last_epoch`` = most recent crawl
    - ``n_changes``  epochs whose hash differs from the previous observation
    - ``priority``   = floor((now - last_epoch) * (n_changes + 1) * 1000
                             / span), span = last_epoch - first_epoch

    i.e. staleness x Laplace-smoothed change count, scaled to an INTEGER so
    the score is bit-identical across engines (no float division). The +1
    smoothing keeps never-changed pages aging (exploration); a page never
    recrawled since ``first_epoch`` has span clamped to 1.

    Output: the ``budget`` most-overdue URLs, ties broken by url — a
    distributed top-k (TakeOrdered, no global sort materializes). Only
    (url, epoch, 32-byte hash) rows shuffle; page bytes never enter."""
    from pyspark.sql import Window

    w = Window.partitionBy(key_col).orderBy("epoch")
    changed = history.select(
        key_col,
        "epoch",
        (F.lag("h").over(w).isNotNull() & (F.col("h") != F.lag("h").over(w)))
        .cast("int")
        .alias("chg"),
    )
    stats = changed.groupBy(key_col).agg(
        F.count("*").alias("n_obs"),
        F.sum("chg").alias("n_changes"),
        F.min("epoch").alias("first_epoch"),
        F.max("epoch").alias("last_epoch"),
    )
    span = F.greatest(F.col("last_epoch") - F.col("first_epoch"), F.lit(1))
    priority = F.floor(
        (F.lit(now_epoch) - F.col("last_epoch"))
        * (F.col("n_changes") + 1)
        * 1000
        / span
    )
    return (
        stats.select(
            key_col,
            "n_obs",
            "n_changes",
            "last_epoch",
            priority.alias("priority"),
        )
        .orderBy(F.desc("priority"), key_col)
        .limit(budget)
    )
