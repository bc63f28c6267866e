"""Partition-local Bloom URL-seen pre-filter with INCREMENTAL state
(north rule: "partition-local Bloom/cuckoo URL-seen filter merged per
superstep").

At 10^10-URL scale the exact ``frontier LEFT ANTI JOIN seen`` must shuffle
both sides on url every superstep. The Bloom pass removes that cost for the
common case: per host-bucket, a compact bitmap of the bucket's seen URLs is
cogrouped against the bucket's candidates — candidates the bitmap rejects
are DEFINITELY unseen and bypass the exact join entirely; only "maybe seen"
survivors (a small, false-positive-bounded set) take the exact anti-join.
No false negatives => the composition is exactly equal to the plain
anti-join (audited in tests/test_frontier_parity.py::test_bloom_off_equals_on).

Round-1 fix: the bitmaps are now STATE, not a per-superstep rebuild. Each
superstep ORs in only the bitmap delta of that superstep's newly-attempted
URLs (``delta_bitmaps`` + ``merge_bitmaps``) — per-superstep Bloom cost is
O(|attempted|), not O(|seen|). All bitmaps in one state generation share a
fixed ``m_bits``; when the per-bucket key count outgrows BITS_PER_KEY load,
the caller rebuilds from the (checkpointed) seen table at double width —
amortized O(log n) full scans over a whole crawl, like vector doubling.

The reference holds one driver-side ``set`` (crawled_urls,
llmsgen/crawler/web_crawler.py:189 (pyc)); this is its distributed,
memory-bounded replacement. Sizing: BITS_PER_KEY=10 with K=4 double-hashed
probes => ~1.2% false positives at capacity; per-bucket bitmaps for 10^10
URLs across 4096 buckets stay partition-local, never broadcast or collected.

Round-4 vectorization: the probe/build hashes are TWO JVM ``xxhash64``
columns (computed inside whole-stage codegen — zero per-URL Python), and the
Arrow-batched build/probe kernels are pure numpy over those int64 columns
(``np.bitwise_or.at`` scatter for build, a vectorized gather for probe).
Previously each URL paid a Python ``hashlib.blake2b`` call on BOTH the delta
and the probe side — at an 8 M-URL frontier that was the largest remaining
per-row Python in the superstep loop. Build and probe derive positions from
the same columns through ``_probe_positions``, so the sides cannot drift.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BITS_PER_KEY = 10
NUM_PROBES = 4
#: per-bucket bitmap width for a fresh state generation: 2^17 bits = 16 KiB,
#: capacity ~13k URLs/bucket before the doubling rebuild triggers. Small
#: enough that a 32-bucket test crawl carries 512 KiB of state; a production
#: run sizes this to expected |seen|/bucket up front.
DEFAULT_M_BITS = 1 << 17

BLOOM_SCHEMA = "bucket int, bitmap binary, n_keys long"

#: seed of the second xxhash64 column (any constant != Spark's default 42)
_H2_SEED = 0x9E3779B9


def _hash_cols(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Attach the two 64-bit probe hashes as JVM-native columns."""
    return df.withColumn("__h1", F.xxhash64(F.col(url_col))).withColumn(
        "__h2", F.xxhash64(F.col(url_col), F.lit(_H2_SEED))
    )


def _probe_positions(h1_i64: np.ndarray, h2_i64: np.ndarray, m_bits: int):
    """(NUM_PROBES, n) bit positions via double hashing — pure numpy."""
    h1 = h1_i64.view(np.uint64)
    h2 = h2_i64.view(np.uint64) | np.uint64(1)  # odd stride
    m = np.uint64(m_bits)
    return [(h1 + np.uint64(i) * h2) % m for i in range(NUM_PROBES)]


def _bucket_col(url_col, num_buckets: int, salt_hosts: dict | None = None):
    """JVM-native bucket id for a URL (no Python boundary — this runs on
    every candidate every superstep). ``salt_hosts`` maps skewed hosts ->
    fan-out k: their URLs spread deterministically over k buckets
    (bucket = (hash(host) + hash(url) % k) % num_buckets) so one mega-host
    cannot pin a partition (north-rule skew salting). Safe for Bloom/seen
    state: the same URL always lands in the same bucket, membership keys on
    the full URL — only co-location granularity changes. Both the bitmap
    builder and the prefilter derive buckets through this one function, so
    delta and probe sides always agree."""
    from ..functions import native

    host = F.lower(F.parse_url(url_col, F.lit("HOST")))
    base = native.host_bucket_native(host, num_buckets)
    if salt_hosts:
        salt = F.lit(0)
        for h, k in salt_hosts.items():
            salt = F.when(
                host == F.lit(h.lower()), native.host_bucket_native(url_col, k)
            ).otherwise(salt)
        base = F.pmod(base + salt, F.lit(num_buckets)).cast("int")
    return base


# --------------------------------------------------------- incremental state

def delta_bitmaps(urls: DataFrame, num_buckets: int,
                  m_bits: int = DEFAULT_M_BITS,
                  salt_hosts: dict | None = None) -> DataFrame:
    """(bucket, bitmap, n_keys) for ONE increment of URLs (this superstep's
    attempted set, or the full seen table on init/rebuild). Shuffles only the
    increment — never the accumulated state. Hashes are JVM columns; the
    per-bucket build is a vectorized numpy scatter."""
    b = _hash_cols(urls.select("url")).select(
        _bucket_col(F.col("url"), num_buckets, salt_hosts).alias("bucket"),
        "__h1",
        "__h2",
    )

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        h1 = pdf["__h1"].to_numpy(dtype=np.int64)
        h2 = pdf["__h2"].to_numpy(dtype=np.int64)
        for pos in _probe_positions(h1, h2, m_bits):
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).astype(np.int64),
                np.left_shift(np.uint8(1), (pos & np.uint64(7)).astype(np.uint8)),
            )
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bitmap": [bits.tobytes()],
                "n_keys": [len(pdf)],
            }
        )

    return b.groupBy("bucket").applyInPandas(_build, BLOOM_SCHEMA)


def merge_bitmaps(state: DataFrame | None, delta: DataFrame) -> DataFrame:
    """OR the delta into the accumulated state (same m_bits generation).
    Both sides are ≤num_buckets rows of fixed-size bitmaps — the merge
    shuffles kilobytes, not URLs. n_keys accumulates insertion counts (an
    upper bound on distinct keys; used only for the load-factor rebuild).
    A fresh filter is the delta itself: delta_bitmaps already holds one row
    per bucket, so grouping it again would only add a pass."""
    if state is None:
        return delta
    both = state.unionByName(delta)

    def _or(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = [np.frombuffer(b, dtype=np.uint8) for b in pdf["bitmap"]]
        merged = arrs[0] if len(arrs) == 1 else np.bitwise_or.reduce(arrs)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bitmap": [merged.tobytes()],
                "n_keys": [int(pdf["n_keys"].sum())],
            }
        )

    return both.groupBy("bucket").applyInPandas(_or, BLOOM_SCHEMA)


def probe_state(cand: DataFrame, bloom_state: DataFrame, num_buckets: int,
                salt_hosts: dict | None = None) -> DataFrame:
    """cand + boolean ``maybe_seen`` (True => maybe, False => DEFINITELY
    unseen). The per-bucket probe is a vectorized numpy gather over the JVM
    xxhash64 columns — no per-URL Python."""
    cand_cols = cand.columns
    cand_b = _hash_cols(cand).withColumn(
        "bucket", _bucket_col(F.col("url"), num_buckets, salt_hosts)
    )
    blooms = bloom_state.select("bucket", "bitmap")

    out_schema = cand_b.withColumn("maybe_seen", F.lit(True)).schema

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series([], dtype=bool))
        if right.empty:
            return left.assign(maybe_seen=False)
        bits = np.frombuffer(right["bitmap"].iloc[0], dtype=np.uint8)
        h1 = left["__h1"].to_numpy(dtype=np.int64)
        h2 = left["__h2"].to_numpy(dtype=np.int64)
        maybe = np.ones(len(left), dtype=bool)
        for pos in _probe_positions(h1, h2, len(bits) * 8):
            byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
            maybe &= ((byte >> (pos & np.uint64(7)).astype(np.uint8)) & np.uint8(1)) == 1
        return left.assign(maybe_seen=maybe)

    probed = (
        cand_b.groupBy("bucket")
        .cogroup(blooms.groupBy("bucket"))
        .applyInPandas(_probe, out_schema)
    )
    return probed.select(*cand_cols, "maybe_seen")


def prefilter_with_state(cand: DataFrame, bloom_state: DataFrame,
                         seen: DataFrame, num_buckets: int,
                         salt_hosts: dict | None = None) -> DataFrame:
    """Exact equivalent of ``cand.join(seen, 'url', 'left_anti')``: the
    accumulated bitmaps reject definitely-unseen candidates cheaply; only
    "maybe seen" survivors pay the exact anti-join against seen."""
    cand_cols = cand.columns
    probed = probe_state(cand, bloom_state, num_buckets, salt_hosts)
    definitely_unseen = probed.filter(~F.col("maybe_seen")).select(*cand_cols)
    survivors = (
        probed.filter(F.col("maybe_seen"))
        .select(*cand_cols)
        .join(seen.select("url"), "url", "left_anti")
    )
    return definitely_unseen.unionByName(survivors)


def needs_rebuild(max_keys_per_bucket: int, m_bits: int) -> bool:
    """Load-factor check: past BITS_PER_KEY the false-positive rate degrades
    and maybe-seen survivors flood the exact join — double and rebuild."""
    return max_keys_per_bucket * BITS_PER_KEY > m_bits
