"""Partition-local CUCKOO URL-seen filter — a standalone membership
operator that supports deletion. The crawl engine's URL-seen filter is the
Bloom filter (``operators/bloom.py``): the BFS seen set only grows, so the
crawl never deletes. This operator serves the callers that do: re-crawl
invalidation (``operators/snapshot.invalidation_set`` -> ``delete_urls``)
and the registry's ``seen_antijoin_cuckoo`` oracle.

Same contract as the Bloom path: per host-bucket, a compact structure over
the bucket's seen URLs is cogrouped against the bucket's candidates;
candidates it rejects are DEFINITELY unseen and bypass the exact anti-join,
and only "maybe seen" survivors (false-positive-bounded) pay the exact
join. No false negatives => ``prefilter_with_state`` composes to exactly
``cand.join(seen, 'url', 'left_anti')``.

What cuckoo offers next to Bloom (Fan et al., "Cuckoo Filter: Practically
Better Than Bloom", CoNEXT 2014):

- **Deletion**: a fingerprint of an inserted key can be REMOVED
  (``delete_urls``), which a Bloom bitmap cannot do. For a crawl engine
  that is re-crawl invalidation: evict a URL from the URL-seen filter so a
  later superstep may attempt it again, without rebuilding state from the
  seen table. (Standard cuckoo caveat, kept: deleting a key that was never
  inserted may evict another key's identical fingerprint — callers must
  only delete previously-inserted URLs.)
- **Precision per probe**: 16-bit fingerprints give ~0.05% false-positive
  rate at 4-way association vs ~1.2% for the Bloom sizing at the same
  byte budget — fewer "maybe seen" survivors reach the exact join. The
  trade is capacity: the same ``m_bits`` of memory holds ~0.84*m_bits/16
  keys (vs m_bits/10 for Bloom).
- **Two reads per probe** (both candidate buckets), vs K=4 scattered bit
  reads for Bloom — and both are one vectorized numpy gather here.

Structure (per host-bucket row, in the Bloom state schema): a 4-slot-per-bucket
table of 16-bit fingerprints. For key hashes (h1, h2) from the SAME two
JVM ``xxhash64`` columns the Bloom path uses (``bloom._hash_cols`` — zero
per-URL Python on either side):

    fp  = (h2 & 0xFFFF) or 1          (0 marks an empty slot)
    i1  = (h1 >> 16) mod m            (m = slots/4, power of two)
    i2  = i1 XOR alt(fp),  alt(fp) = (fp * 0x5bd1e995) & (m-1)

XOR partner indexing is self-inverse, so an entry found in either bucket
can be kicked to the other knowing only (index, fp) — the classic cuckoo
eviction walk. Inserts are batch-vectorized: alternating "fill free slots"
rounds place items via a stable argsort + within-group-rank scatter (no
per-item Python for the common case); only items whose BOTH buckets are
full take the bounded per-item eviction walk, and a walk that exhausts
MAX_KICKS parks the fingerprint in a per-bucket overflow stash that the
probe also checks — membership is NEVER dropped (the no-false-negative
invariant survives any load), the stash only adds false positives; size
``m_bits`` so the load stays under MAX_LOAD.

State/delta rows share the Bloom schema ``(bucket int, bitmap binary,
n_keys long)``; the binary payload is tagged (0 = table+stash, 1 = packed
delta hashes) so ``merge_state`` can fold any mix. Unlike Bloom's
commutative OR, a cuckoo table's exact slot layout depends on insertion
order (which Spark does not fix across runs) — semantically invisible:
membership, the only observable through ``prefilter_with_state``'s exact
back-join, is order-independent.

Reference analogue: the same driver-side ``set`` (crawled_urls,
llmsgen/crawler/web_crawler.py:189 (pyc)) the Bloom path replaces.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .bloom import BLOOM_SCHEMA, _bucket_col, _hash_cols

#: 4-way set association — the sweet spot for >0.8 achievable load
#: (Fan et al. §5: 2-way caps at ~0.5 load, 8-way pays more probe reads).
SLOTS_PER_BUCKET = 4
#: eviction-walk bound before a fingerprint parks in the overflow stash
MAX_KICKS = 500
#: achievable load factor of a 4-way table: past it eviction walks lengthen
#: and the overflow stash starts absorbing inserts
MAX_LOAD = 0.84
#: odd multiplier for the partner-index hash of a fingerprint
_ALT_MULT = 0x5BD1E995

_TAG_TABLE = 0
_TAG_DELTA = 1


def _geometry(m_bits: int) -> tuple[int, int]:
    """(total_slots, num_cuckoo_buckets) for an m_bits memory budget.
    m_bits is BITS of table memory (the Bloom path's width knob): 16-bit slots => slots = m_bits/16; m = slots/4 must be a
    power of two for XOR partner indexing."""
    slots = max(SLOTS_PER_BUCKET, m_bits // 16)
    m = slots // SLOTS_PER_BUCKET
    if m & (m - 1):
        raise ValueError(f"m_bits={m_bits}: slots/4 must be a power of two")
    return slots, m


def _fp_i1(h1: np.ndarray, h2: np.ndarray, m: int):
    """Vectorized (fingerprint, primary index) from the two int64 hash
    columns. fp==0 is reserved for empty slots, so 0 maps to 1."""
    fp = (h2.view(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    i1 = ((h1.view(np.uint64) >> np.uint64(16)) % np.uint64(m)).astype(np.int64)
    return fp, i1


def _alt(fp, m: int):
    """Partner-bucket offset of a fingerprint (array or scalar)."""
    return (fp.astype(np.int64) if isinstance(fp, np.ndarray) else int(fp)) * _ALT_MULT & (m - 1)


def _place_round(table: np.ndarray, counts: np.ndarray,
                 fp: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Vectorized free-slot fill: for each target bucket, place as many
    items as it has free slots (stable argsort + within-group rank).
    Returns a boolean placed-mask aligned with fp/idx. Relies on the
    packed-slots invariant (occupied slots are 0..counts[b]-1), which
    insert and delete both maintain."""
    if not len(fp):
        return np.zeros(0, dtype=bool)
    order = np.argsort(idx, kind="stable")
    sidx, sfp = idx[order], fp[order]
    first = np.ones(len(sidx), dtype=bool)
    first[1:] = sidx[1:] != sidx[:-1]
    starts = np.flatnonzero(first)
    lens = np.diff(np.append(starts, len(sidx)))
    rank = np.arange(len(sidx)) - np.repeat(starts, lens)
    free = SLOTS_PER_BUCKET - counts[sidx]
    ok = rank < free
    table[sidx[ok], counts[sidx[ok]] + rank[ok]] = sfp[ok]
    np.add.at(counts, sidx[ok], 1)
    placed = np.zeros(len(fp), dtype=bool)
    placed[order[ok]] = True
    return placed


def _evict_insert(table: np.ndarray, counts: np.ndarray, stash: list,
                  fp0: int, idx0: int, m: int) -> None:
    """Bounded cuckoo eviction walk for one item whose both buckets are
    full. Deterministic victim choice ((fp+k) % 4) keeps the walk
    reproducible given insertion order. Exhaustion parks in the stash —
    membership is never dropped."""
    cur, idx = int(fp0), int(idx0)
    for k in range(MAX_KICKS):
        if counts[idx] < SLOTS_PER_BUCKET:
            table[idx, counts[idx]] = cur
            counts[idx] += 1
            return
        s = (cur + k) % SLOTS_PER_BUCKET
        victim = int(table[idx, s])
        table[idx, s] = cur
        cur = victim
        idx = idx ^ _alt(np.uint16(cur), m)
    stash.append(cur)


def _insert_batch(table: np.ndarray, stash: list,
                  h1: np.ndarray, h2: np.ndarray, m: int) -> None:
    """Insert a batch of keys: vectorized fill rounds over (i1, i2, i1,
    i2), then per-item eviction walks for the (rare) full-bucket rest."""
    counts = (table != 0).sum(axis=1).astype(np.int64)
    fp, i1 = _fp_i1(h1, h2, m)
    i2 = i1 ^ _alt(fp, m)
    pending = np.arange(len(fp))
    for target in (i1, i2, i1, i2):
        if not len(pending):
            return
        placed = _place_round(table, counts, fp[pending], target[pending])
        pending = pending[~placed]
    for j in pending:
        _evict_insert(table, counts, stash, fp[j], i1[j], m)


def _encode_table(table: np.ndarray, stash: list) -> bytes:
    """tag(1) + slots(uint32 LE, self-describing geometry) + table + stash."""
    slots = np.uint32(table.size)
    return (
        bytes([_TAG_TABLE])
        + slots.tobytes()
        + table.tobytes()
        + np.asarray(stash, dtype=np.uint16).tobytes()
    )


def _decode_table(payload: bytes):
    """-> (table (m,4) uint16 writable, stash list[int])."""
    assert payload[0] == _TAG_TABLE
    slots = int(np.frombuffer(payload[1:5], dtype=np.uint32)[0])
    body = payload[5:]
    table = (
        np.frombuffer(body[: slots * 2], dtype=np.uint16)
        .reshape(slots // SLOTS_PER_BUCKET, SLOTS_PER_BUCKET)
        .copy()
    )
    stash = np.frombuffer(body[slots * 2:], dtype=np.uint16).tolist()
    return table, stash


# --------------------------------------------------------- incremental state

def delta_state(urls: DataFrame, num_buckets: int, m_bits: int = 0,
                salt_hosts: dict | None = None) -> DataFrame:
    """(bucket, bitmap=tagged packed (h1,h2) pairs, n_keys) for ONE
    increment of URLs. Cuckoo deltas carry raw hashes (table placement
    needs the live table, so it happens at merge) — hashes do not depend
    on m_bits, which is accepted and unused. Shuffles
    only the increment, never the accumulated state."""
    b = _hash_cols(urls.select("url")).select(
        _bucket_col(F.col("url"), num_buckets, salt_hosts).alias("bucket"),
        "__h1",
        "__h2",
    )

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        h1 = pdf["__h1"].to_numpy(dtype=np.int64)
        h2 = pdf["__h2"].to_numpy(dtype=np.int64)
        payload = bytes([_TAG_DELTA]) + h1.tobytes() + h2.tobytes()
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bitmap": [payload],
                "n_keys": [len(pdf)],
            }
        )

    return b.groupBy("bucket").applyInPandas(_pack, BLOOM_SCHEMA)


def _unpack_delta(payload: bytes):
    body = payload[1:]
    n = len(body) // 16
    h1 = np.frombuffer(body[: n * 8], dtype=np.int64)
    h2 = np.frombuffer(body[n * 8:], dtype=np.int64)
    return h1, h2


def merge_state(state: DataFrame | None, delta: DataFrame,
                m_bits: int) -> DataFrame:
    """Fold delta hashes into the accumulated per-bucket tables (fresh
    tables at m_bits geometry where no state row exists). Like the Bloom
    merge this shuffles only ≤num_buckets fixed-size rows + the delta
    payloads — never URLs. n_keys accumulates insertion counts (an upper
    bound on distinct keys)."""
    _, m = _geometry(m_bits)
    both = delta if state is None else state.unionByName(delta)

    def _fold(pdf: pd.DataFrame) -> pd.DataFrame:
        table, stash = np.zeros((m, SLOTS_PER_BUCKET), dtype=np.uint16), []
        h1s, h2s = [], []
        for payload in pdf["bitmap"]:
            if payload[0] == _TAG_TABLE:
                t2, s2 = _decode_table(payload)
                if t2.shape[0] != m:
                    # a table can only be resized by rebuilding from the
                    # exact seen table (i1 derives from h1, which stored
                    # fingerprints no longer carry) — same contract as the
                    # Bloom doubling rebuild.
                    raise ValueError(
                        f"cuckoo geometry mismatch: state m={t2.shape[0]} vs "
                        f"merge m={m}; rebuild from seen instead of merging"
                    )
                if not table.any() and not stash:
                    table, stash = t2, s2
                    continue
                # union of two same-geometry filters: a stored fp's partner
                # is idx ^ alt(fp) regardless of whether idx was its i1 or
                # i2, so each occupied slot re-inserts via the eviction walk
                counts = (table != 0).sum(axis=1).astype(np.int64)
                occ_idx, occ_slot = np.nonzero(t2)
                for idx, s in zip(occ_idx, occ_slot):
                    _evict_insert(table, counts, stash, int(t2[idx, s]),
                                  int(idx), m)
                stash.extend(s2)
            else:
                a, b = _unpack_delta(payload)
                h1s.append(a)
                h2s.append(b)
        if h1s:
            _insert_batch(table, stash, np.concatenate(h1s), np.concatenate(h2s), m)
        return pd.DataFrame(
            {
                "bucket": [int(pdf["bucket"].iloc[0])],
                "bitmap": [_encode_table(table, stash)],
                "n_keys": [int(pdf["n_keys"].sum())],
            }
        )

    return both.groupBy("bucket").applyInPandas(_fold, BLOOM_SCHEMA)


def probe_state(cand: DataFrame, state: DataFrame, num_buckets: int,
                salt_hosts: dict | None = None) -> DataFrame:
    """cand + boolean ``maybe_seen`` (False => DEFINITELY unseen). One
    vectorized gather over both candidate buckets + a stash isin — no
    per-URL Python. Table geometry is self-described by the payload."""
    cand_cols = cand.columns
    cand_b = _hash_cols(cand).withColumn(
        "bucket", _bucket_col(F.col("url"), num_buckets, salt_hosts)
    )
    tables = state.select("bucket", "bitmap")
    out_schema = cand_b.withColumn("maybe_seen", F.lit(True)).schema

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty:
            return left.assign(maybe_seen=pd.Series([], dtype=bool))
        if right.empty:
            return left.assign(maybe_seen=False)
        table, stash = _decode_table(right["bitmap"].iloc[0])
        m = table.shape[0]
        h1 = left["__h1"].to_numpy(dtype=np.int64)
        h2 = left["__h2"].to_numpy(dtype=np.int64)
        fp, i1 = _fp_i1(h1, h2, m)
        i2 = i1 ^ _alt(fp, m)
        col = fp[:, None]
        maybe = (table[i1] == col).any(axis=1) | (table[i2] == col).any(axis=1)
        if stash:
            maybe |= np.isin(fp, np.asarray(stash, dtype=np.uint16))
        return left.assign(maybe_seen=maybe)

    probed = (
        cand_b.groupBy("bucket")
        .cogroup(tables.groupBy("bucket"))
        .applyInPandas(_probe, out_schema)
    )
    return probed.select(*cand_cols, "maybe_seen")


def prefilter_with_state(cand: DataFrame, state: DataFrame, seen: DataFrame,
                         num_buckets: int,
                         salt_hosts: dict | None = None) -> DataFrame:
    """Exact equivalent of ``cand.join(seen, 'url', 'left_anti')`` — same
    composition as the Bloom path: definitely-unseen candidates bypass the
    join, "maybe seen" survivors pay the exact check."""
    cand_cols = cand.columns
    probed = probe_state(cand, state, num_buckets, salt_hosts)
    definitely_unseen = probed.filter(~F.col("maybe_seen")).select(*cand_cols)
    survivors = (
        probed.filter(F.col("maybe_seen"))
        .select(*cand_cols)
        .join(seen.select("url"), "url", "left_anti")
    )
    return definitely_unseen.unionByName(survivors)


# ------------------------------------------------------------------ deletion

def delete_urls(state: DataFrame, urls: DataFrame, num_buckets: int,
                salt_hosts: dict | None = None) -> DataFrame:
    """Remove ONE stored fingerprint copy per URL — the operation a Bloom
    bitmap cannot support. Re-crawl invalidation: after deleting a URL
    from both this filter and the exact seen table, a later superstep may
    attempt it again without a full state rebuild.

    Only URLs that were actually inserted may be deleted (standard cuckoo
    contract); a missing fingerprint is a no-op. Slot packing is restored
    by moving the bucket's last occupied slot into the hole, so future
    vectorized inserts stay correct."""
    d = _hash_cols(urls.select("url")).select(
        _bucket_col(F.col("url"), num_buckets, salt_hosts).alias("bucket"),
        "__h1",
        "__h2",
    )

    def _del(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            return right
        payload = right["bitmap"].iloc[0]
        table, stash = _decode_table(payload)
        m = table.shape[0]
        removed = 0
        if not left.empty:
            h1 = left["__h1"].to_numpy(dtype=np.int64)
            h2 = left["__h2"].to_numpy(dtype=np.int64)
            fp, i1 = _fp_i1(h1, h2, m)
            i2 = i1 ^ _alt(fp, m)
            for f, a, b in zip(fp, i1, i2):
                done = False
                for idx in (int(a), int(b)):
                    row = table[idx]
                    hit = np.flatnonzero(row == f)
                    if len(hit):
                        occ = int((row != 0).sum())
                        row[hit[0]] = row[occ - 1]
                        row[occ - 1] = 0
                        removed += 1
                        done = True
                        break
                if not done and int(f) in stash:
                    stash.remove(int(f))
                    removed += 1
        return pd.DataFrame(
            {
                "bucket": [int(right["bucket"].iloc[0])],
                "bitmap": [_encode_table(table, stash)],
                "n_keys": [max(0, int(right["n_keys"].iloc[0]) - removed)],
            }
        )

    return (
        d.groupBy("bucket")
        .cogroup(state.groupBy("bucket"))
        .applyInPandas(_del, BLOOM_SCHEMA)
    )
