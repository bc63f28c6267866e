"""Cuckoo URL-seen filter: no-false-negative contract, exact-anti-join
composition, incremental merge, deletion and overflow stash."""

import pytest
from pyspark.sql import functions as F

from web2llmstxt_spark.operators import cuckoo

NB = 8  # host buckets
MB = 1 << 13  # tiny generation: 512 slots/bucket


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _mk(i, host_i=None):
    h = i % 5 if host_i is None else host_i
    return f"https://h{h}.example/p/{i}"


def _state(spark, urls, m_bits=MB, salt=None):
    return cuckoo.merge_state(
        None, cuckoo.delta_state(_urls(spark, urls), NB, m_bits, salt), m_bits
    )


def test_prefilter_equals_exact_antijoin(spark):
    seen = [_mk(i) for i in range(0, 300)]
    cand = [_mk(i) for i in range(150, 450)]  # half overlap
    state = _state(spark, seen)
    seen_df, cand_df = _urls(spark, seen), _urls(spark, cand)
    got = {
        r.url
        for r in cuckoo.prefilter_with_state(cand_df, state, seen_df, NB).collect()
    }
    want = {r.url for r in cand_df.join(seen_df, "url", "left_anti").collect()}
    assert got == want
    assert got == {_mk(i) for i in range(300, 450)}


def test_no_false_negatives_and_fpp(spark):
    seen = [_mk(i) for i in range(500)]
    state = _state(spark, seen)
    probed = cuckoo.probe_state(_urls(spark, seen), state, NB).collect()
    assert all(r.maybe_seen for r in probed), "false negative on an inserted URL"
    fresh = [_mk(i) for i in range(10_000, 14_000)]
    fp = sum(r.maybe_seen for r in cuckoo.probe_state(_urls(spark, fresh), state, NB).collect())
    # 16-bit fingerprints: expected FPP ~2*4/2^16 ≈ 0.012% — allow 100x slack
    assert fp / len(fresh) < 0.02


def test_incremental_merge_equals_oneshot(spark):
    a = [_mk(i) for i in range(0, 200)]
    b = [_mk(i) for i in range(200, 400)]
    inc = cuckoo.merge_state(
        _state(spark, a), cuckoo.delta_state(_urls(spark, b), NB, MB), MB
    )
    oneshot = _state(spark, a + b)
    cand = _urls(spark, [_mk(i) for i in range(0, 600)])
    got_inc = {r.url: r.maybe_seen for r in cuckoo.probe_state(cand, inc, NB).collect()}
    got_one = {r.url: r.maybe_seen for r in cuckoo.probe_state(cand, oneshot, NB).collect()}
    # both must cover all inserted keys; FP sets may differ only on fresh keys
    for i in range(400):
        assert got_inc[_mk(i)] and got_one[_mk(i)]


def test_union_of_two_filters(spark):
    """Same-geometry table⋈table merge (the defensive fold path)."""
    a, b = [_mk(i) for i in range(0, 150)], [_mk(i) for i in range(150, 300)]
    merged = cuckoo.merge_state(_state(spark, a), _state(spark, b), MB)
    probed = cuckoo.probe_state(_urls(spark, a + b), merged, NB).collect()
    assert all(r.maybe_seen for r in probed)


def test_geometry_mismatch_raises(spark):
    with pytest.raises(Exception, match="geometry mismatch"):
        cuckoo.merge_state(
            _state(spark, [_mk(1)], m_bits=MB),
            _state(spark, [_mk(2)], m_bits=MB * 2),
            MB * 2,
        ).collect()


def test_delete_urls(spark):
    seen = [_mk(i) for i in range(300)]
    dele = [_mk(i) for i in range(0, 60)]
    kept = [_mk(i) for i in range(60, 300)]
    state2 = cuckoo.delete_urls(_state(spark, seen), _urls(spark, dele), NB)
    # the no-false-negative contract must survive deletion for kept keys
    probed = cuckoo.probe_state(_urls(spark, kept), state2, NB).collect()
    assert all(r.maybe_seen for r in probed)
    # deleted keys read unseen again (modulo fingerprint collisions)
    gone = [r.maybe_seen for r in cuckoo.probe_state(_urls(spark, dele), state2, NB).collect()]
    assert sum(gone) <= 2, f"deletion left {sum(gone)}/{len(dele)} URLs 'seen'"
    # n_keys decremented
    total = state2.agg(F.sum("n_keys")).collect()[0][0]
    assert total == len(seen) - len(dele)


def test_overflow_stash_no_false_negatives(spark):
    # 4 slots x m=1 per generation minimum: force heavy stash use
    tiny = 1 << 7  # slots=8, m=2 -> capacity ~6/bucket; insert 50/bucket
    seen = [_mk(i) for i in range(400)]
    state = _state(spark, seen, m_bits=tiny)
    probed = cuckoo.probe_state(_urls(spark, seen), state, NB).collect()
    assert all(r.maybe_seen for r in probed)


def test_salted_buckets_agree(spark):
    # skew salting must keep build and probe sides aligned (no false negs)
    salt = {"h0.example": 4}
    seen = [_mk(i, 0) for i in range(300)]  # all on the salted host
    state = _state(spark, seen, salt=salt)
    probed = cuckoo.probe_state(_urls(spark, seen), state, NB, salt).collect()
    assert all(r.maybe_seen for r in probed)
    cand = [_mk(i, 0) for i in range(250, 500)]
    got = {
        r.url
        for r in cuckoo.prefilter_with_state(
            _urls(spark, cand), state, _urls(spark, seen), NB, salt
        ).collect()
    }
    assert got == {_mk(i, 0) for i in range(300, 500)}
