"""Persisted Bloom seen-filter: zero false negatives, bounded false
positives, treeAggregate build merge, and bloom-vs-exact admission
equality."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from twawler_spark.hashing import np_stream64
from twawler_spark.operators.admission import admit
from twawler_spark.operators.seen_filter import (
    BroadcastBloom,
    _bits_set,
    _bits_test,
    _build_bits,
    _positions,
)


def _keys_df(spark, lo, hi, name="url_hash"):
    return spark.range(lo, hi).select(
        F.xxhash64(F.col("id").cast("string")).alias(name)
    )


def test_broadcast_bloom_no_false_negatives_and_update(spark, tmp_path):
    seen = _keys_df(spark, 0, 10_000)
    b = BroadcastBloom.build(seen, n_keys=10_000)
    assert b.probe(seen).where(~F.col("maybe_seen")).count() == 0
    # incremental delta update must equal a fresh build over the union,
    # bit for bit (same m/k because same capacity)
    b.update(_keys_df(spark, 10_000, 12_000), n_delta=2_000)
    full = BroadcastBloom.build(
        _keys_df(spark, 0, 12_000), n_keys=12_000, capacity=b.capacity
    )
    assert b.m_bits == full.m_bits and b.k_hashes == full.k_hashes
    assert (b.bits == full.bits).all()
    assert b.n_keys == 12_000 and not b.needs_rebuild
    # atomic persist round-trip
    p = str(tmp_path / "bloom" / "r0")
    b.save(p)
    b2 = BroadcastBloom.load(p)
    assert (b2.bits == b.bits).all() and b2.k_hashes == b.k_hashes
    assert b2.probe(seen).where(~F.col("maybe_seen")).count() == 0


def test_broadcast_bloom_admission_equals_exact(spark):
    seen = _keys_df(spark, 0, 5_000)
    cands = _keys_df(spark, 2_500, 10_000)
    bloom = BroadcastBloom.build(seen, n_keys=5_000)
    with_bloom = {r["url_hash"] for r in admit(cands, seen, bloom).collect()}
    exact = {r["url_hash"] for r in admit(cands, seen, None).collect()}
    assert with_bloom == exact
    assert len(exact) == 5_000


def test_broadcast_bloom_fpp_bounded(spark):
    seen = _keys_df(spark, 0, 20_000)
    other = _keys_df(spark, 100_000, 120_000)
    bloom = BroadcastBloom.build(seen, n_keys=20_000, fpp=0.01)
    fp = bloom.probe(other).where(F.col("maybe_seen")).count()
    assert fp / 20_000 < 0.03


def test_merge_global_treeaggregate(spark):
    seen = _keys_df(spark, 0, 8_000)
    m, k = 1 << 17, 5
    bits = _build_bits(seen, "url_hash", 8, m, k)
    keys = np.array(
        [r["url_hash"] for r in seen.collect()], dtype=np.int64
    )
    # the per-bucket tree-OR equals one single-pass bit set over all keys
    single = np.zeros(m // 8, dtype=np.uint8)
    _bits_set(single, _positions(keys, m, k))
    assert (bits == single).all()
    assert _bits_test(bits, _positions(keys, m, k)).all()
    fresh = np.array(
        [r["url_hash"] for r in _keys_df(spark, 50_000, 52_000).collect()],
        dtype=np.int64,
    )
    fp = _bits_test(bits, _positions(fresh, m, k)).mean()
    assert fp < 0.2


def test_broadcast_bloom_overflow_rebuild(spark):
    """needs_rebuild flips when n_keys outgrows capacity; a 4x rebuild
    restores the fpp contract (run_round's amortized-growth path)."""
    seen = _keys_df(spark, 0, 1_000)
    b = BroadcastBloom.build(seen, n_keys=1_000, capacity=66_000)
    b.update(_keys_df(spark, 1_000, 68_000), n_delta=67_000)
    assert b.needs_rebuild
    rebuilt = BroadcastBloom.build(
        _keys_df(spark, 0, 68_000), n_keys=68_000, capacity=4 * b.n_keys
    )
    assert not rebuilt.needs_rebuild
    assert rebuilt.m_bits > b.m_bits
    assert rebuilt.probe(_keys_df(spark, 0, 68_000)).where(
        ~F.col("maybe_seen")
    ).count() == 0
    other = _keys_df(spark, 500_000, 520_000)
    fp = rebuilt.probe(other).where(F.col("maybe_seen")).count()
    assert fp / 20_000 < 0.03
