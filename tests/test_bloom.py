"""Bloom filter: Spark-build / numpy-probe agreement, sizing, and the
incremental-dedup history prefilter.

The load-bearing property is cross-engine position identity: the build
sets bits at Column-arithmetic positions, the probe tests bits at
numpy-arithmetic positions — if they ever diverge the filter silently
develops FALSE NEGATIVES (dropped true duplicates). Pinned here by a
randomized differential over the full int64 range, plus the classic
no-false-negative / bounded-fpp checks and an end-to-end equivalence of
exact_dedup_incremental with and without the prefilter.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from gchq_data_quality_spark.functions.bloom import (
    PyBloom,
    _optimal_params,
    _position_coeffs,
    _positions_spark,
    bloom_prefilter,
    build_bloom,
)


def test_positions_spark_numpy_identical(spark):
    """Bit positions computed by Column arithmetic == numpy arithmetic,
    across the full signed-64 range (negative fingerprints included)."""
    rng = np.random.default_rng(7)
    vals = np.concatenate(
        [
            rng.integers(-(2**63), 2**63 - 1, 500, dtype=np.int64),
            np.array([0, -1, 1, 2**63 - 1, -(2**63)], dtype=np.int64),
        ]
    )
    m_bits, k = 1 << 14, 7
    coeffs = _position_coeffs(k, seed=99)
    df = spark.createDataFrame([(int(v),) for v in vals], "v long")
    spark_pos = df.select(
        "v",
        *[
            p.alias(f"p{j}")
            for j, p in enumerate(_positions_spark(F.col("v"), coeffs, m_bits))
        ],
    ).collect()
    bloom = PyBloom(
        m_bits=m_bits,
        seed=99,
        coeffs=coeffs,
        words=np.zeros(m_bits // 64, dtype=np.uint64),
    )
    by_val = {r.v: [r[f"p{j}"] for j in range(k)] for r in spark_pos}
    np_pos = bloom._positions_np(vals)
    for i, v in enumerate(vals):
        assert by_val[int(v)] == list(np_pos[:, i]), int(v)


def test_build_no_false_negatives_and_bounded_fpp(spark):
    rng = np.random.default_rng(11)
    present = rng.integers(-(2**62), 2**62, 5000, dtype=np.int64)
    present = np.unique(present)
    df = spark.createDataFrame([(int(v),) for v in present], "fp long")
    bloom = build_bloom(df, "fp", fpp=0.01)
    assert bloom.might_contain(present).all()  # NEVER a false negative
    absent = rng.integers(-(2**62), 2**62, 20000, dtype=np.int64)
    absent = np.setdiff1d(absent, present)
    measured = bloom.might_contain(absent).mean()
    assert measured < 0.03  # 3x the 1% target leaves randomness headroom
    assert 0 < bloom.n_set_bits <= bloom.m_bits


def test_serialization_roundtrip(spark):
    df = spark.range(0, 300).selectExpr("xxhash64(id) as fp")
    bloom = build_bloom(df, "fp", fpp=0.05, seed=3)
    back = PyBloom.from_bytes(bloom.to_bytes())
    assert back.m_bits == bloom.m_bits
    assert back.coeffs == bloom.coeffs
    assert np.array_equal(back.words, bloom.words)
    vals = np.array([r.fp for r in df.collect()], dtype=np.int64)
    assert np.array_equal(back.might_contain(vals), bloom.might_contain(vals))


def test_bloom_prefilter_semantics(spark):
    hist = spark.range(0, 200).selectExpr("xxhash64(id) as fp")
    bloom = build_bloom(hist, "fp", fpp=0.01)
    probe = spark.createDataFrame(
        [(int(r.fp),) for r in hist.limit(50).collect()]
        + [(999_999_999_999 + i,) for i in range(50)]
        + [(None,)],
        "fp long",
    )
    maybe = bloom_prefilter(probe, "fp", bloom, keep="maybe")
    absent = bloom_prefilter(probe, "fp", bloom, keep="absent")
    n_maybe, n_absent = maybe.count(), absent.count()
    assert n_maybe >= 50  # every true member kept (+ possible false pos)
    assert n_maybe + n_absent == 100  # NULL dropped from both sides
    with pytest.raises(ValueError):
        bloom_prefilter(probe, "fp", bloom, keep="banana")


def test_incremental_dedup_bloom_prefilter_equivalence(spark):
    """Survivors with the history bloom prefilter == without it — the
    bloom only shrinks the history side, never the answer."""
    from gchq_data_quality_spark.functions.dedup import (
        exact_dedup_incremental,
        fingerprints,
    )

    batch1 = spark.createDataFrame(
        [(i, f"doc {i % 40}") for i in range(100)], "id long, text string"
    )
    hist = fingerprints(batch1, "text")
    batch2 = spark.createDataFrame(
        [(200 + i, f"doc {i % 60}") for i in range(120)]
        + [(400, None), (401, None)],
        "id long, text string",
    )
    plain = exact_dedup_incremental(batch2, hist, "text", "id")
    with_bloom = exact_dedup_incremental(
        batch2, hist, "text", "id", history_bloom_fpp=0.01
    )
    assert sorted(r.id for r in plain.collect()) == sorted(
        r.id for r in with_bloom.collect()
    )
    # docs 40..59 are new (20 survivors) + 2 null-text rows ride through
    assert with_bloom.count() == 22


def test_optimal_params_shape():
    m, k = _optimal_params(1000, 0.01)
    assert m % 64 == 0 and m >= 9000  # ~9.6 bits/key at 1%
    assert 5 <= k <= 10
    with pytest.raises(ValueError):
        _optimal_params(0, 0.01)
    with pytest.raises(ValueError):
        _optimal_params(10, 1.5)


def test_bloom_prefilter_broadcast_reused_per_digest(spark):
    """ADVICE r5: repeated prefilters with the same bloom must reuse ONE
    broadcast (keyed per application+digest), not leak a fresh one per call."""
    from gchq_data_quality_spark.functions import bloom as bloom_mod

    df = spark.createDataFrame([(i,) for i in range(50)], "v long")
    bf = build_bloom(df, "v", expected_items=50, fpp=0.01)
    bloom_mod._BCAST_CACHE.entries.clear()
    a = bloom_prefilter(df, "v", bf)
    b = bloom_prefilter(df, "v", bf)
    assert a.count() == 50 and b.count() == 50
    assert len(bloom_mod._BCAST_CACHE.entries) == 1


def test_bloom_broadcast_cache_evicts_oldest_and_scopes_to_application(spark, monkeypatch):
    """Past its cap the cache unpersists the OLDEST broadcast (FIFO, not
    popitem's newest), and a new application id misses instead of serving
    a broadcast of a stopped context."""
    from pyspark import Broadcast, SparkContext

    from gchq_data_quality_spark.functions import bloom as bloom_mod

    cache = bloom_mod._BCAST_CACHE
    unpersisted = []
    real_unpersist = Broadcast.unpersist

    def spy(self, blocking=False):
        unpersisted.append(self)
        return real_unpersist(self, blocking)

    monkeypatch.setattr(Broadcast, "unpersist", spy)
    df = spark.createDataFrame([(i,) for i in range(50)], "v long")
    cache.entries.clear()
    blooms = [build_bloom(df, "v", expected_items=100 * (n + 1), fpp=0.01) for n in range(cache.cap + 1)]
    for bf in blooms[: cache.cap]:
        assert bloom_prefilter(df, "v", bf).count() == 50
    assert len(cache.entries) == cache.cap
    first_key, oldest = next(iter(cache.entries.items()))
    assert bloom_prefilter(df, "v", blooms[cache.cap]).count() == 50
    assert unpersisted == [oldest]
    assert first_key not in cache.entries and len(cache.entries) == cache.cap

    key, stale = next(iter(cache.entries.items()))  # blooms[1], now the oldest
    monkeypatch.setattr(SparkContext, "applicationId", property(lambda sc: "another-app"))
    assert bloom_prefilter(df, "v", blooms[1]).count() == 50
    assert list(cache.entries) == [key]
    assert cache.entries[key] is not stale
    assert unpersisted == [oldest]  # stale entries are dropped, not released
