"""Differentials pinning the Arrow shingle engine (shingle_arrow.py) to the
native expressions it replaces: the r6 optimization moved the per-shingle
folds (character k-grams -> xxhash64 -> minhash families / simhash bit
votes) from interpreted JVM higher-order functions to one numpy-vectorized
mapInArrow crossing. These tests assert the outputs are BIT-IDENTICAL —
including NULLs, empties, shorter-than-k docs, unicode (multi-byte UTF-8
breaks the byte-window fast path), whitespace runs, and the bottom-k
simhash sketch boundary — so the swap can never silently change a dedup
decision."""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import SF_DEFAULT
from gchq_data_quality_spark.functions import dedup as D
from gchq_data_quality_spark.functions.shingle_arrow import (
    _batch_shingle_hashes,
    _doc_chunks,
    _minhash_sig,
    _simhash,
    shingle_frame,
)

EDGE_DOCS = [
    (0, None),
    (1, ""),
    (2, "a"),
    (3, "abcd"),
    (4, "abcde"),
    (5, "hello   world\t\twith \n whitespace   runs"),
    (6, "ÜPPER löwer ÄÖÜ straße"),
    (7, "日本語のテキストです。重複排除のテスト。"),
    (8, "emoji 🎉🎉🎉 and ASCII mixed"),
    (9, "nbsp and unicode whitespace here"),
    (10, "ΣΑΣ ΓΕΙΑ σας"),
    (11, "repeat " * 500),
    (12, "Mixed ascii then 中文 then ascii again padding padding"),
    (13, "İstanbul DİYARBAKIR ınce"),
    (14, "TAB\tSEP\tVALS\t1\t2\t3"),
    (15, "ab"),
    (16, "x" * 4),
    (17, "x" * 5),
    (18, "  leading and trailing  "),
    (19, "ascii only but quite long " * 100),
]


@pytest.fixture(scope="module")
def edge(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def _compare(df, k, n_hashes, sample):
    native = df.select(
        F.col("doc_id").alias("id"),
        D._hashed_shingles(F.col("text"), k).alias("sh"),
        D._minhash_signature(
            D._hashed_shingles(F.col("text"), k), n_hashes
        ).alias("sig"),
        D._simhash_fold(
            F.col("text"), k, D._assemble_simhash, sample=sample
        ).alias("sim"),
    )
    arrow = shingle_frame(
        df, "text", "doc_id", k, want_sh=True, n_hashes=n_hashes,
        simhash_sample=sample,
    )
    nat = {r["id"]: r for r in native.collect()}
    arr = {r["id"]: r for r in arrow.collect()}
    assert set(nat) == set(arr)
    for i in nat:
        assert nat[i]["sh"] == arr[i]["sh"], f"sh mismatch doc {i}"
        assert nat[i]["sig"] == arr[i]["sig"], f"sig mismatch doc {i}"
        assert nat[i]["sim"] == arr[i]["sim"], f"sim mismatch doc {i}"


def test_edge_corpus_k5(spark, edge):
    _compare(edge, 5, 32, None)


def test_edge_corpus_k3_sampled(spark, edge):
    _compare(edge, 3, 8, 192)


def test_edge_corpus_k3_exact(spark, edge):
    _compare(edge, 3, 8, None)


def test_edge_corpus_k3_tiny_sample(spark, edge):
    # sample smaller than most docs: exercises the bottom-k sort selection
    _compare(edge, 3, 8, 2)


@pytest.mark.parametrize("k", [7, 8])
def test_edge_corpus_wide_windows(spark, edge, k):
    # at k=8 the 64 window bits leave no room for a doc index, so the
    # distinct step takes the three-key lexsort instead of the packed key
    _compare(edge, k, 8, 192)


def test_testdata_corpus(spark):
    for sf in ("sf0.001", "sf0.01"):
        path = Path(SF_DEFAULT).parent / sf / "documents.parquet"
        docs = spark.read.parquet(str(path))
        _compare(docs, 5, 32, None)
        _compare(docs, 3, 8, 192)
        # 500 docs in one batch: 8*7 + 9 doc bits > 64, the lexsort branch
        _compare(docs, 7, 8, None)


def test_pair_queries_identical_to_native(spark, monkeypatch):
    """The three public LSH entry points must return identical rows under
    both engines (the native path stays selectable for UDF-constrained
    clusters via SPARK_GRAFT_NATIVE_SHINGLES=1)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    for fn in (
        lambda: D.minhash_candidate_pairs(docs, "text", "doc_id"),
        lambda: D.simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=8),
        lambda: D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7),
    ):
        monkeypatch.delenv("SPARK_GRAFT_NATIVE_SHINGLES", raising=False)
        arrow_rows = rows(fn())
        monkeypatch.setenv("SPARK_GRAFT_NATIVE_SHINGLES", "1")
        native_rows = rows(fn())
        assert arrow_rows == native_rows


def test_chunking_is_size_invariant():
    """The doc-aligned chunking of the vectorized folds (which bounds the
    widened temporaries for any Arrow batch size) must not change results."""
    rng = np.random.default_rng(0)
    # ~150k shingle rows, so the production chunk size splits them too
    counts = rng.integers(1, 50, size=6000).astype(np.int64)
    values = rng.integers(-2**63, 2**63, size=int(counts.sum()), dtype=np.int64)
    coeffs = D._family_coeffs(16)
    a = np.array([c for c, _ in coeffs], dtype=np.uint64)
    b = np.array([c for _, c in coeffs], dtype=np.uint64)
    ref_sig = _minhash_sig(values, counts, a, b)
    ref_sim = _simhash(values, counts, 16, 16)

    import gchq_data_quality_spark.functions.shingle_arrow as sa

    old = sa._CHUNK_ROWS
    try:
        for chunk in (1, 7, 64, old):
            sa._CHUNK_ROWS = chunk
            assert np.array_equal(_minhash_sig(values, counts, a, b), ref_sig)
            assert np.array_equal(_simhash(values, counts, 16, 16), ref_sim)
            assert sum(hi - lo for _, _, lo, hi in _doc_chunks(counts)) == len(
                values
            )
    finally:
        sa._CHUNK_ROWS = old


def test_batch_hashes_invariant_to_batch_split():
    """One Arrow batch of 20k docs must hash exactly like the same docs in
    100-doc slices. At k=7 the whole batch needs 15 doc-index bits, so it
    takes the lexsort branch while each slice packs its key into one
    uint64; slicing also exercises the array offset. NULL, short and
    non-ASCII docs take the scalar path and are interleaved back."""
    rng = np.random.default_rng(1)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    docs: list[str | None] = [
        " ".join(rng.choice(words, size=int(rng.integers(1, 12))))
        for _ in range(20_000)
    ]
    for i in range(0, len(docs), 997):
        docs[i] = None
    for i in range(5, len(docs), 1009):
        docs[i] = "straße " + str(docs[i - 1])
    col = pa.array(docs, pa.string())
    for k in (5, 7):
        values, counts = _batch_shingle_hashes(col, k)
        parts = [
            _batch_shingle_hashes(col.slice(lo, 100), k)
            for lo in range(0, len(docs), 100)
        ]
        assert np.array_equal(counts, np.concatenate([c for _, c in parts]))
        assert np.array_equal(values, np.concatenate([v for v, _ in parts]))
