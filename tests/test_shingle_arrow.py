"""Pins the shingle kernel (shingle_arrow.py), the one engine behind every
LSH text query, to an independent plain-Python reference: Spark normalises
the text (`regexp_replace(lower(text), '\\s+', ' ')`), Python takes the
distinct first-occurrence code-point k-grams, Spark's own `xxhash64`
hashes them, and the minhash signature and simhash fingerprint follow the
textbook definitions. The edge corpus covers NULLs, empties, shorter-than-k
docs, unicode (multi-byte UTF-8 breaks the byte-window fast path),
whitespace runs and the bottom-k simhash sketch boundary. The pair sets of
the three public LSH queries are pinned by goldens on sf0.001."""

from __future__ import annotations

import hashlib
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from __spark_entry__ import SF_DEFAULT
from gchq_data_quality_spark.functions import dedup as D
from gchq_data_quality_spark.functions.shingle_arrow import (
    _SIMHASH_CAP,
    _batch_shingle_hashes,
    _doc_chunks,
    _family_coeffs,
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


def _reference(df, k, n_hashes, sample):
    """{doc_id: (sh, sig, sim)} computed without the kernel."""
    norms = [
        (r[0], r[1])
        for r in df.select(
            "doc_id", F.regexp_replace(F.lower("text"), r"\s+", " ")
        ).collect()
    ]
    grams = {}
    for doc_id, norm in norms:
        if norm is not None:
            n = len(norm) - k + 1
            grams[doc_id] = list(
                dict.fromkeys(norm[i : i + k] for i in range(n)) if n > 0 else [norm]
            )
    distinct = sorted({g for gs in grams.values() for g in gs})
    hashed = df.sparkSession.createDataFrame(pd.DataFrame({"g": distinct}), "g string")
    hash_of = {
        r[0]: r[1] for r in hashed.select("g", F.xxhash64("g")).collect()
    }
    a, b = (np.array(c, dtype=np.uint64) for c in zip(*_family_coeffs(n_hashes)))
    cap = _SIMHASH_CAP if sample is None else min(sample, _SIMHASH_CAP)
    out = {}
    for doc_id, _ in norms:
        sh = [hash_of[g] for g in grams[doc_id]] if doc_id in grams else [42]
        h = np.array(sh, dtype=np.int64)
        low = h.view(np.uint64) & np.uint64(0xFFFFFFFF)
        sig = ((a[:, None] * low[None, :] + b[:, None]) % np.uint64(2**31 - 1)).min(1)
        voters = np.sort(h)[:cap] if sample is not None else h[:cap]
        bits = (voters.view(np.uint64)[:, None] >> np.arange(64, dtype=np.uint64)) & 1
        fp = int(sum(1 << i for i, c in enumerate(bits.sum(0)) if 2 * c > len(voters)))
        out[doc_id] = (sh, sig.astype(np.int64).tolist(), fp - (fp >> 63 << 64))
    return out


def _compare(df, k, n_hashes, sample):
    ref = _reference(df, k, n_hashes, sample)
    got = {
        r["id"]: (r["sh"], r["sig"], r["sim"])
        for r in shingle_frame(
            df, "text", "doc_id", k, want_sh=True, n_hashes=n_hashes,
            simhash_sample=sample,
        ).collect()
    }
    assert set(got) == set(ref)
    for i, (sh, sig, sim) in ref.items():
        assert got[i][0] == sh, f"sh mismatch doc {i}"
        assert got[i][1] == sig, f"sig mismatch doc {i}"
        assert got[i][2] == sim, f"sim mismatch doc {i}"


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


# (count, sha256 of repr(sorted row tuples)) on sf0.001 documents, recorded
# at commit 121a259, the last tree with a second, pure-JVM shingle engine,
# after its test that both engines return identical rows on these three
# queries had passed there.
PAIR_GOLDENS = {
    "minhash_candidates": (
        299, "fef5a3d19055c913620eb8df40191f499e0bc2225da7dd11681dd59542520cef"
    ),
    "simhash_pairs": (
        309, "be090b43f796684c499af56dd9ed925e5c33d2e47a8ee60c6bf5bbf124eb09a0"
    ),
    "ngram_jaccard": (
        28, "62a615ad8007fdc54001b58f33275dacbd063ad7ec28fe4e96373ef18585daf4"
    ),
}


def test_pair_queries_match_goldens(spark):
    """The pair sets of the three public LSH entry points. Only the verified
    Jaccard pairs also have a DuckDB oracle (lsh_verified_pairs); the
    candidate and simhash pair sets are pinned here alone."""
    docs = spark.read.parquet(str(Path(SF_DEFAULT) / "documents.parquet"))
    queries = {
        "minhash_candidates": D.minhash_candidate_pairs(docs, "text", "doc_id"),
        "simhash_pairs": D.simhash_dedup_pairs(docs, "text", "doc_id", max_hamming=8),
        "ngram_jaccard": D.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7),
    }
    for name, df in queries.items():
        rows = sorted(tuple(r) for r in df.collect())
        digest = hashlib.sha256(repr(rows).encode()).hexdigest()
        assert (len(rows), digest) == PAIR_GOLDENS[name], name


def test_chunking_is_size_invariant():
    """The doc-aligned chunking of the vectorized folds (which bounds the
    widened temporaries for any Arrow batch size) must not change results."""
    rng = np.random.default_rng(0)
    # ~150k shingle rows, so the production chunk size splits them too
    counts = rng.integers(1, 50, size=6000).astype(np.int64)
    values = rng.integers(-2**63, 2**63, size=int(counts.sum()), dtype=np.int64)
    coeffs = _family_coeffs(16)
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
