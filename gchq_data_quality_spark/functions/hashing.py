"""Vectorised hashed character-n-gram features (numpy, no per-row Python).

Shared by the fastText-style language identifier and the KenLM-style
perplexity scorer. A batch of strings becomes ONE concatenated byte array;
n-gram bucket indices are computed with vectorised polynomial hashing over
the whole batch at once, with boundary masks preventing n-grams from
crossing document boundaries. ``np.add.reduceat`` folds per-n-gram scores
back to per-document totals.

Everything is deterministic: fixed multiplier polynomial hash, no seeds.
"""

from __future__ import annotations

import numpy as np

_MULT = np.uint64(1099511628211)  # FNV-ish multiplier


def encode_batch(texts: list[str | None]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Concatenate texts to one uint8 array.

    Returns (bytes, starts, lengths) where starts/lengths index each
    document's span; None/empty documents get length 0.
    """
    encoded = [t.encode("utf-8", "ignore") if isinstance(t, str) else b"" for t in texts]
    lengths = np.fromiter((len(b) for b in encoded), dtype=np.int64, count=len(encoded))
    starts = np.zeros(len(encoded), dtype=np.int64)
    np.cumsum(lengths[:-1], out=starts[1:])
    if lengths.sum() == 0:
        return np.empty(0, dtype=np.uint8), starts, lengths
    data = np.frombuffer(b"".join(encoded), dtype=np.uint8)
    return data, starts, lengths


def ngram_buckets(
    data: np.ndarray, n: int, buckets: int
) -> np.ndarray:
    """Bucket index of every byte n-gram of ``data`` (length len(data)-n+1).

    ``data`` may be uint8 or pre-widened uint64 — batch callers pass the
    uint64 copy ONCE instead of re-widening per order per position."""
    m = len(data) - n + 1
    if m <= 0:
        return np.empty(0, dtype=np.int64)
    if data.dtype != np.uint64:
        data = data.astype(np.uint64)
    h = np.zeros(m, dtype=np.uint64)
    for k in range(n):
        h = h * _MULT + data[k : k + m] + np.uint64(n * 7919)
    return (h % np.uint64(buckets)).astype(np.int64)


def valid_ngram_mask(starts: np.ndarray, lengths: np.ndarray, total: int, n: int) -> np.ndarray:
    """Boolean mask over the len(total)-n+1 n-gram positions that do NOT
    cross a document boundary."""
    m = total - n + 1
    if m <= 0:
        return np.empty(0, dtype=bool)
    mask = np.ones(m, dtype=bool)
    # positions within n-1 bytes before each document start are invalid
    for start in starts[1:]:
        lo = max(0, start - (n - 1))
        mask[lo : min(start, m)] = False
    return mask


def batch_ngram_features(
    texts: list[str | None], orders: tuple[int, ...], buckets: int
) -> tuple[np.ndarray, np.ndarray]:
    """All n-gram bucket indices for a batch, tagged with their document id.

    Returns (bucket_idx, doc_idx) — 1-D arrays of equal length covering every
    n in ``orders``.

    Profile-driven shape (measured 2-3x on scoring): the uint64 widening of
    the byte array happens ONCE per batch (not per order per position), the
    position->document map is ONE ``np.repeat`` shared by every order
    (replacing a per-order O(m log d) searchsorted), and unigrams skip the
    boundary mask entirely (every 1-gram is within its document).
    """
    data, starts, lengths = encode_batch(texts)
    total = len(data)
    data64 = data.astype(np.uint64)
    doc_of_byte = np.repeat(np.arange(len(texts), dtype=np.int64), lengths)
    all_buckets, all_docs = [], []
    for n in orders:
        idx = ngram_buckets(data64, n, buckets)
        if idx.size == 0:
            continue
        docs = doc_of_byte[: len(idx)]
        if n == 1:
            all_buckets.append(idx)
            all_docs.append(docs)
        else:
            mask = valid_ngram_mask(starts, lengths, total, n)
            all_buckets.append(idx[mask])
            all_docs.append(docs[mask])
    if not all_buckets:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    return np.concatenate(all_buckets), np.concatenate(all_docs)


def reduce_per_doc(values: np.ndarray, doc_idx: np.ndarray, n_docs: int) -> np.ndarray:
    """Sum ``values`` grouped by doc_idx -> array of length n_docs.

    np.bincount, not np.add.at — add.at's unbuffered fancy indexing is
    ~20x slower and dominated scoring profiles on large Arrow batches.
    """
    if len(values) == 0:
        return np.zeros(n_docs, dtype=np.float64)
    return np.bincount(doc_idx, weights=values, minlength=n_docs)


def count_per_doc(doc_idx: np.ndarray, n_docs: int) -> np.ndarray:
    if len(doc_idx) == 0:
        return np.zeros(n_docs, dtype=np.int64)
    return np.bincount(doc_idx, minlength=n_docs)


def content_digest(meta, *arrays: np.ndarray) -> str:
    """sha1 over ``repr(meta)`` and each array's dtype, shape and raw bytes:
    a model's identity without serialising it (``to_bytes`` compresses,
    tens of ms for the perplexity tables)."""
    import hashlib

    h = hashlib.sha1(repr(meta).encode())
    for a in arrays:
        a = np.ascontiguousarray(a)
        h.update(repr((a.dtype.str, a.shape)).encode())
        h.update(a.data)
    return h.hexdigest()
