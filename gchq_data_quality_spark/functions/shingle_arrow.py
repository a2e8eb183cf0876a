"""Arrow-vectorized shingle hashing + minhash/simhash folds: the one engine
behind every LSH text query (minhash_signatures, minhash_candidate_pairs,
ngram_jaccard_pairs, minhash_dedup, simhash_dedup_pairs).

Spark's higher-order functions do not participate in whole-stage codegen,
so a per-shingle fold written as native expressions pays interpreted
expression dispatch on every element (~10 us/element measured on a 4-vCPU
host; the JVM formulation ran the LSH queries ~2x slower). This module
instead makes one `mapInArrow` crossing per batch (optimization guide
§4.2: hand whole batches to vectorized native code): the JVM computes the
normalization (`lower` + `\\s+` collapse — keeping Spark's exact string
semantics), the Python side computes sliding-window shingle hashes, the
minhash signature and/or the simhash fingerprint with numpy over the Arrow
buffers, and the band/rotation bucket derivation stays native on the
RETURNED materialized columns (`xxhash64(concat_ws)` over `sig`, rotations
of `sim`).

Exactness contract, pinned by tests/test_shingle_arrow.py against an
independent plain-Python reference (normalisation and shingle hashes from
Spark's own `regexp_replace`/`lower`/`xxhash64`) and by the sf0.001 pair-set
goldens of the three LSH queries:
 * shingles are distinct character-k-grams of the normalized text in
   first-occurrence order (`array_distinct` semantics), with the whole
   normalized string as the single shingle when it is shorter than k and
   `[42]` (= xxhash64 seed) for NULL text;
 * shingle hashes are Spark's `xxhash64` (XXH64, seed 42, UTF-8 bytes) —
   reimplemented here, vectorized for the ASCII fast path (where byte
   windows == character windows) and scalar for non-ASCII / short / null
   documents;
 * the minhash signature is min over shingles of
   ``(a_i * (h & 0xFFFFFFFF) + b_i) mod (2^31 - 1)`` with `_family_coeffs`;
 * the simhash fingerprint is a strict-majority bit vote over the first
   `_SIMHASH_CAP` hashes, or over the bottom-`sample` hashes in ascending
   signed order (a consistent sketch) when `sample` is set.

Scale shape: one extra JVM->Python->JVM crossing per row carrying the
normalized text in and the hashed-shingle array / signature out. The
crossing is Arrow-columnar and the per-batch work is numpy: one stable
sort of a packed (doc, window) key for the distinct step, then one
chunk-sized vector per minhash family. Each crossing costs a Python pass,
so a caller that reads the output more than once materialises it first:
ngram_jaccard_pairs checkpoints (id, sh, sig), shuffles only
(band, bucket, id) rows and joins ``sh`` back by id for the verify.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gchq_data_quality_spark.session_memo import SessionMemo

__all__ = ["shingle_frame", "band_bucket_structs"]

# XXH64 constants (public reference implementation)
_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)
_SEED = 42
_M64 = (1 << 64) - 1
_MERSENNE31 = np.uint64((1 << 31) - 1)
_XXH64_NULL = np.int64(42)  # Spark hash exprs return the seed for NULL input


def _splitmix64(x: int) -> int:
    """Deterministic 64-bit mixer (public splitmix64 constants) used to derive
    the per-family affine coefficients — no RNG state, same families every
    run on every executor."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _family_coeffs(n_hashes: int) -> list[tuple[int, int]]:
    """(a_i odd 31-bit, b_i 31-bit) universal-hash family coefficients for
    ``h_i(x) = (a_i * x + b_i) mod p`` with p = 2^31-1.

    The mod is load-bearing, not a formality: without it the affine map is
    MONOTONIC in x, so every family's min lands on the same argmin shingle
    and the "n_hashes independent permutations" collapse into one (signature
    agreement becomes 0-or-1 instead of ~Jaccard, and banding adds nothing).
    The mod makes each family a distinct pseudo-permutation — the classic
    universal-hashing minhash.

    Coefficients are bounded to 31 bits so ``a_i * (h & 0xFFFFFFFF) + b_i``
    stays below 2^63: the same arithmetic can never overflow a long in a
    JVM expression either (Spark 4 defaults to ANSI, where a wrapping
    multiply raises ARITHMETIC_OVERFLOW).
    """
    mask31 = (1 << 31) - 1
    return [
        ((_splitmix64(2 * i + 1) & mask31) | 1, _splitmix64(2 * i + 2) & mask31)
        for i in range(n_hashes)
    ]


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _avalanche(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _xxh64_scalar(data: bytes, seed: int = _SEED) -> int:
    """Reference XXH64 (any length) — the non-ASCII / short-doc path.
    Verified bit-identical to Spark's xxhash64 over UTF-8 bytes."""
    p1, p2, p3, p4, p5 = (int(_P1), int(_P2), int(_P3), int(_P4), int(_P5))

    def rotl(x: int, r: int) -> int:
        return ((x << r) | (x >> (64 - r))) & _M64

    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + p1 + p2) & _M64
        v2 = (seed + p2) & _M64
        v3 = seed
        v4 = (seed - p1) & _M64
        while i + 32 <= n:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                w = int.from_bytes(data[i + 8 * j : i + 8 * j + 8], "little")
                vs[j] = (rotl((vs[j] + w * p2) & _M64, 31) * p1) & _M64
            v1, v2, v3, v4 = vs
            i += 32
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h ^= (rotl((v * p2) & _M64, 31) * p1) & _M64
            h = (h * p1 + p4) & _M64
    else:
        h = (seed + p5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        w = int.from_bytes(data[i : i + 8], "little")
        h ^= (rotl((w * p2) & _M64, 31) * p1) & _M64
        h = (rotl(h, 27) * p1 + p4) & _M64
        i += 8
    while i + 4 <= n:
        w = int.from_bytes(data[i : i + 4], "little")
        h ^= (w * p1) & _M64
        h = (rotl(h, 23) * p2 + p3) & _M64
        i += 4
    while i < n:
        h ^= (data[i] * p5) & _M64
        h = (rotl(h, 11) * p1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * p2) & _M64
    h ^= h >> 29
    h = (h * p3) & _M64
    h ^= h >> 32
    return h


def _xxh64_fixed_k(data: np.ndarray, pos: np.ndarray, k: int) -> np.ndarray:
    """Vectorized XXH64 of the k-byte windows ``data[pos : pos+k]``.

    Specialized for k < 32 (no stripe loop); used with k = 3 or 5 in
    practice. ``data`` is uint8, returns uint64.
    """
    with np.errstate(over="ignore"):
        h = np.full(len(pos), np.uint64((_SEED + int(_P5) + k) & _M64))
        off = 0
        for _ in range(k // 8):
            w = np.zeros(len(pos), dtype=np.uint64)
            for j in range(8):
                w |= data[pos + off + j].astype(np.uint64) << np.uint64(8 * j)
            h ^= _rotl(w * _P2, 31) * _P1
            h = _rotl(h, 27) * _P1 + _P4
            off += 8
        if k - off >= 4:
            w = np.zeros(len(pos), dtype=np.uint64)
            for j in range(4):
                w |= data[pos + off + j].astype(np.uint64) << np.uint64(8 * j)
            h ^= w * _P1
            h = _rotl(h, 23) * _P2 + _P3
            off += 4
        for j in range(k - off):
            h ^= data[pos + off + j].astype(np.uint64) * _P5
            h = _rotl(h, 11) * _P1
        return _avalanche(h)


def _slow_doc_hashes(text: str | None, k: int) -> np.ndarray:
    """Exact per-document fallback (NULL / shorter-than-k / non-ASCII):
    distinct character k-grams in first-occurrence order, XXH64-hashed."""
    if text is None:
        return np.array([_XXH64_NULL], dtype=np.int64)
    if len(text) >= k:
        grams = dict.fromkeys(text[i : i + k] for i in range(len(text) - k + 1))
    else:
        grams = {text: None}
    vals = [_xxh64_scalar(g.encode("utf-8")) for g in grams]
    return np.array(vals, dtype=np.uint64).view(np.int64)


def _batch_shingle_hashes(
    col: pa.Array, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """(values int64, counts int64[n_docs]): distinct hashed k-gram shingles
    per document in first-occurrence order — array_distinct semantics over
    the character windows, hashes identical to Spark's xxhash64."""
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    n_docs = len(col)
    if n_docs == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64)
    if pa.types.is_large_string(col.type):
        col = col.cast(pa.string())
    buffers = col.buffers()
    off = np.frombuffer(buffers[1], dtype=np.int32)[
        col.offset : col.offset + n_docs + 1
    ].astype(np.int64)
    data = (
        np.frombuffer(buffers[2], dtype=np.uint8)
        if buffers[2] is not None
        else np.empty(0, dtype=np.uint8)
    )
    starts, ends = off[:-1], off[1:]
    blens = ends - starts

    nulls = np.zeros(n_docs, dtype=bool)
    if col.null_count:
        nulls = np.asarray(col.is_null())

    # ASCII check per doc: byte windows == char windows only when pure ASCII
    if len(data):
        hi = (data >= 128).astype(np.int64)
        csum = np.concatenate(([0], np.cumsum(hi)))
        has_non_ascii = (csum[ends] - csum[starts]) > 0
    else:
        has_non_ascii = np.zeros(n_docs, dtype=bool)

    fast = (~nulls) & (~has_non_ascii) & (blens >= k) & (k <= 8)
    slow_ids = np.nonzero(~fast)[0]

    counts = np.zeros(n_docs, dtype=np.int64)
    fast_ids = np.nonzero(fast)[0]
    fast_vals = np.empty(0, dtype=np.int64)
    if len(fast_ids):
        w = blens[fast_ids] - (k - 1)  # windows per fast doc
        total_w = int(w.sum())
        base = np.repeat(starts[fast_ids], w)
        w_off = np.concatenate(([0], np.cumsum(w)[:-1]))
        intra = np.arange(total_w, dtype=np.int64) - np.repeat(w_off, w)
        pos = base + intra
        doc_seq = np.repeat(np.arange(len(fast_ids), dtype=np.int64), w)
        # window identity packed into one uint64 (k <= 8): exact string
        # identity for the distinct step — no hash-collision ambiguity
        win = np.zeros(total_w, dtype=np.uint64)
        for j in range(k):
            win |= data[pos + j].astype(np.uint64) << np.uint64(8 * j)
        # pos ascends with the array index, so a STABLE sort on (doc, window)
        # leaves each group's first occurrence first. One packed uint64 key
        # sorts ~2x faster than a three-key lexsort; when doc bits + window
        # bits overflow 64 the lexsort stays.
        doc_bits = (len(fast_ids) - 1).bit_length()
        if 8 * k + doc_bits <= 64:
            key = (doc_seq.astype(np.uint64) << np.uint64(8 * k)) | win
            order = np.argsort(key, kind="stable")
            sk = key[order]
            dup = sk[1:] == sk[:-1]
        else:
            order = np.lexsort((pos, win, doc_seq))
            dup = (doc_seq[order][1:] == doc_seq[order][:-1]) & (
                win[order][1:] == win[order][:-1]
            )
        keep = np.ones(total_w, dtype=bool)
        keep[1:] = ~dup
        sel = np.sort(order[keep])  # first-occurrence order (doc-major)
        fast_vals = _xxh64_fixed_k(data, pos[sel], k).view(np.int64)
        counts[fast_ids] = np.bincount(
            doc_seq[sel], minlength=len(fast_ids)
        )

    slow_vals: list[np.ndarray] = []
    if len(slow_ids):
        for d in slow_ids:
            t = None if nulls[d] else col[int(d)].as_py()
            v = _slow_doc_hashes(t, k)
            counts[d] = len(v)
            slow_vals.append(v)

    if not len(slow_ids):
        return fast_vals, counts
    # interleave fast and slow docs back into document order
    out = np.empty(int(counts.sum()), dtype=np.int64)
    out_off = np.concatenate(([0], np.cumsum(counts)))
    if len(fast_ids):
        fc = counts[fast_ids]
        fsrc = np.concatenate(([0], np.cumsum(fc)[:-1]))
        dest = np.repeat(out_off[fast_ids] - fsrc, fc) + np.arange(
            int(fc.sum()), dtype=np.int64
        )
        out[dest] = fast_vals
    for d, v in zip(slow_ids, slow_vals):
        out[out_off[d] : out_off[d] + len(v)] = v
    return out, counts


# Bounds the per-chunk temporaries: one uint64 vector per minhash family
# fold (256 KB, cache-resident) and the (rows x 64) simhash bit matrix.
# Every core runs its own Python worker, so per-worker peak memory is
# multiplied by the core count, and _ensure_parallelism puts the kernel on
# every core.
_CHUNK_ROWS = 32_768


def _doc_chunks(counts: np.ndarray) -> Iterator[tuple[int, int, int, int]]:
    """Yield (doc_lo, doc_hi, row_lo, row_hi) slices aligned to document
    boundaries with ~_CHUNK_ROWS shingle rows each (a single larger doc gets
    its own chunk) — keeps per-batch temporaries bounded regardless of the
    session's Arrow batch size."""
    row_off = np.concatenate(([0], np.cumsum(counts)))
    d_lo = 0
    n_docs = len(counts)
    while d_lo < n_docs:
        d_hi = int(
            np.searchsorted(row_off, row_off[d_lo] + _CHUNK_ROWS, side="right") - 1
        )
        d_hi = max(d_hi, d_lo + 1)
        d_hi = min(d_hi, n_docs)
        yield d_lo, d_hi, int(row_off[d_lo]), int(row_off[d_hi])
        d_lo = d_hi


def _minhash_sig(
    values: np.ndarray, counts: np.ndarray, coeffs_a: np.ndarray, coeffs_b: np.ndarray
) -> np.ndarray:
    """(n_docs, n_hashes) int64 minhash signatures: min over shingles of
    (a*(h&0xFFFFFFFF)+b) mod p, one (a, b) pair of _family_coeffs per family.

    Folds one family at a time over a doc-aligned chunk, so the temporaries
    are chunk-sized vectors, never a (rows x families) matrix."""
    sig = np.empty((len(coeffs_a), len(counts)), dtype=np.uint64)
    h32_all = values.view(np.uint64) & np.uint64(0xFFFFFFFF)
    for d_lo, d_hi, r_lo, r_hi in _doc_chunks(counts):
        h32 = h32_all[r_lo:r_hi]
        buf = np.empty_like(h32)
        starts = np.concatenate(([0], np.cumsum(counts[d_lo:d_hi])[:-1]))
        for f, (a, b) in enumerate(zip(coeffs_a, coeffs_b)):
            # 31-bit a x 32-bit h + 31-bit b < 2^64: no uint64 wrap
            np.multiply(h32, a, out=buf)
            np.add(buf, b, out=buf)
            np.remainder(buf, _MERSENNE31, out=buf)
            sig[f, d_lo:d_hi] = np.minimum.reduceat(buf, starts)
    return np.ascontiguousarray(sig.T).view(np.int64)


def _simhash(
    values: np.ndarray, counts: np.ndarray, sample: int | None, cap: int
) -> np.ndarray:
    """int64[n_docs] simhash fingerprints: bottom-``sample`` consistent
    sketch by ascending signed hash when a doc exceeds the cap (else the
    first ``cap`` hashes in occurrence order), strict-majority bit vote."""
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    doc_idx = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    rank = np.arange(len(values), dtype=np.int64) - np.repeat(starts, counts)
    if sample is not None:
        # bottom-cap sketch by ascending SIGNED hash (== slice(array_sort));
        # docs at or under the cap keep everything (selection == identity,
        # and order is irrelevant to the bit counts)
        order = np.lexsort((values, doc_idx))
        sel = values[order][rank < cap]
    else:
        # slice(hs, 1, cap): first cap elements in occurrence order
        sel = values[rank < cap]
    sel_counts = np.minimum(counts, cap)
    out = np.empty(len(counts), dtype=np.uint64)
    for d_lo, d_hi, r_lo, r_hi in _doc_chunks(sel_counts):
        bits = np.unpackbits(
            sel[r_lo:r_hi].view(np.uint64).view(np.uint8).reshape(-1, 8),
            axis=1,
            bitorder="little",
        ).astype(np.int32)
        sel_starts = np.concatenate(
            ([0], np.cumsum(sel_counts[d_lo:d_hi])[:-1])
        )
        bit_counts = np.add.reduceat(bits, sel_starts, axis=0)
        majority = (
            bit_counts * 2 > sel_counts[d_lo:d_hi, None]
        ).astype(np.uint8)
        packed = np.packbits(majority, axis=1, bitorder="little")
        out[d_lo:d_hi] = packed.view(np.uint64).reshape(-1)
    return out.view(np.int64)


# At most this many shingle hashes vote on a simhash fingerprint (the first
# ones in occurrence order, or the bottom-k sketch when a smaller `sample`
# is set). The cap is part of the fingerprint DEFINITION, not an overflow
# guard: a document with more distinct shingles votes over this prefix
# only, so changing the value changes long documents' fingerprints and
# every stored simhash with them.
_SIMHASH_CAP = 32767


def shingle_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    want_sh: bool = False,
    n_hashes: int | None = None,
    simhash_sample: int | None | str = "unset",
) -> DataFrame:
    """(id, [sh], [sig], [sim]) via ONE Arrow crossing.

    ``want_sh``: carry the distinct hashed-shingle array (the exact-Jaccard
    verify payload). ``n_hashes``: also emit the minhash signature (length
    n_hashes). ``simhash_sample``: also emit the simhash fingerprint (pass
    None for the exact full-document fold, an int for the bottom-k sketch).

    The caller is responsible for parallelism (_ensure_parallelism); the
    normalization runs in the JVM (exact Spark semantics), everything after
    the crossing reads materialized columns.
    """
    want_sim = simhash_sample != "unset"
    sim_sample: int | None = simhash_sample if want_sim else None  # type: ignore[assignment]
    sim_cap = (
        _SIMHASH_CAP if sim_sample is None else min(sim_sample, _SIMHASH_CAP)
    )
    coeffs = _family_coeffs(n_hashes) if n_hashes else []
    coeffs_a = np.array([a for a, _ in coeffs], dtype=np.uint64)
    coeffs_b = np.array([b for _, b in coeffs], dtype=np.uint64)

    id_field = df.select(F.col(id_col).alias("id")).schema.fields[0]
    out_fields = [id_field]
    if want_sh:
        out_fields.append(T.StructField("sh", T.ArrayType(T.LongType())))
    if n_hashes:
        out_fields.append(T.StructField("sig", T.ArrayType(T.LongType())))
    if want_sim:
        out_fields.append(T.StructField("sim", T.LongType()))
    out_schema = T.StructType(out_fields)

    k_local = k
    n_hashes_local = n_hashes

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(batch.schema.get_field_index(id_field.name))
            texts = batch.column(batch.schema.get_field_index("__norm"))
            values, counts = _batch_shingle_hashes(texts, k_local)
            arrays: list[pa.Array] = [ids]
            names = [id_field.name]
            offsets = pa.array(
                np.concatenate(([0], np.cumsum(counts))), type=pa.int32()
            )
            if want_sh:
                arrays.append(
                    pa.ListArray.from_arrays(offsets, pa.array(values, pa.int64()))
                )
                names.append("sh")
            if n_hashes_local:
                sig = _minhash_sig(values, counts, coeffs_a, coeffs_b)
                sig_off = pa.array(
                    np.arange(len(counts) + 1, dtype=np.int64) * n_hashes_local,
                    type=pa.int32(),
                )
                arrays.append(
                    pa.ListArray.from_arrays(
                        sig_off, pa.array(sig.reshape(-1), pa.int64())
                    )
                )
                names.append("sig")
            if want_sim:
                sim = _simhash(values, counts, sim_sample, sim_cap)
                arrays.append(pa.array(sim, pa.int64()))
                names.append("sim")
            yield pa.RecordBatch.from_arrays(arrays, names=names)

    projected = df.select(
        F.col(id_col).alias(id_field.name),
        F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ").alias("__norm"),
    )
    return projected.mapInArrow(compute, out_schema)


# band-bucket trees per (column, n_hashes, bands): every Column op is a
# py4j round trip and this tree is ~50 of them
_BAND_STRUCTS = SessionMemo(cap=64)


def band_bucket_structs(sig: Column, n_hashes: int, bands: int) -> Column:
    """array<struct<band:int,bucket:long>> from a MATERIALIZED signature
    column: band b's bucket is xxhash64 of its rows_per_band signature
    values joined by "_". Memoised per application (session_memo)."""
    return _BAND_STRUCTS.get(
        SparkContext._active_spark_context,
        (sig._jc.toString(), n_hashes, bands),
        lambda: _band_structs_build(sig, n_hashes, bands),
    )


def _band_structs_build(sig: Column, n_hashes: int, bands: int) -> Column:
    rows_per_band = n_hashes // bands
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    F.concat_ws(
                        "_",
                        *[sig[b * rows_per_band + r] for r in range(rows_per_band)],
                    )
                ).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
