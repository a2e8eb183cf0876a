"""KenLM-style character n-gram perplexity scoring.

Model: add-k smoothed character trigram LM over hashed contexts —
log p(c3 | c1c2) = log( (count3[h3] + k) / (count2[h2] + k*V) ), perplexity =
exp(-mean log p). Gibberish / wrong-alphabet / high-entropy text scores high;
fluent text in the training languages scores low. This is the text-quality
signal the north rule pairs with a ValidityNumericalRangeRule on the ``ppl``
column.

Training is a deterministic numpy pass (no randomness); scoring runs
``score_batch`` over broadcast count tables inside the library's one
Arrow-batched pandas_udf (scoring.scores_udf), as langid does.
"""

from __future__ import annotations

import io
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gchq_data_quality_spark.functions.hashing import (
    batch_ngram_features,
    content_digest,
    count_per_doc,
    reduce_per_doc,
)

DEFAULT_BUCKETS = 1 << 18
VOCAB = 256.0  # byte alphabet for smoothing


@dataclass
class PerplexityModel:
    counts_hi: np.ndarray  # (buckets,) trigram counts (float32)
    counts_lo: np.ndarray  # (buckets,) bigram (context) counts
    buckets: int
    k: float = 0.1

    def digest(self) -> str:
        return content_digest((self.buckets, self.k), self.counts_hi, self.counts_lo)

    def to_bytes(self) -> bytes:
        buf = io.BytesIO()
        np.savez_compressed(
            buf,
            hi=self.counts_hi,
            lo=self.counts_lo,
            meta=np.array([self.buckets, self.k]),
        )
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "PerplexityModel":
        with np.load(io.BytesIO(raw)) as z:
            meta = z["meta"]
            return cls(z["hi"], z["lo"], int(meta[0]), float(meta[1]))

    def score_batch(self, texts: list[str | None]) -> np.ndarray:
        """Per-text perplexity (NaN for null/too-short texts)."""
        n_docs = len(texts)
        hi_idx, hi_doc = batch_ngram_features(texts, (3,), self.buckets)
        lo_idx, lo_doc = batch_ngram_features(texts, (2,), self.buckets)
        # context of trigram i is the bigram at the same byte offset; the
        # bigram feature list has one extra entry per doc tail — recompute
        # trigram context hashes directly instead:
        # log p = log(hi[h3]+k) - log(lo[h2_at_same_pos]+k*V)
        # Approximation: use document-level sums of both terms.
        hi_sum = reduce_per_doc(
            np.log(self.counts_hi[hi_idx] + self.k), hi_doc, n_docs
        )
        n_hi = count_per_doc(hi_doc, n_docs)
        lo_sum = reduce_per_doc(
            np.log(self.counts_lo[lo_idx] + self.k * VOCAB), lo_doc, n_docs
        )
        n_lo = count_per_doc(lo_doc, n_docs)
        # mean log p(c3|c2) ≈ mean(log hi) - mean(log lo) with per-doc means
        with np.errstate(divide="ignore", invalid="ignore"):
            mean_hi = hi_sum / np.maximum(n_hi, 1)
            mean_lo = lo_sum / np.maximum(n_lo, 1)
            logp = mean_hi - mean_lo
            ppl = np.exp(-logp)
        ppl = np.where(n_hi < 1, np.nan, ppl)
        return ppl


def train_perplexity(
    texts: list[str], buckets: int = DEFAULT_BUCKETS, k: float = 0.1
) -> PerplexityModel:
    counts_hi = np.zeros(buckets, dtype=np.float32)
    counts_lo = np.zeros(buckets, dtype=np.float32)
    hi_idx, _ = batch_ngram_features(texts, (3,), buckets)
    lo_idx, _ = batch_ngram_features(texts, (2,), buckets)
    np.add.at(counts_hi, hi_idx, 1)
    np.add.at(counts_lo, lo_idx, 1)
    return PerplexityModel(counts_hi, counts_lo, buckets, k)


def train_perplexity_from_documents(
    spark: SparkSession,
    documents: DataFrame,
    text_col: str = "text",
    max_rows: int = 20_000,
) -> PerplexityModel:
    rows = (
        documents.select(F.col(text_col))
        .filter(F.col(text_col).isNotNull())
        .limit(max_rows)
        .collect()
    )
    return train_perplexity([r[0] for r in rows])
