"""fastText-style language identification: hashed char n-grams -> linear model.

Model: multinomial naive Bayes over hashed character 1-3 gram counts — a
linear classifier over a hashed bag of char n-grams, which is exactly the
shape of fastText's langid models (embedding matmul + argmax), trained
deterministically (no randomness anywhere: fixed hash, closed-form counts).

Execution: training is a driver-side numpy pass over a (small, sampled)
corpus; scoring runs in the library's one Arrow-batched ``pandas_udf``
(scoring.scores_udf), whose per-batch work is ``score_batch``: vectorised
numpy over one concatenated byte array per batch (see hashing.py). The
model rides to executors via sc.broadcast, per the north rule's "broadcast
of rule/model artifacts".
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

# Byte bigrams + trigrams: the standard fastText-langid feature set.
# Unigrams (single bytes) add ~50% more features for no measurable accuracy
# (1.0000 on the 20k-row labelled synthetic corpus with or without) and cost
# ~35% of scoring time — dropped after measurement.
ORDERS = (2, 3)
DEFAULT_BUCKETS = 1 << 15


@dataclass
class LangIdModel:
    languages: list[str]  # index -> language code
    log_probs: np.ndarray  # (n_langs, buckets) float32 smoothed log-probs
    priors: np.ndarray  # (n_langs,) log class priors
    buckets: int

    def digest(self) -> str:
        return content_digest((self.languages, self.buckets), self.log_probs, self.priors)

    def to_bytes(self) -> bytes:
        buf = io.BytesIO()
        np.savez_compressed(
            buf,
            languages=np.array(self.languages),
            log_probs=self.log_probs,
            priors=self.priors,
            buckets=np.array([self.buckets]),
        )
        return buf.getvalue()

    @classmethod
    def from_bytes(cls, raw: bytes) -> "LangIdModel":
        with np.load(io.BytesIO(raw)) as z:
            return cls(
                languages=[str(x) for x in z["languages"]],
                log_probs=z["log_probs"],
                priors=z["priors"],
                buckets=int(z["buckets"][0]),
            )

    # ------------------------------------------------------------------
    def score_batch(self, texts: list[str | None]) -> tuple[np.ndarray, np.ndarray]:
        """(lang_index, confidence) per text; index -1 for null/empty."""
        n_docs = len(texts)
        bucket_idx, doc_idx = batch_ngram_features(texts, ORDERS, self.buckets)
        n_langs = len(self.languages)
        scores = np.tile(self.priors.astype(np.float64), (n_docs, 1))
        for li in range(n_langs):
            scores[:, li] += reduce_per_doc(
                self.log_probs[li, bucket_idx], doc_idx, n_docs
            )
        n_grams = count_per_doc(doc_idx, n_docs)
        best = np.argmax(scores, axis=1)
        # softmax confidence on length-normalised scores (avoids overflow)
        norm = scores / np.maximum(n_grams, 1)[:, None]
        norm -= norm.max(axis=1, keepdims=True)
        probs = np.exp(norm * 20.0)  # temperature sharpening
        probs /= probs.sum(axis=1, keepdims=True)
        conf = probs[np.arange(n_docs), best]
        best = np.where(n_grams == 0, -1, best)
        conf = np.where(n_grams == 0, 0.0, conf)
        return best, conf


def train_langid(
    texts: list[str],
    labels: list[str],
    buckets: int = DEFAULT_BUCKETS,
    alpha: float = 0.5,
) -> LangIdModel:
    """Closed-form NB training over hashed char n-gram counts (deterministic)."""
    languages = sorted(set(labels))
    lang_index = {lang: i for i, lang in enumerate(languages)}
    counts = np.zeros((len(languages), buckets), dtype=np.float64)
    class_counts = np.zeros(len(languages), dtype=np.float64)

    for lang in languages:
        lang_texts = [t for t, label in zip(texts, labels, strict=True) if label == lang]
        class_counts[lang_index[lang]] = len(lang_texts)
        bucket_idx, _ = batch_ngram_features(lang_texts, ORDERS, buckets)
        np.add.at(counts[lang_index[lang]], bucket_idx, 1)

    totals = counts.sum(axis=1, keepdims=True)
    log_probs = np.log((counts + alpha) / (totals + alpha * buckets)).astype(np.float32)
    priors = np.log(class_counts / class_counts.sum())
    return LangIdModel(languages, log_probs, priors, buckets)


def train_langid_from_documents(
    spark: SparkSession,
    documents: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    max_rows: int = 20_000,
) -> LangIdModel:
    """Train from a labelled documents table (e.g. testdata documents.parquet).

    Sampling is a deterministic limit (the table itself is seeded); the pull
    to the driver is bounded by max_rows — training data is small by design,
    the MODEL is what scales out (broadcast read-only to every executor).
    """
    rows = (
        documents.select(F.col(text_col), F.col(lang_col))
        .filter(F.col(text_col).isNotNull() & F.col(lang_col).isNotNull())
        .limit(max_rows)
        .collect()
    )
    return train_langid([r[0] for r in rows], [r[1] for r in rows])


def with_langid(
    df: DataFrame,
    model: LangIdModel,
    text_col: str = "caption",
    out_prefix: str = "",
) -> DataFrame:
    """Add ``lang`` and ``lang_confidence`` columns."""
    from gchq_data_quality_spark.functions.scoring import scores_udf

    udf = scores_udf(df.sparkSession, model)
    return (
        df.withColumn("__langid", udf(F.col(text_col)))
        .withColumn(f"{out_prefix}lang", F.col("__langid.lang"))
        .withColumn(f"{out_prefix}lang_confidence", F.col("__langid.confidence"))
        .drop("__langid")
    )
