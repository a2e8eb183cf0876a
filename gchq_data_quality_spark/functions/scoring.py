"""Fused model scoring: langid + perplexity in ONE Arrow round-trip.

Two separate pandas UDFs mean two ArrowEvalPython nodes — the caption column
crosses the JVM<->Python boundary twice and each task drives two Python
worker pipelines. Measured on local[32] this halved scaling efficiency
(components alone: 0.9; stacked UDFs: ~0.3). Fusing both models into one
UDF ships the text once and returns a single struct column. The models do
not share the per-batch byte-encoding pass: each ``batch_ngram_features``
call runs ``hashing.encode_batch`` again (three per batch: langid once,
perplexity twice), about 2% of the kernel.

Both models ride ONE broadcast per application, keyed by their digests
(session_memo.MODEL_BROADCASTS): building the UDF again, once per annotate
call or job batch, reuses it instead of leaking a fresh broadcast each time.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gchq_data_quality_spark.functions.langid import LangIdModel
from gchq_data_quality_spark.functions.perplexity import PerplexityModel
from gchq_data_quality_spark.session_memo import MODEL_BROADCASTS

_CACHE: dict[str, tuple[LangIdModel, PerplexityModel]] = {}


def _decode(digest: str, payload) -> tuple[LangIdModel, PerplexityModel]:
    models = _CACHE.get(digest)
    if models is None:
        lid_raw, ppl_raw = payload.value
        models = (LangIdModel.from_bytes(lid_raw), PerplexityModel.from_bytes(ppl_raw))
        _CACHE.clear()
        _CACHE[digest] = models
    return models


SCORES_SCHEMA = T.StructType(
    [
        T.StructField("lang", T.StringType()),
        T.StructField("confidence", T.DoubleType()),
        T.StructField("ppl", T.DoubleType()),
    ]
)


def scores_udf(spark: SparkSession, langid_model: LangIdModel, ppl_model: PerplexityModel):
    sc = spark.sparkContext
    digest = langid_model.digest() + ppl_model.digest()
    payload = MODEL_BROADCASTS.get(
        sc,
        ("scores", digest),
        lambda: sc.broadcast((langid_model.to_bytes(), ppl_model.to_bytes())),
    )

    @F.pandas_udf(SCORES_SCHEMA)
    def _scores(texts: pd.Series) -> pd.DataFrame:
        lid, ppl = _decode(digest, payload)
        batch = texts.tolist()
        best, conf = lid.score_batch(batch)
        ppl_values = ppl.score_batch(batch)
        langs = [lid.languages[i] if i >= 0 else None for i in best]
        return pd.DataFrame({"lang": langs, "confidence": conf, "ppl": ppl_values})

    return _scores
