"""Model scoring: langid + perplexity in ONE Arrow round-trip.

The one scoring UDF of the library: ``scores_udf`` scores whichever of the
two models it is given and returns one struct column of their fields.
Two separate pandas UDFs mean two ArrowEvalPython nodes — the caption column
crosses the JVM<->Python boundary twice and each task drives two Python
worker pipelines. Measured on local[32] this halved scaling efficiency
(components alone: 0.9; stacked UDFs: ~0.3). Fusing both models into one
UDF ships the text once and returns a single struct column. The models do
not share the per-batch byte-encoding pass: each ``batch_ngram_features``
call runs ``hashing.encode_batch`` again (three per batch: langid once,
perplexity twice), about 2% of the kernel.

The models ride ONE broadcast per application, keyed by their digests
(session_memo.MODEL_BROADCASTS): building the UDF again, once per annotate
call or job batch, reuses it instead of leaking a fresh broadcast each time.
``pandas_udf`` (not ``arrow_udf``) on purpose: its pandas -> Arrow step
turns perplexity's NaN (null or too-short text) into NULL.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gchq_data_quality_spark.functions.langid import LangIdModel
from gchq_data_quality_spark.functions.perplexity import PerplexityModel
from gchq_data_quality_spark.session_memo import MODEL_BROADCASTS

# Per-worker-process decode cache: the payload is decoded ONCE per Python
# worker, not per task/batch. Keyed by a digest computed on the driver
# (broadcast objects are deserialized fresh per task, so object identity
# can't be the key).
_CACHE: dict[str, tuple[LangIdModel | None, PerplexityModel | None]] = {}


def _decode(digest: str, payload) -> tuple[LangIdModel | None, PerplexityModel | None]:
    models = _CACHE.get(digest)
    if models is None:
        lid_raw, ppl_raw = payload.value
        models = (
            LangIdModel.from_bytes(lid_raw) if lid_raw is not None else None,
            PerplexityModel.from_bytes(ppl_raw) if ppl_raw is not None else None,
        )
        _CACHE.clear()
        _CACHE[digest] = models
    return models


LANGID_FIELDS = [
    T.StructField("lang", T.StringType()),
    T.StructField("confidence", T.DoubleType()),
]
PPL_FIELDS = [T.StructField("ppl", T.DoubleType())]


def scores_udf(
    spark: SparkSession,
    langid_model: LangIdModel | None = None,
    ppl_model: PerplexityModel | None = None,
):
    """A pandas_udf: text -> struct of the fields the given models score —
    ``lang``, ``confidence`` (langid) then ``ppl`` (perplexity)."""
    if langid_model is None and ppl_model is None:
        raise ValueError("scores_udf needs a langid or a perplexity model")
    sc = spark.sparkContext
    digest = "/".join(m.digest() if m is not None else "-" for m in (langid_model, ppl_model))
    payload = MODEL_BROADCASTS.get(
        sc,
        ("scores", digest),
        lambda: sc.broadcast(
            tuple(m.to_bytes() if m is not None else None for m in (langid_model, ppl_model))
        ),
    )
    schema = T.StructType(
        (LANGID_FIELDS if langid_model is not None else [])
        + (PPL_FIELDS if ppl_model is not None else [])
    )

    @F.pandas_udf(schema)
    def _scores(texts: pd.Series) -> pd.DataFrame:
        lid, ppl = _decode(digest, payload)
        batch = texts.tolist()
        columns = {}
        if lid is not None:
            best, conf = lid.score_batch(batch)
            columns["lang"] = [lid.languages[i] if i >= 0 else None for i in best]
            columns["confidence"] = conf
        if ppl is not None:
            columns["ppl"] = ppl.score_batch(batch)
        return pd.DataFrame(columns)

    return _scores
