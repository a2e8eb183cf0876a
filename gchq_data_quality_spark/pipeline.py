"""QualityFilterPipeline: langid + perplexity + heuristic rules + PII scrub.

The north-rule pipeline over the image+caption table
(image_id, bytes, w, h, fmt, caption, phash):

1. **Derive** scoring columns in ONE projection: native text heuristics
   (length, alpha ratio, repetition — pure Column exprs) plus ONE
   Arrow-batched pandas UDF scoring whichever models are set (langid,
   perplexity) with broadcast models.
2. **Rules** over the derived columns reuse the engine's own rule chassis
   (ValidityNumericalRangeRule / AccuracyRule / CompletenessRule /
   ConsistencyRule) — each compiles to (evaluated, passing) Columns.
3. **Annotate**: per-rule evaluated/passing boolean columns + the keep/drop
   combiner (keep = AND over (passing OR not-evaluated)) + caption_scrubbed
   via the compiled regexp chain. Image bytes pass through untouched.
4. **Audit**: ONE observed job: the sums of the row-level audit counters
   (``audit_counters``) ride ``DataFrame.observe`` on a ``noop`` write of
   the flag columns — or, in ``run(df, output_path)``, on the output write
   itself — and each task's partial sums merge on the driver -> one
   DataQualityResult row per rule (same shape as the reference's
   DataQualityResult, results/models.py:52-144).

Scale design: the whole thing is a single stage, the audit included — no
joins, no wide shuffle, no 1-row reduce. A parquet input of ONE row group,
however many splits it reads as, is coalesced into one task (no exchange),
so no empty task starts a scoring Python worker or writes a schema-only
file; inputs of 2+ row groups, other sources and already-exchanged frames
keep their partitioning, and the salted repartition below replaces it. The
Column plan (derived heuristics, rule flags, keep, caption_scrubbed) is
built once per (``sc.applicationId``, input schema, config, model digests)
and the audit sums once per (application, config), memoised in a
``SessionMemo``. Building them took ~2,360 py4j round trips per annotate()
and ~890 per audit() (0.27-0.38 s and 0.20-0.29 s of driver time per warm
call, 4k rows on 4 cores); a repeated call on a known schema — one per job
batch, one per request of a long-lived session — makes ~100 of each.
Optional salted repartition on the phash prefix defeats caption-duplication
skew (hot phash clusters spread across ``salt`` buckets deterministically
via xxhash64(image_id), no rand()).
"""

from __future__ import annotations

from dataclasses import dataclass, replace, field as dc_field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from gchq_data_quality_spark.functions import text as text_fns
from gchq_data_quality_spark.functions.images import metadata_consistent
from gchq_data_quality_spark.functions.langid import LangIdModel
from gchq_data_quality_spark.functions.perplexity import PerplexityModel
from gchq_data_quality_spark.functions.scoring import scores_udf
from gchq_data_quality_spark.functions.scrub import Scrubber
from gchq_data_quality_spark.operators.accuracy import AccuracyRule
from gchq_data_quality_spark.operators.base import BaseRule, CompiledRule
from gchq_data_quality_spark.operators.completeness import CompletenessRule
from gchq_data_quality_spark.operators.consistency import ConsistencyRule
from gchq_data_quality_spark.operators.validity import ValidityNumericalRangeRule
from gchq_data_quality_spark.results import (
    DataQualityReport,
    DataQualityResult,
    calculate_pass_rate,
)
from gchq_data_quality_spark.session_memo import SessionMemo
from gchq_data_quality_spark.sources.scan import parquet_row_groups

# annotate plans and audit exprs, memoised per application (_plan and
# _audit_plan say what each is keyed on)
_PLANS = SessionMemo(cap=16)


@dataclass
class QualityFilterConfig:
    caption_col: str = "caption"
    id_col: str = "image_id"
    min_caption_len: int = 5
    max_caption_len: int = 2000
    alpha_ratio_min: float = 0.5
    repetition_max: float = 0.4
    allowed_langs: list[str] | None = None
    lang_confidence_min: float = 0.3
    ppl_max: float = 150.0
    check_image_metadata: bool = True
    scrubber: Scrubber = dc_field(default_factory=Scrubber)
    salt: int | None = None  # salt buckets for skew-safe repartition
    repartition_to: int | None = None


@dataclass(frozen=True)
class _AnnotatePlan:
    """Every Column annotate() applies. Only the scoring UDF calls are made
    per annotate() call (see ``_columns``)."""

    caption: Column
    repartition: tuple[int, Column] | None  # (partitions, salted key)
    derived: dict[str, Column]
    # (scoring UDF, {column: field of its struct}); None without models
    scorer: tuple | None
    flags: dict[str, Column]


class QualityFilterPipeline:
    def __init__(
        self,
        config: QualityFilterConfig,
        langid_model: LangIdModel | None = None,
        ppl_model: PerplexityModel | None = None,
    ):
        self.config = config
        self.langid_model = langid_model
        self.ppl_model = ppl_model

    # ------------------------------------------------------------------
    def rules(self) -> list[BaseRule]:
        c = self.config
        rules: list[BaseRule] = [
            CompletenessRule(field=c.caption_col, rule_id="caption_present"),
            ValidityNumericalRangeRule(
                field="caption_len",
                min_value=c.min_caption_len,
                max_value=c.max_caption_len,
                rule_id="caption_length",
            ),
            ValidityNumericalRangeRule(
                field="alpha_ratio", min_value=c.alpha_ratio_min, rule_id="charset"
            ),
            ValidityNumericalRangeRule(
                field="repetition", max_value=c.repetition_max, rule_id="repetition"
            ),
        ]
        if self.langid_model is not None:
            if c.allowed_langs:
                rules.append(
                    AccuracyRule(
                        field="lang", valid_values=list(c.allowed_langs), rule_id="lang_allowed"
                    )
                )
            rules.append(
                ValidityNumericalRangeRule(
                    field="lang_confidence",
                    min_value=c.lang_confidence_min,
                    rule_id="lang_confident",
                )
            )
        if self.ppl_model is not None:
            rules.append(
                ValidityNumericalRangeRule(
                    field="ppl", max_value=c.ppl_max, rule_id="perplexity"
                )
            )
        if c.check_image_metadata:
            rules.append(
                ConsistencyRule(
                    field="meta_ok", expression="`meta_ok`", skip_if_null="never",
                    rule_id="image_metadata",
                )
            )
        return rules

    # ------------------------------------------------------------------
    def _plan(self, df: DataFrame) -> _AnnotatePlan:
        """The memoised Column plan for ``df``'s schema: built on the first
        call per (application, input schema, config, model digests)."""
        models = (self.langid_model, self.ppl_model)
        digests = tuple(m.digest() if m is not None else None for m in models)
        key = ("annotate", df.schema.json(), repr(self.config), digests)
        return _PLANS.get(df.sparkSession.sparkContext, key, lambda: self._build_plan(df))

    def _build_plan(self, df: DataFrame) -> _AnnotatePlan:
        c = self.config
        caption = F.col(c.caption_col)

        repartition = None
        if c.salt and c.repartition_to:
            # skew-safe shuffle: hot phash prefixes spread over `salt` buckets;
            # deterministic (hash of the row id, no rand()).
            salt_col = F.pmod(F.xxhash64(F.col(c.id_col)), F.lit(c.salt))
            prefix = F.substring(F.hex(F.col("phash")), 1, 4)
            repartition = (c.repartition_to, F.concat_ws("_", prefix, salt_col))

        def null_guard(expr):
            return F.when(caption.isNull(), F.lit(None)).otherwise(expr)

        # one withColumns batch per projection step: every chained
        # withColumn call re-runs the analyzer over the growing plan —
        # measured ~1 s of the annotate() construction time at 20+ calls
        derived = {
            "caption_len": F.length(caption),
            "alpha_ratio": null_guard(text_fns.alpha_ratio(caption)),
            "repetition": null_guard(text_fns.repetition_ratio(caption)),
        }
        if c.check_image_metadata:
            derived["meta_ok"] = metadata_consistent(
                F.col("bytes"), F.col("w"), F.col("h"), F.col("fmt")
            )
        scorer = None
        if self.langid_model is not None or self.ppl_model is not None:
            # one scorer: one Arrow round-trip for the models set (scoring.py)
            unpack = {}
            if self.langid_model is not None:
                unpack["lang"] = F.col("__scores.lang")
                unpack["lang_confidence"] = F.col("__scores.confidence")
            if self.ppl_model is not None:
                unpack["ppl"] = F.col("__scores.ppl")
            udf = scores_udf(df.sparkSession, self.langid_model, self.ppl_model)
            scorer = (udf, unpack)
        plan = _AnnotatePlan(caption, repartition, derived, scorer, flags={})
        compiled = self._compiled(self._columns(plan, df))

        # `keep` references the flag EXPRESSIONS, not the added columns —
        # identical values, and the flags are cheap boolean exprs over
        # derived columns (never the scoring UDFs, which live behind plain
        # column refs after derive()), so the duplication is codegen-CSE'd.
        flags: dict = {}
        keep = F.lit(True)
        for cr in compiled:
            rid = cr.rule.rule_id
            evaluated = cr.evaluated
            passing = cr.passing_filled()
            flags[f"dq_{rid}_evaluated"] = evaluated
            flags[f"dq_{rid}_passing"] = passing
            keep = keep & (passing | ~evaluated)
        flags["keep"] = keep
        flags["caption_scrubbed"] = null_guard(c.scrubber.apply(caption))
        return replace(plan, flags=flags)

    @staticmethod
    def _fit(plan: _AnnotatePlan, df: DataFrame) -> DataFrame:
        """The input's partitioning for the scoring stage. Only derive() and
        annotate() apply it: typing the rule columns needs no fit, and the
        footer probe is a file open per call."""
        if plan.repartition is not None:
            return df.repartition(*plan.repartition)
        if parquet_row_groups(df, 2) == 1:
            # one row group feeds one scan task however many splits the
            # file reads as: fold the empty ones in (no exchange, the same
            # rows in the same order) rather than spread the rows, which
            # writes one parquet dictionary of the repeated image bytes per
            # file (out/in bytes 1.25 -> 1.9 on 4 round-robin partitions)
            return df.coalesce(1)
        return df

    @staticmethod
    def _columns(plan: _AnnotatePlan, df: DataFrame) -> DataFrame:
        df = df.withColumns(plan.derived)
        if plan.scorer is not None:
            udf, unpack = plan.scorer
            # a fresh UDF call per plan: a PythonUDF expression carries one
            # resultId, which two plans (or a union of them) must not share
            df = df.withColumn("__scores", udf(plan.caption))
            df = df.withColumns(unpack).drop("__scores")
        return df

    def derive(self, df: DataFrame) -> DataFrame:
        """Add scoring columns (one projection; UDFs batched via Arrow)."""
        plan = self._plan(df)
        return self._columns(plan, self._fit(plan, df))

    def _compiled(self, df: DataFrame) -> list[CompiledRule]:
        dtypes = {f.name: f.dataType for f in df.schema.fields}
        return [r.compile(F.col, dtypes.__getitem__) for r in self.rules()]

    def annotate(self, df: DataFrame) -> DataFrame:
        """derive + per-rule flags + keep + caption_scrubbed (all lazy).

        The Columns come from a plan memoised per (``sc.applicationId``,
        input schema, config, model digests), so a repeated call on the same
        schema builds no expression and only applies the cached Columns:
        the derive steps, then ONE withColumns of the flags (one analyzer
        pass instead of ~18). A changed config or model is a new key."""
        plan = self._plan(df)
        return self._columns(plan, self._fit(plan, df)).withColumns(plan.flags)

    # ------------------------------------------------------------------
    def _audit_plan(self, sc) -> tuple[list[str], dict[str, Column], list]:
        """(flag columns, row-level counters, their sums), memoised per
        (application, config, which models are set) — what rules() reads."""
        key = ("audit", repr(self.config), self.langid_model is not None, self.ppl_model is not None)
        return _PLANS.get(sc, key, self._build_audit_plan)

    def _build_audit_plan(self) -> tuple[list[str], dict[str, Column], list]:
        cols, counters = [], {}
        for rule in self.rules():
            rid = rule.rule_id
            evaluated, passing = f"dq_{rid}_evaluated", f"dq_{rid}_passing"
            cols += [evaluated, passing]
            counters[f"e_{rid}"] = F.col(evaluated)
            counters[f"p_{rid}"] = F.col(evaluated) & F.col(passing)
        cols.append("keep")
        counters["__kept"] = F.col("keep")
        counters["__total"] = F.lit(1)
        aggs = [F.sum(value.cast("long")).alias(name) for name, value in counters.items()]
        return cols, counters, aggs

    def audit_counters(self) -> dict[str, Column]:
        """The row-level audit counters over the flag columns: one boolean
        (or 1) per e_/p_/__kept/__total name, whose sums are the audit.

        Sums add up, so a caller running in batches (the checkpointed job
        observes them per bucket) can add the per-batch sums and report
        them with ``report_from_counts``. Built once per application and
        config, like annotate's plan.
        """
        return dict(self._audit_plan(SparkSession.active().sparkContext)[1])

    def audit_agg_exprs(self) -> list:
        """The sums of ``audit_counters`` as aggregation exprs (one pass,
        map-side combinable)."""
        return list(self._audit_plan(SparkSession.active().sparkContext)[2])

    def report_from_counts(self, counts) -> DataQualityReport:
        """Build the per-rule report from an e_/p_/__kept/__total mapping
        (one agg Row, or summed counts across checkpointed batches)."""
        results = []
        for rule in self.rules():
            evaluated = int(counts[f"e_{rule.rule_id}"] or 0)
            passing = int(counts[f"p_{rule.rule_id}"] or 0)
            results.append(
                DataQualityResult(
                    field=rule.field,
                    data_quality_dimension=rule.data_quality_dimension,
                    records_evaluated=evaluated,
                    pass_rate=calculate_pass_rate(passing, evaluated),
                    rule_id=rule.rule_id,
                    rule_data=rule.to_json(),
                    dataset_name="images",
                    measurement_sample=(
                        f"kept={int(counts['__kept'] or 0)}/total={int(counts['__total'] or 0)}"
                    ),
                )
            )
        return DataQualityReport(results=results)

    def audit(self, annotated: DataFrame) -> DataQualityReport:
        """One observed job over the flag columns -> per-rule results.

        The ``audit_agg_exprs`` sums ride ``DataFrame.observe`` on a
        ``noop`` write of the flag columns: ONE job and one stage, no
        exchange; each task's partial sums merge on the driver. (An
        ``agg().collect()`` runs two jobs under AQE: the partial aggregate,
        then the 1-row final reduce.) An empty input observes 0 rows and NULL
        sums, which report as ``records_evaluated=0, pass_rate=None``.

        ``annotated`` can be the lazy annotate() output OR a re-read of the
        written output (the flags are plain columns) — the latter is the
        cheap path: a column-pruned boolean scan, no UDF re-execution.
        """
        cols, _, aggs = self._audit_plan(annotated.sparkSession.sparkContext)
        observation = Observation()
        (
            annotated.select(*cols)
            .observe(observation, *aggs)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return self.report_from_counts(observation.get)

    def report_to_df(self, spark, report: DataQualityReport) -> DataFrame:
        rows = [
            {
                "rule_id": r.rule_id,
                "field": r.field,
                "dimension": r.data_quality_dimension.value,
                "records_evaluated": r.records_evaluated,
                "pass_rate": r.pass_rate,
                "rule_data": r.rule_data,
                "measurement_time": r.measurement_time,
                "measurement_sample": r.measurement_sample,
            }
            for r in report.results
        ]
        return spark.createDataFrame(rows)

    def audit_df(self, annotated: DataFrame) -> DataFrame:
        """Audit report as a Spark DataFrame (for writing to an audit table)."""
        return self.report_to_df(annotated.sparkSession, self.audit(annotated))

    def run(
        self, df: DataFrame, output_path: str | None = None
    ) -> tuple[DataFrame, DataQualityReport]:
        """Annotate and audit WITHOUT running the scoring UDFs twice.

        With ``output_path``: ONE job — the audit sums are observed on the
        zstd parquet write of the annotated frame (zstd as in
        ``sources.io.write_table``); returns the lazy re-read of the output
        (read with the written schema: no inference job).
        Without: persist the annotated frame so the audit materialises it and
        the returned DataFrame serves reads from the cache (caller unpersists).
        """
        annotated = self.annotate(df)
        if output_path is not None:
            observation = Observation()
            aggs = self._audit_plan(df.sparkSession.sparkContext)[2]
            (
                annotated.observe(observation, *aggs)
                .write.mode("overwrite")
                .option("compression", "zstd")
                .parquet(output_path)
            )
            written = df.sparkSession.read.schema(annotated.schema).parquet(output_path)
            return written, self.report_from_counts(observation.get)
        annotated = annotated.persist()
        return annotated, self.audit(annotated)
