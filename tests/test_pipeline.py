"""Graft pipeline verification (the BASELINE.json acceptance criteria):

- keep/drop F1 >= 0.99 vs generated labels
- scrubbed caption exact equality per row
- image passthrough: decoded pixels allclose (PSNR = inf for lossless PPM)
- audit rows per rule with correct pass rates
- checkpointed run resumes per-partition without double-counting
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from gchq_data_quality_spark.functions.images import decode_ppm, psnr
from gchq_data_quality_spark.functions.langid import train_langid
from gchq_data_quality_spark.functions.perplexity import train_perplexity
from gchq_data_quality_spark.pipeline import QualityFilterConfig, QualityFilterPipeline
from gchq_data_quality_spark.sources.checkpoint import run_checkpointed
from gchq_data_quality_spark.sources.synthetic import (
    LANGUAGES,
    generate_images_df,
    generate_rows,
    training_corpus,
)

from .conftest import stage_tasks, write_images_parquet

N_ROWS = 1500


@pytest.fixture(scope="module")
def models():
    texts, labels = training_corpus()
    return train_langid(texts, labels), train_perplexity(texts)


@pytest.fixture(scope="module")
def annotated(spark, models):
    langid_model, ppl_model = models
    df = generate_images_df(spark, N_ROWS)
    pipe = QualityFilterPipeline(
        QualityFilterConfig(allowed_langs=LANGUAGES), langid_model, ppl_model
    )
    out, report = pipe.run(df)
    out = out.cache()
    return out, report


def test_keep_drop_f1(annotated):
    out, _ = annotated
    tp = out.filter("keep and expected_keep").count()
    fp = out.filter("keep and not expected_keep").count()
    fn = out.filter("not keep and expected_keep").count()
    precision = tp / (tp + fp)
    recall = tp / (tp + fn)
    f1 = 2 * precision * recall / (precision + recall)
    assert f1 >= 0.99, f"keep/drop F1 {f1:.4f} below target (p={precision}, r={recall})"


def test_language_id_accuracy(annotated):
    out, _ = annotated
    labelled = out.filter(F.col("expected_lang").isNotNull())
    total = labelled.count()
    correct = labelled.filter("lang = expected_lang").count()
    assert correct / total >= 0.99


def test_scrubbed_caption_equality(annotated):
    out, _ = annotated
    mismatches = out.filter(
        ~(
            (F.col("caption_scrubbed") == F.col("expected_scrubbed"))
            | (F.col("caption_scrubbed").isNull() & F.col("expected_scrubbed").isNull())
        )
    ).count()
    assert mismatches == 0


def test_caption_passthrough(annotated):
    """The pipeline must not mutate the original caption column."""
    out, _ = annotated
    rows = out.select("image_id", "caption", "defect").collect()
    regen = {r.image_id: r.caption for r in generate_rows(N_ROWS)}
    for row in rows:
        assert row.caption == regen[row.image_id]


def test_pixel_passthrough(annotated):
    """bytes flow through untouched: decode both sides, PSNR >= 40 dB
    (identical for lossless PPM -> PSNR inf)."""
    out, _ = annotated
    sample = out.select("image_id", "bytes").limit(50).collect()
    originals = {r.image_id: r.bytes for r in generate_rows(N_ROWS)}
    for row in sample:
        got = decode_ppm(bytes(row.bytes))
        want = decode_ppm(bytes(originals[row.image_id]))
        assert got.shape == want.shape
        assert psnr(got, want) >= 40.0
        assert np.allclose(got, want)


def test_audit_report(annotated):
    out, report = annotated
    by_id = {r.rule_id: r for r in report.results}
    total = out.count()
    nulls = out.filter("caption is null").count()
    assert by_id["caption_present"].records_evaluated == total
    assert by_id["caption_present"].pass_rate == pytest.approx(1 - nulls / total)
    # every rule produced a result with a sane pass rate
    for r in report.results:
        assert r.records_evaluated > 0
        assert 0.0 <= r.pass_rate <= 1.0
    # drop reasons are visible per rule: charset rule must be failing some rows
    assert by_id["charset"].pass_rate < 1.0


def test_image_metadata_rule(spark, models):
    """Corrupted byte payloads are caught by the metadata-consistency rule."""
    langid_model, ppl_model = models
    df = generate_images_df(spark, 50)
    corrupted = df.withColumn(
        "bytes",
        F.when(F.col("image_id") == "img00000007", F.lit(b"P6\nbogus")).otherwise(
            F.col("bytes")
        ),
    )
    pipe = QualityFilterPipeline(
        QualityFilterConfig(allowed_langs=LANGUAGES), langid_model, ppl_model
    )
    out, report = pipe.run(corrupted)
    bad = out.filter("image_id = 'img00000007'").collect()[0]
    assert bad["dq_image_metadata_passing"] is False
    assert bad["keep"] is False
    by_id = {r.rule_id: r for r in report.results}
    assert by_id["image_metadata"].pass_rate == pytest.approx(49 / 50)


def test_checkpoint_resume(spark, tmp_path, models):
    langid_model, ppl_model = models
    df = generate_images_df(spark, 400)
    pipe = QualityFilterPipeline(
        QualityFilterConfig(allowed_langs=LANGUAGES), langid_model, ppl_model
    )
    out_path = str(tmp_path / "out")
    manifest = str(tmp_path / "manifest.json")

    def annotate(part, observe):
        return pipe.annotate(part)

    first = run_checkpointed(
        df, out_path, manifest, key_col="image_id",
        transform=annotate, n_buckets=4, buckets_per_batch=2,
    )
    assert first["buckets_run"] == 4
    total_rows = spark.read.parquet(out_path).count()
    assert total_rows == 400

    # resume: nothing left to do, output unchanged (idempotent)
    second = run_checkpointed(
        df, out_path, manifest, key_col="image_id",
        transform=annotate, n_buckets=4, buckets_per_batch=2,
    )
    assert second["buckets_run"] == 0
    assert second["buckets_skipped"] == 4
    assert spark.read.parquet(out_path).count() == 400

    # partial-failure simulation: drop two buckets from the manifest,
    # rerun -> exactly those buckets reprocess, counts unchanged
    import json

    state = json.loads((tmp_path / "manifest.json").read_text())
    for b in ("0", "2"):
        state["completed"].pop(b)
    (tmp_path / "manifest.json").write_text(json.dumps(state))
    third = run_checkpointed(
        df, out_path, manifest, key_col="image_id",
        transform=annotate, n_buckets=4, buckets_per_batch=2,
    )
    assert third["buckets_run"] == 2
    assert spark.read.parquet(out_path).count() == 400


def test_checkpoint_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic partition overwrite is an option of the checkpointed write,
    not a session conf: a static session stays static, and a re-run bucket
    still replaces only its own partition."""
    import json

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        df = generate_images_df(spark, 200)
        out_path, manifest = str(tmp_path / "out"), tmp_path / "manifest.json"
        run_checkpointed(df, out_path, str(manifest), key_col="image_id", n_buckets=4)
        assert spark.conf.get(key) == "STATIC"
        state = json.loads(manifest.read_text())
        state["completed"].pop("1")
        manifest.write_text(json.dumps(state))
        again = run_checkpointed(df, out_path, str(manifest), key_col="image_id", n_buckets=4)
        assert again["buckets_run"] == 1
        assert spark.conf.get(key) == "STATIC"
        assert spark.read.parquet(out_path).count() == 200
    finally:
        spark.conf.set(key, before)


def test_run_with_output_path_audits_on_its_write(spark, tmp_path, models):
    """run(df, output_path) is ONE Spark job: the audit sums ride the
    parquet write, and the returned re-read takes the written schema."""
    pipe = _pipe(models)
    df = generate_images_df(spark, 120)
    sc = spark.sparkContext
    sc.setJobGroup("dq-run-one-job", "run")
    try:
        written, report = pipe.run(df, output_path=str(tmp_path / "run_out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("dq-run-one-job")) == 1

    def counts(rep):
        return [(r.rule_id, r.records_evaluated, r.pass_rate, r.measurement_sample) for r in rep.results]

    assert counts(report) == counts(pipe.audit(written))
    assert report.results[0].measurement_sample.endswith("/total=120")


def test_run_with_output_path_scores_once(spark, tmp_path, models):
    """pipeline.run(df, output_path=...) must write once and return the
    WRITTEN rows: a plain parquet scan with no Python (Arrow UDF) stage, so
    auditing or reading the output never runs the scoring UDFs again."""
    langid_model, ppl_model = models
    df = generate_images_df(spark, 120)
    pipe = QualityFilterPipeline(
        QualityFilterConfig(allowed_langs=LANGUAGES), langid_model, ppl_model
    )
    out_path = str(tmp_path / "run_out")
    written, report = pipe.run(df, output_path=out_path)
    assert written.count() == 120
    assert {r.rule_id for r in report.results} >= {"caption_present", "lang_allowed"}

    # an audit of the re-read output contains no scoring stage
    audit_plan = (
        written.agg(*pipe.audit_agg_exprs())._jdf.queryExecution()
        .executedPlan().toString()
    )
    assert "ArrowEvalPython" not in audit_plan
    assert "BatchEvalPython" not in audit_plan
    assert "Scan parquet" in audit_plan or "FileScan parquet" in audit_plan


def test_run_without_output_persists_annotated(spark, models):
    """Without an output path, run() persists the annotated frame so the
    audit materialises the cache and later reads reuse it (no double score)."""
    langid_model, ppl_model = models
    df = generate_images_df(spark, 60)
    pipe = QualityFilterPipeline(
        QualityFilterConfig(allowed_langs=LANGUAGES), langid_model, ppl_model
    )
    annotated, report = pipe.run(df)
    try:
        assert annotated.storageLevel.useMemory or annotated.storageLevel.useDisk
        assert report.results
        # cache already materialised by the audit -> InMemoryTableScan serves reads
        plan = annotated._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
    finally:
        annotated.unpersist(blocking=False)


def test_keep_agrees_exactly_per_defect(annotated):
    """Exactness gate behind pipeline_keep_by_defect: EVERY defect class
    agrees with the planted labels row-for-row (n_agree == n), which is what
    makes the empty pipeline_disagreements oracle hold."""
    out, _ = annotated
    rows = out.groupBy("defect").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("keep") == F.col("expected_keep")).cast("long")).alias("n_agree"),
    ).collect()
    mismatched = {r.defect: (r.n_agree, r.n) for r in rows if r.n_agree != r.n}
    assert not mismatched, mismatched


# ---------------------------------------------------------------------------
# memoised Column plans (pipeline._PLANS) and one broadcast per model
# ---------------------------------------------------------------------------


def _pipe(models, **config):
    langid_model, ppl_model = models
    return QualityFilterPipeline(
        QualityFilterConfig(allowed_langs=LANGUAGES, **config), langid_model, ppl_model
    )


@pytest.fixture
def plan_builds(monkeypatch):
    """Empty plan memo plus a counter of rule compilations (one per plan built)."""
    from gchq_data_quality_spark import pipeline as pipeline_mod

    pipeline_mod._PLANS.entries.clear()
    builds = []
    compiled = QualityFilterPipeline._compiled

    def counting(self, df):
        builds.append(df.columns)
        return compiled(self, df)

    monkeypatch.setattr(QualityFilterPipeline, "_compiled", counting)
    return builds


def _sorted_rows(df):
    return sorted(df.collect(), key=lambda r: r.image_id)


def test_second_annotate_rebuilds_nothing(spark, models, annotated, plan_builds):
    pipe = _pipe(models)
    pipe.annotate(generate_images_df(spark, 20))
    assert len(plan_builds) == 1
    again = pipe.annotate(generate_images_df(spark, N_ROWS))
    assert len(plan_builds) == 1
    # same rows as the fixture's fresh pipeline built from scratch
    out, _ = annotated
    assert again.columns == out.columns
    assert _sorted_rows(again) == _sorted_rows(out)


def test_annotate_plan_is_keyed_on_schema_config_and_application(
    spark, models, plan_builds, monkeypatch
):
    pipe = _pipe(models)
    df = generate_images_df(spark, 60)
    base = pipe.annotate(df)
    assert len(plan_builds) == 1

    extra = pipe.annotate(df.withColumn("extra", F.lit(1)))
    assert len(plan_builds) == 2
    assert "extra" in extra.columns

    pipe.config.ppl_max = 0.0  # nothing passes the perplexity rule now
    strict = pipe.annotate(df)
    assert len(plan_builds) == 3
    before = base.filter("dq_perplexity_passing").count()
    assert before > 0
    assert strict.filter("dq_perplexity_passing").count() == 0

    from pyspark import SparkContext

    monkeypatch.setattr(SparkContext, "applicationId", property(lambda sc: "another-app"))
    pipe.annotate(df)
    assert len(plan_builds) == 4


def test_annotate_union_of_two_plans(spark, models):
    """Each annotate() makes its own scoring-UDF call (a PythonUDF carries one
    resultId), so two annotated frames union cleanly."""
    pipe = _pipe(models)
    df = generate_images_df(spark, 80)
    a, b = df.filter("image_id < 'img00000040'"), df.filter("image_id >= 'img00000040'")
    union = pipe.annotate(a).unionByName(pipe.annotate(b))
    separate = _sorted_rows(pipe.annotate(a)) + _sorted_rows(pipe.annotate(b))
    assert _sorted_rows(union) == sorted(separate, key=lambda r: r.image_id)
    assert union.count() == 80


def test_salted_repartition_keeps_rows(spark, models):
    df = generate_images_df(spark, 40)
    salted = _pipe(models, salt=3, repartition_to=4).annotate(df)
    assert salted.rdd.getNumPartitions() == 4
    assert _sorted_rows(salted) == _sorted_rows(_pipe(models).annotate(df))


# ---------------------------------------------------------------------------
# scan shape: a one-row-group parquet input scores in one task
# ---------------------------------------------------------------------------


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def _grouped_write(spark, frame, out, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, "annotate write")
    try:
        frame.write.mode("overwrite").parquet(str(out))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return stage_tasks(sc, group)


def test_one_row_group_input_scores_in_one_task(
    spark, models, tmp_path, split_reads, plan_builds, monkeypatch
):
    """Only the split holding the row group's midpoint reads rows; the
    empty splits' tasks are folded into it: one task, one data file, and
    the rows the split-per-task plan writes, in the same order. Building
    the plan types the rule columns without the fit, so the annotate()
    that builds it reads the footer once, like one that reuses it."""
    from gchq_data_quality_spark import pipeline as pipeline_mod

    df = split_reads(write_images_parquet(tmp_path / "one_rg.parquet", 300))
    assert df.rdd.getNumPartitions() >= 2
    pipe = _pipe(models)
    probes: list = []
    real = pipeline_mod.parquet_row_groups
    monkeypatch.setattr(
        pipeline_mod, "parquet_row_groups",
        lambda frame, stop_at: probes.append(stop_at) or real(frame, stop_at),
    )

    fitted = pipe.annotate(df)
    assert len(plan_builds) == 1 and len(probes) == 1
    assert "Coalesce" in _plan(pipe.annotate(df))
    assert len(plan_builds) == 1 and len(probes) == 2
    tasks = _grouped_write(spark, fitted, tmp_path / "fitted", f"dq-fit-{tmp_path.name}")
    assert tasks == [[1]]
    files = sorted((tmp_path / "fitted").glob("part-*.parquet"))
    assert len(files) == 1

    # the split-per-task plan: every scan split runs its own task
    monkeypatch.setattr(pipeline_mod, "parquet_row_groups", lambda frame, stop_at: None)
    split = pipe.annotate(df)
    assert "Coalesce" not in _plan(split)
    tasks = _grouped_write(spark, split, tmp_path / "split", f"dq-split-{tmp_path.name}")
    assert tasks == [[df.rdd.getNumPartitions()]]
    assert pq.read_table(files[0]).to_pylist() == pq.read_table(tmp_path / "split").to_pylist()


@pytest.mark.parametrize("shape", ["row_groups", "csv", "salted"])
def test_other_inputs_keep_their_partitioning(spark, models, tmp_path, split_reads, shape):
    """Several row groups feed several tasks, a non-parquet scan is not
    bounded by row groups, and the salted repartition already places rows:
    none of them is coalesced."""
    if shape == "row_groups":
        df = split_reads(write_images_parquet(tmp_path / "rg.parquet", 300, row_group_size=40))
        annotated = _pipe(models).annotate(df)
    elif shape == "csv":
        csv = tmp_path / "captions.csv"
        rows = generate_images_df(spark, 200).select("image_id", "caption")
        rows.coalesce(1).write.option("header", True).csv(str(csv))
        spark.conf.set("spark.sql.files.maxPartitionBytes", "4096")  # split_reads restores it
        df = spark.read.option("header", True).csv(str(csv))
        annotated = _pipe(models, check_image_metadata=False).annotate(df)
    else:
        df = split_reads(write_images_parquet(tmp_path / "one_rg.parquet", 300))
        annotated = _pipe(models, salt=3, repartition_to=4).annotate(df)
    assert "Coalesce" not in _plan(annotated)
    expected = 4 if shape == "salted" else df.rdd.getNumPartitions()
    assert annotated.rdd.getNumPartitions() == expected > 1


def test_single_model_pipelines_score_like_the_two_model_one(spark, models):
    """The one scorer with one model gives the same fields as with both;
    perplexity's NaN (null or too-short caption) arrives as NULL."""
    langid_model, ppl_model = models
    config = QualityFilterConfig(allowed_langs=LANGUAGES)
    df = generate_images_df(spark, 200)

    def scored(langid, ppl, *cols):
        frame = QualityFilterPipeline(config, langid, ppl).annotate(df)
        return sorted(frame.select("image_id", *cols).collect())

    both = scored(langid_model, ppl_model, "lang", "lang_confidence", "ppl")
    lid = scored(langid_model, None, "lang", "lang_confidence")
    ppl = scored(None, ppl_model, "ppl")
    assert lid == [(r.image_id, r.lang, r.lang_confidence) for r in both]
    assert ppl == [(r.image_id, r.ppl) for r in both]
    assert any(r.ppl is None for r in ppl)
    assert all(r.ppl is None or r.ppl == r.ppl for r in ppl)  # no NaN


def test_scores_udf_broadcasts_models_once(spark, models, monkeypatch):
    from gchq_data_quality_spark.functions.scoring import scores_udf
    from gchq_data_quality_spark.session_memo import MODEL_BROADCASTS

    langid_model, ppl_model = models
    sc = spark.sparkContext
    MODEL_BROADCASTS.entries.clear()
    made = []
    broadcast = sc.broadcast
    monkeypatch.setattr(sc, "broadcast", lambda value: made.append(1) or broadcast(value))
    first = scores_udf(spark, langid_model, ppl_model)
    second = scores_udf(spark, langid_model, ppl_model)
    assert len(made) == 1
    # the closures ship (digest, payload) only: no Column or JVM handle
    assert first.func.__code__.co_freevars == ("digest", "payload")
    df = generate_images_df(spark, 30)
    got = df.select(second(F.col("caption")).alias("s")).agg(F.count("s.lang")).collect()
    assert got[0][0] > 0


# ---------------------------------------------------------------------------
# audit: one observed job
# ---------------------------------------------------------------------------


def test_audit_of_empty_inputs(spark, annotated, models):
    out, _ = annotated
    pipe = _pipe(models)
    empties = {
        "empty": spark.createDataFrame([], out.schema),
        "no partitions": spark.createDataFrame(spark.sparkContext.emptyRDD(), out.schema),
        "filtered to nothing": out.filter(F.lit(False)),
    }
    assert empties["no partitions"].rdd.getNumPartitions() == 0
    for name, frame in empties.items():
        report = pipe.audit(frame)
        assert len(report.results) == len(pipe.rules()), name
        for r in report.results:
            assert r.records_evaluated == 0, name
            assert r.pass_rate is None, name
            assert r.measurement_sample == "kept=0/total=0", name


def test_audit_matches_aggregation_in_one_job(spark, annotated, models):
    out, report = annotated
    pipe = _pipe(models)
    sc = spark.sparkContext
    sc.setJobGroup("dq-audit-one-job", "audit")
    try:
        observed = pipe.audit(out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("dq-audit-one-job")) == 1

    row = out.agg(*pipe.audit_agg_exprs()).collect()[0]
    aggregated = pipe.report_from_counts(row)

    def counts(rep):
        return [
            (r.rule_id, r.records_evaluated, r.pass_rate, r.measurement_sample)
            for r in rep.results
        ]

    assert counts(observed) == counts(aggregated) == counts(report)
    kept = out.filter("keep").count()
    assert observed.results[0].measurement_sample == f"kept={kept}/total={N_ROWS}"
