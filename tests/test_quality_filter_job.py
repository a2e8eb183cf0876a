"""The spark-submit job end-to-end (in-process): default mode writes all
rows + flags and audits the written output; --keep-only writes only kept
rows but audits PRE-filter flags (ADVICE r1: auditing the filtered output
read ~1.0 pass rates and measured nothing). Each batch is one write that
observes every per-bucket count the job keeps."""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "jobs"))

import quality_filter_job  # noqa: E402

from .conftest import stage_tasks, write_images_parquet  # noqa: E402


def _run(tmp_path, extra, source=("--synthetic", "400")):
    out = tmp_path / "out"
    audit = tmp_path / "audit"
    manifest = tmp_path / "m.json"
    quality_filter_job.main(
        [
            *source,
            "--output", str(out),
            "--audit", str(audit),
            "--manifest", str(manifest),
            "--n-buckets", "4",
            "--buckets-per-batch", "2",
            *extra,
        ]
    )
    return out, audit, manifest


def test_job_default_writes_flags_and_audit(spark, tmp_path, capsys):
    out, audit, _ = _run(tmp_path, [])
    written = spark.read.parquet(str(out))
    assert written.count() == 400
    assert "keep" in written.columns and "caption_scrubbed" in written.columns
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_written"] == 400

    audit_rows = {r.rule_id: r for r in spark.read.parquet(str(audit)).collect()}
    assert audit_rows["caption_present"].records_evaluated == 400


def test_job_keep_only_audits_prefilter_flags(spark, tmp_path, capsys):
    out, audit, _ = _run(tmp_path, ["--keep-only"])
    written = spark.read.parquet(str(out))
    kept = written.count()
    assert 0 < kept < 400  # the synthetic table plants defects
    assert written.filter("NOT keep").count() == 0

    audit_rows = {r.rule_id: r for r in spark.read.parquet(str(audit)).collect()}
    # the audit must measure INPUT quality: every rule saw all 400 rows'
    # flags, and at least one rule has a sub-1.0 pass rate
    assert audit_rows["caption_present"].records_evaluated == 400
    assert any(
        r.pass_rate is not None and r.pass_rate < 1.0 for r in audit_rows.values()
    ), {k: v.pass_rate for k, v in audit_rows.items()}
    # kept/total in the sample reflects the pre-filter population
    assert f"total=400" in audit_rows["caption_present"].measurement_sample
    assert f"kept={kept}" in audit_rows["caption_present"].measurement_sample


def test_job_keep_only_resume_skips_everything(spark, tmp_path, capsys):
    out, audit, manifest = _run(tmp_path, ["--keep-only"])
    first_audit = spark.read.parquet(str(audit)).count()
    # resubmit with the same manifest: nothing reprocessed, audit untouched
    quality_filter_job.main(
        [
            "--synthetic", "400",
            "--output", str(out),
            "--audit", str(audit),
            "--manifest", str(manifest),
            "--n-buckets", "4",
            "--buckets-per-batch", "2",
            "--keep-only",
        ]
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["buckets_run"] == 0 and summary["buckets_skipped"] == 4
    assert spark.read.parquet(str(audit)).count() == first_audit


def test_job_keep_only_partial_resume_audits_whole_dataset(spark, tmp_path, capsys):
    """ADVICE r2 (medium): after a partial failure + resume, the audit must
    cover ALL buckets — the re-processed ones AND the skipped ones (their
    per-bucket counts persist in their completion records)."""
    out, audit, manifest = _run(tmp_path, ["--keep-only"])
    full = {r.rule_id: r for r in spark.read.parquet(str(audit)).collect()}
    assert full["caption_present"].records_evaluated == 400

    # simulate a run that died after 2 of 4 buckets: drop two buckets'
    # completion records (and with them their counts), as if never done
    state = json.loads(Path(manifest).read_text())
    for bucket in ("2", "3"):
        assert "e_caption_present" in state["completed"].pop(bucket)["counts"]
    Path(manifest).write_text(json.dumps(state))

    quality_filter_job.main(
        [
            "--synthetic", "400",
            "--output", str(out),
            "--audit", str(audit),
            "--manifest", str(manifest),
            "--n-buckets", "4",
            "--buckets-per-batch", "2",
            "--keep-only",
        ]
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["buckets_run"] == 2 and summary["buckets_skipped"] == 2
    resumed = {r.rule_id: r for r in spark.read.parquet(str(audit)).collect()}
    # the rewritten audit merges stored + re-processed counts: whole dataset
    assert resumed["caption_present"].records_evaluated == 400
    for rule_id, row in full.items():
        assert resumed[rule_id].records_evaluated == row.records_evaluated
        assert resumed[rule_id].pass_rate == pytest.approx(row.pass_rate)


def test_job_keep_only_legacy_manifest_keeps_audit(spark, tmp_path, capsys):
    """A manifest from an older run has no per-bucket counts: the job must
    NOT overwrite the audit with partial numbers — it warns and leaves it."""
    out, audit, manifest = _run(tmp_path, ["--keep-only"])
    before = spark.read.parquet(str(audit)).collect()

    state = json.loads(Path(manifest).read_text())
    for entry in state["completed"].values():
        entry.pop("counts")  # legacy record shape: no per-bucket counts
    # one bucket re-runs, three are skipped with no stored counts
    state["completed"].pop("0")
    Path(manifest).write_text(json.dumps(state))

    with pytest.warns(UserWarning, match="audit counts missing"):
        quality_filter_job.main(
            [
                "--synthetic", "400",
                "--output", str(out),
                "--audit", str(audit),
                "--manifest", str(manifest),
                "--n-buckets", "4",
                "--buckets-per-batch", "2",
                "--keep-only",
            ]
        )
    capsys.readouterr()
    after = spark.read.parquet(str(audit)).collect()
    assert sorted(map(str, after)) == sorted(map(str, before))


def test_job_exact_dedup_drops_duplicate_captions(spark, tmp_path, capsys):
    """--dedup exact: buckets keyed by caption fingerprint, min image_id
    wins globally; output has one row per normalised caption and the
    summary reports the exact drop count."""
    from pyspark.sql import functions as F

    from gchq_data_quality_spark.functions.text import fingerprint

    out, _, _ = _run(tmp_path, ["--dedup", "exact"])
    written = spark.read.parquet(str(out))
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    fp_counts = (
        written.filter(F.col("caption").isNotNull())  # null rows never dedup
        .select(fingerprint(F.col("caption")).alias("fp"))
        .groupBy("fp").count().filter("count > 1").count()
    )
    assert fp_counts == 0  # no duplicate captions survive
    assert summary["duplicates_dropped"] > 0  # synthetic corpus plants dups
    assert summary["rows_written"] == 400 - summary["duplicates_dropped"]
    # keeper is the min image_id of each duplicate group: the survivors'
    # ids must be unique and the fingerprint column must not leak out
    assert "dq_caption_fp" not in written.columns


def test_job_exact_dedup_resume_is_idempotent(spark, tmp_path, capsys):
    out, _, manifest = _run(tmp_path, ["--dedup", "exact"])
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out2, _, _ = _run(tmp_path, ["--dedup", "exact"])  # same manifest -> all skipped
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["buckets_run"] == 0
    assert second["buckets_skipped"] == 4
    assert spark.read.parquet(str(out)).count() == first["rows_written"]


def test_job_exact_dedup_keeps_all_null_caption_rows(spark, tmp_path, capsys):
    """fingerprint(NULL) is a constant — without the per-row null key every
    missing-caption row would collapse into one survivor. They are a defect
    class for the RULES to flag, never dedup casualties."""
    from pyspark.sql import functions as F

    from gchq_data_quality_spark.sources.synthetic import generate_images_df

    n_null = generate_images_df(spark, 400).filter(F.col("caption").isNull()).count()
    assert n_null > 0  # the corpus plants the null_caption defect class
    out, _, _ = _run(tmp_path, ["--dedup", "exact"])
    capsys.readouterr()
    written_null = (
        spark.read.parquet(str(out)).filter(F.col("caption").isNull()).count()
    )
    assert written_null == n_null


def test_job_keep_only_writes_audit_despite_empty_buckets(spark, tmp_path, capsys):
    """With more buckets than rows can fill, some buckets complete with ZERO
    rows and therefore no stored audit counts — the job must still write the
    whole-dataset audit (empty buckets contribute zero), not warn-and-skip."""
    out = tmp_path / "out"
    audit = tmp_path / "audit"
    quality_filter_job.main(
        [
            "--synthetic", "60",
            "--output", str(out),
            "--audit", str(audit),
            "--manifest", str(tmp_path / "m.json"),
            "--n-buckets", "64",
            "--buckets-per-batch", "32",
            "--keep-only",
        ]
    )
    capsys.readouterr()
    audit_rows = {r.rule_id: r for r in spark.read.parquet(str(audit)).collect()}
    assert audit_rows["caption_present"].records_evaluated == 60


def test_job_dedup_toggle_on_resume_raises(spark, tmp_path, capsys):
    """ADVICE r3 (medium): --dedup exact re-keys the checkpoint buckets by
    the caption fingerprint. Resuming a manifest produced under the OTHER
    keying would silently mix bucketing schemes (id-keyed completed buckets
    skipped, fingerprint-keyed pending buckets re-run) — duplicates survive
    and rows can land in two output partitions. The manifest pins the
    bucketing key and the mismatch must raise, not resume."""
    out, _, manifest = _run(tmp_path, [])
    capsys.readouterr()
    with pytest.raises(ValueError, match="bucketing key"):
        quality_filter_job.main(
            [
                "--synthetic", "400",
                "--output", str(out),
                "--audit", str(tmp_path / "audit2"),
                "--manifest", str(manifest),
                "--n-buckets", "4",
                "--dedup", "exact",
            ]
        )


def test_job_keep_only_record_without_counts_warns(spark, tmp_path, capsys):
    """ADVICE r3 (low): a completed bucket with rows==0 whose record has no
    audit counts is ambiguous — it may have had all its rows dropped by the
    keep filter under an older manifest — so its absent audit counts must
    trigger the keep-existing-audit warning, never silent omission. (Every
    bucket a keep-only run completes records its counts, 0 when empty.)"""
    out, audit, manifest = _run(tmp_path, ["--keep-only"])
    before = spark.read.parquet(str(audit)).collect()

    state = json.loads(Path(manifest).read_text())
    bucket = next(iter(state["completed"]))
    state["completed"][bucket]["rows"] = 0
    state["completed"][bucket].pop("counts")
    Path(manifest).write_text(json.dumps(state))

    with pytest.warns(UserWarning, match="audit counts missing"):
        quality_filter_job.main(
            [
                "--synthetic", "400",
                "--output", str(out),
                "--audit", str(audit),
                "--manifest", str(manifest),
                "--n-buckets", "4",
                "--buckets-per-batch", "2",
                "--keep-only",
            ]
        )
    capsys.readouterr()
    after = spark.read.parquet(str(audit)).collect()
    assert sorted(map(str, after)) == sorted(map(str, before))


def _summary(capsys) -> dict:
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def _audit_table(spark, audit) -> list:
    return sorted(
        (r.rule_id, r.records_evaluated, r.pass_rate, r.measurement_sample)
        for r in spark.read.parquet(str(audit)).collect()
    )


def _written_ids(spark, out) -> list:
    return sorted(r.image_id for r in spark.read.parquet(str(out)).select("image_id").collect())


def _group_batches(monkeypatch, sc, group: str) -> None:
    """Run the job's checkpointed batches (and nothing else) in job group
    ``group``."""
    from gchq_data_quality_spark.sources import checkpoint

    run_checkpointed = checkpoint.run_checkpointed

    def grouped(*args, **kwargs):
        sc.setJobGroup(group, "checkpointed batches")
        try:
            return run_checkpointed(*args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    monkeypatch.setattr(checkpoint, "run_checkpointed", grouped)


def test_job_keep_only_dedup_runs_two_spark_jobs_per_batch(spark, tmp_path, capsys, monkeypatch):
    """One write per batch: the dedup window's shuffle map stage and the
    write itself are the only Spark jobs — no cache fill, no counting
    pre-pass, no re-read of the output."""
    sc = spark.sparkContext
    group = f"dq-job-batches-{tmp_path.name}"
    _group_batches(monkeypatch, sc, group)
    _run(tmp_path, ["--keep-only", "--dedup", "exact"])  # 4 buckets, 2 per batch
    assert _summary(capsys)["buckets_run"] == 4
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2 * 2


def test_job_scores_a_one_row_group_input_in_one_task_per_batch(
    spark, tmp_path, capsys, monkeypatch, split_reads
):
    """Default mode over a one-row-group file read as several splits: each
    batch's write is one stage of ONE task, not one task per split (the
    empty ones would each start a scoring Python worker)."""
    path = write_images_parquet(tmp_path / "in.parquet", 400)
    assert split_reads(path).rdd.getNumPartitions() >= 2
    sc = spark.sparkContext
    group = f"dq-job-one-rg-{tmp_path.name}"
    _group_batches(monkeypatch, sc, group)
    _run(tmp_path, [], source=("--input", path))  # 4 buckets, 2 per batch
    assert _summary(capsys)["rows_written"] == 400
    assert stage_tasks(sc, group) == [[1], [1]]


def _metrics_under_exchange(plan) -> tuple[int, list[str]]:
    """(CollectMetrics nodes, those with an exchange above them) in a
    physical plan, AQE wrappers unwrapped."""
    found, under = [], []

    def walk(node, below_exchange):
        name = node.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return walk(node.executedPlan(), below_exchange)
        if name.endswith("QueryStage"):
            return walk(node.plan(), True)
        if name == "CollectMetrics":
            found.append(node.name())
            if below_exchange:
                under.append(node.name())
        below_exchange = below_exchange or "Exchange" in name
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i), below_exchange)

    walk(plan, False)
    return len(found), under


@pytest.mark.parametrize("extra", [[], ["--repartition-to", "4"]], ids=["plain", "salted"])
def test_job_observations_sit_above_every_exchange(spark, tmp_path, capsys, monkeypatch, extra):
    """An observation below an exchange would count a recomputed map
    stage's rows twice: the job's counters and the write's row counts must
    sit above the dedup window's exchange and annotate's salt repartition."""
    from pyspark.sql.readwriter import DataFrameWriter

    from gchq_data_quality_spark.sources.checkpoint import BUCKET_COL

    written = []
    parquet = DataFrameWriter.parquet

    def recording(self, path, *args, **kwargs):
        if BUCKET_COL in self._df.columns:
            written.append(self._df)
        return parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", recording)
    _run(tmp_path, ["--keep-only", "--dedup", "exact", *extra])
    capsys.readouterr()
    assert len(written) == 2  # one write per batch
    for frame in written:
        plan = frame._jdf.queryExecution().executedPlan()
        n_metrics, under = _metrics_under_exchange(plan)
        assert n_metrics == 2, plan.toString()  # the job's counters + rows
        assert under == [], plan.toString()


def test_job_crash_before_batch_record_resumes_to_same_result(spark, tmp_path, capsys, monkeypatch):
    """A crash after batch 2's write but before its completion record:
    the resumed run redoes that batch, and the output, the audit table and
    the whole-run drop count equal an uninterrupted run's."""
    from gchq_data_quality_spark.sources.checkpoint import CheckpointManifest

    flags = ["--keep-only", "--dedup", "exact"]
    (tmp_path / "whole").mkdir()
    (tmp_path / "crash").mkdir()
    out, audit, _ = _run(tmp_path / "whole", flags)
    whole = _summary(capsys)

    mark_done = CheckpointManifest.mark_done
    calls = []

    def crashing(self, records):
        calls.append(sorted(records))
        if len(calls) == 2:
            raise RuntimeError("crash before batch 2 is recorded")
        return mark_done(self, records)

    monkeypatch.setattr(CheckpointManifest, "mark_done", crashing)
    with pytest.raises(RuntimeError, match="batch 2"):
        _run(tmp_path / "crash", flags)
    monkeypatch.setattr(CheckpointManifest, "mark_done", mark_done)
    out2, audit2, _ = _run(tmp_path / "crash", flags)
    resumed = _summary(capsys)

    assert resumed["buckets_run"] == 2 and resumed["buckets_skipped"] == 2
    assert resumed["duplicates_dropped"] == whole["duplicates_dropped"] > 0
    assert _written_ids(spark, out2) == _written_ids(spark, out)
    assert _audit_table(spark, audit2) == _audit_table(spark, audit)


def test_job_incremental_history_dedup_across_runs(spark, tmp_path, capsys):
    """Incremental ingestion: run 1 emits its caption fingerprints; run 2
    over a superset input with --history-fps drops everything already
    shipped (except NULL-caption rows, which never dedup) and processes
    only the genuinely new rows."""
    from pyspark.sql import functions as F

    from gchq_data_quality_spark.sources.synthetic import generate_images_df

    fps1 = tmp_path / "fps1"
    quality_filter_job.main(
        [
            "--synthetic", "200",
            "--output", str(tmp_path / "out1"),
            "--audit", str(tmp_path / "audit1"),
            "--manifest", str(tmp_path / "m1.json"),
            "--n-buckets", "4",
            "--emit-fps", str(fps1),
        ]
    )
    capsys.readouterr()
    assert spark.read.parquet(str(fps1)).columns == ["fp"]

    # the 400-row synthetic table begins with the same 200 rows
    quality_filter_job.main(
        [
            "--synthetic", "400",
            "--output", str(tmp_path / "out2"),
            "--audit", str(tmp_path / "audit2"),
            "--manifest", str(tmp_path / "m2.json"),
            "--n-buckets", "4",
            "--history-fps", str(fps1),
        ]
    )
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    out2 = spark.read.parquet(str(tmp_path / "out2"))
    full = generate_images_df(spark, 400)
    first200 = generate_images_df(spark, 200)
    # expected survivors: rows whose caption fingerprint is NOT among the
    # first 200 non-null captions, plus every null-caption row
    from gchq_data_quality_spark.functions.dedup import fingerprints as fps_of

    from gchq_data_quality_spark.functions.text import fingerprint

    hist = {r.fp for r in fps_of(first200, "caption").collect()}
    per_row = (
        full.filter(F.col("caption").isNotNull())
        .select(fingerprint(F.col("caption")).alias("fp"))
        .collect()
    )
    expected = full.filter(F.col("caption").isNull()).count() + sum(
        1 for r in per_row if r.fp not in hist
    )
    assert out2.count() == expected
    assert summary["rows_written"] == expected
    # null-caption rows from the new batch survived the history filter
    assert out2.filter(F.col("caption").isNull()).count() == full.filter(
        F.col("caption").isNull()
    ).count()


def test_job_history_bloom_prefilter_is_transparent(spark, tmp_path, capsys):
    """--history-bloom-fpp only shrinks the history side of the probe
    join (no false negatives): survivors are row-for-row identical to the
    plain --history-fps run."""
    from pyspark.sql import functions as F

    fps1 = tmp_path / "fps1"
    quality_filter_job.main(
        [
            "--synthetic", "150",
            "--output", str(tmp_path / "out1"),
            "--audit", str(tmp_path / "audit1"),
            "--manifest", str(tmp_path / "m1.json"),
            "--n-buckets", "2",
            "--emit-fps", str(fps1),
        ]
    )
    capsys.readouterr()
    outs = {}
    for name, extra in {
        "plain": [],
        "bloom": ["--history-bloom-fpp", "0.01"],
    }.items():
        quality_filter_job.main(
            [
                "--synthetic", "300",
                "--output", str(tmp_path / f"out_{name}"),
                "--audit", str(tmp_path / f"audit_{name}"),
                "--manifest", str(tmp_path / f"m_{name}.json"),
                "--n-buckets", "2",
                "--history-fps", str(fps1),
                *extra,
            ]
        )
        capsys.readouterr()
        outs[name] = sorted(
            r.image_id
            for r in spark.read.parquet(str(tmp_path / f"out_{name}"))
            .select("image_id")
            .collect()
        )
    assert outs["plain"] == outs["bloom"]
    assert len(outs["plain"]) > 0


def test_job_history_toggle_on_resume_raises(spark, tmp_path, capsys):
    """Resuming a manifest with a DIFFERENT --history-fps (or after the
    history content would differ) mixes input lineages between completed
    and pending buckets — the manifest pins the history path and the
    mismatch raises."""
    fps = tmp_path / "fps"
    _run(tmp_path, ["--emit-fps", str(fps)])
    capsys.readouterr()

    out2 = tmp_path / "out2"
    m2 = tmp_path / "m2.json"
    common = [
        "--synthetic", "400",
        "--output", str(out2),
        "--audit", str(tmp_path / "audit2"),
        "--manifest", str(m2),
        "--n-buckets", "4",
    ]
    quality_filter_job.main([*common, "--history-fps", str(fps)])
    capsys.readouterr()
    # same path resumes fine (idempotent re-run, everything skipped)
    quality_filter_job.main([*common, "--history-fps", str(fps)])
    capsys.readouterr()
    with pytest.raises(ValueError, match="history-fps"):
        quality_filter_job.main(
            [*common, "--history-fps", str(tmp_path / "other_fps")]
        )


def test_neardup_preprocessing_job_chains_into_quality_filter(
    spark, tmp_path, capsys, monkeypatch
):
    """The documented two-job composition: near-dup dedup (global pair
    pass) first, its output feeds the bucket-checkpointed quality filter.
    The synthetic corpus plants exact duplicate captions, which are also
    near-duplicates at any threshold — they must be gone after job 1.
    Job 1 counts its output on its one write: it never reads it back."""
    import neardup_dedup_job

    from pyspark.sql import DataFrameReader
    from pyspark.sql import functions as F

    from gchq_data_quality_spark.functions.text import fingerprint

    reads: list = []
    real_parquet = DataFrameReader.parquet
    monkeypatch.setattr(
        DataFrameReader, "parquet",
        lambda self, *paths, **kw: reads.extend(paths) or real_parquet(self, *paths, **kw),
    )
    nd_out = tmp_path / "nd_out"
    neardup_dedup_job.main(
        [
            "--synthetic", "300",
            "--output", str(nd_out),
            "--threshold", "0.8",
            "--transitive",
            "--report-pairs",
        ]
    )
    assert str(nd_out) not in reads
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["rows_in"] == 300
    assert summary["near_dups_dropped"] > 0
    assert summary["verified_pairs"] >= summary["near_dups_dropped"]

    deduped = spark.read.parquet(str(nd_out))
    # exact duplicate captions are near-duplicates: none survive
    dup_fps = (
        deduped.filter(F.col("caption").isNotNull())
        .select(fingerprint(F.col("caption")).alias("fp"))
        .groupBy("fp").count().filter("count > 1").count()
    )
    assert dup_fps == 0
    # null-caption rows pass through untouched
    from gchq_data_quality_spark.sources.synthetic import generate_images_df

    n_null = generate_images_df(spark, 300).filter(F.col("caption").isNull()).count()
    assert deduped.filter(F.col("caption").isNull()).count() == n_null

    # chain into the quality filter job
    quality_filter_job.main(
        [
            "--input", str(nd_out),
            "--output", str(tmp_path / "qf_out"),
            "--audit", str(tmp_path / "qf_audit"),
            "--manifest", str(tmp_path / "qf_m.json"),
            "--n-buckets", "4",
        ]
    )
    qf_summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert qf_summary["rows_written"] == summary["rows_out"]


def test_job_size_gate_drops_proven_bad_dims_only(spark, tmp_path, capsys):
    """--size-gate filters on (w, h) metadata alone, BEFORE decode/scoring:
    with --min-side 24 the 16px synthetic clusters vanish from the output
    while 24/32px rows flow through; the expected survivor count is exactly
    the metadata predicate applied to the same generator output."""
    from pyspark.sql import functions as F

    from gchq_data_quality_spark.sources.synthetic import generate_images_df

    out, _, _ = _run(tmp_path, ["--size-gate", "--min-side", "24"])
    written = spark.read.parquet(str(out))
    expected = generate_images_df(spark, 400).filter(
        F.least("w", "h") >= 24
    ).count()
    assert 0 < expected < 400  # the generator plants 16px clusters
    assert written.count() == expected
    assert written.filter(F.least("w", "h") < 24).count() == 0


def test_job_size_gate_param_change_on_resume_raises(spark, tmp_path, capsys):
    _run(tmp_path, ["--size-gate", "--min-side", "24"])
    with pytest.raises(ValueError, match="size-gate"):
        _run(tmp_path, ["--size-gate", "--min-side", "32"])


@pytest.mark.parametrize("added", ["size-gate", "history-fps"])
def test_job_input_filter_added_on_resume_raises(spark, tmp_path, capsys, added):
    """A pre-bucketing input filter ADDED on resume would give the pending
    buckets a different input row set than the completed ones: the first
    run's lineage record (no gate, no history) must refuse it."""
    _run(tmp_path, ["--buckets-per-batch", "4"])  # one batch, all 4 buckets
    capsys.readouterr()
    extra = {
        "size-gate": ["--size-gate"],
        "history-fps": ["--history-fps", str(tmp_path / "fps")],
    }[added]
    with pytest.raises(ValueError, match=added):
        _run(tmp_path, extra)


def test_job_gate_presence_change_on_resume_raises(spark, tmp_path, capsys):
    """ADVICE r5: the lineage guards must fire UNCONDITIONALLY — resuming a
    gated manifest WITHOUT --size-gate (or a history-probed manifest
    without --history-fps) silently mixes input lineages."""
    _run(tmp_path, ["--size-gate", "--min-side", "24"])
    capsys.readouterr()
    with pytest.raises(ValueError, match="size-gate"):
        _run(tmp_path, [])

    fps = tmp_path / "fps2"
    quality_filter_job.main(
        [
            "--synthetic", "400",
            "--output", str(tmp_path / "oute"),
            "--audit", str(tmp_path / "audite"),
            "--manifest", str(tmp_path / "me.json"),
            "--n-buckets", "4",
            "--emit-fps", str(fps),
        ]
    )
    capsys.readouterr()
    out2 = tmp_path / "outp"
    m2 = tmp_path / "mp.json"
    common = [
        "--synthetic", "400",
        "--output", str(out2),
        "--audit", str(tmp_path / "auditp"),
        "--manifest", str(m2),
        "--n-buckets", "4",
    ]
    quality_filter_job.main([*common, "--history-fps", str(fps)])
    capsys.readouterr()
    with pytest.raises(ValueError, match="history-fps"):
        quality_filter_job.main(common)
