#!/usr/bin/env python
"""spark-submit entry point for the quality-filter pipeline.

Cluster usage (the north-rule deployment shape):

    scripts/package_pyfiles.sh                      # -> dist/gchq_dq_spark.zip
    spark-submit \
        --py-files dist/gchq_dq_spark.zip \
        jobs/quality_filter_job.py \
        --input  <iceberg table or parquet path> \
        --output <parquet/iceberg output> \
        --audit  <audit table path> \
        --manifest /shared/checkpoints/run1.json \
        --train-docs <documents table for model training> \
        --n-buckets 256 --buckets-per-batch 16 --resume

The job is resumable: re-submitting with the same --manifest skips completed
buckets (per-partition lineage lives in the manifest; output writes are
idempotent dynamic partition overwrites). Models are trained once on the
driver from --train-docs (or the built-in deterministic corpus) and broadcast.

Each batch of buckets is ONE Spark write (two jobs with --dedup exact: the
window's shuffle map stage, then the write). Every count the job keeps —
rows written, duplicates dropped, the --keep-only audit counters — is
observed per bucket on that write and lands in the bucket's completion
record: no cache, no counting pre-pass, no re-read of the output.

Local smoke run:

    python jobs/quality_filter_job.py --synthetic 2000 \
        --output /tmp/qf_out --audit /tmp/qf_audit --manifest /tmp/qf.json
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="input table path (image+caption schema)")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N synthetic rows instead of reading --input")
    p.add_argument("--output", required=True)
    p.add_argument("--audit", required=True)
    p.add_argument("--manifest", required=True)
    p.add_argument("--train-docs", help="labelled documents table for langid training")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--buckets-per-batch", type=int, default=8)
    p.add_argument("--resume", action="store_true", default=True)
    p.add_argument("--no-resume", dest="resume", action="store_false")
    p.add_argument("--salt", type=int, default=16,
                   help="salt buckets for skew-safe repartition (0 = off)")
    p.add_argument("--repartition-to", type=int, default=0)
    p.add_argument("--allowed-langs", default="")
    p.add_argument("--keep-only", action="store_true",
                   help="write only keep=true rows (default writes all + flags)")
    p.add_argument("--size-gate", action="store_true",
                   help="decode-free metadata pre-filter: drop rows whose "
                        "(w, h) prove the image bad (min-side / aspect / "
                        "decompression-bomb gates) BEFORE any payload read "
                        "or scoring — at corpus scale this is a pruned "
                        "2-int-column scan and the dropped rows' bytes are "
                        "never touched. Rows with NULL/invalid dims are "
                        "KEPT (unknown, not proven bad — decode + rules "
                        "judge them). Gate params are pinned in the "
                        "manifest; resuming with different params raises")
    p.add_argument("--min-side", type=int, default=64)
    p.add_argument("--max-aspect", type=float, default=3.0)
    p.add_argument("--max-pixels", type=int, default=89_478_485)
    p.add_argument("--history-fps", default=None,
                   help="parquet of prior-run caption fingerprints (column "
                        "'fp'): rows whose caption fingerprint appears there "
                        "are dropped BEFORE processing — incremental dedup "
                        "against the already-ingested corpus. NULL captions "
                        "never match (they are a rule-flagged defect class, "
                        "not dedup casualties)")
    p.add_argument("--history-bloom-fpp", type=float, default=0.0,
                   help="> 0: before the --history-fps probe join, drop "
                        "history fingerprints map-side against a Bloom "
                        "filter of THIS batch's fingerprints built at the "
                        "given false-positive rate (e.g. 0.01). Pays off "
                        "when the accumulated history dwarfs the batch — "
                        "the history side of the probe join shrinks to "
                        "|batch| + fpp*|history| before any shuffle; "
                        "results are identical either way (no false "
                        "negatives)")
    p.add_argument("--emit-fps", default=None,
                   help="after the run, write the output captions' distinct "
                        "fingerprints here (parquet, column 'fp') — union "
                        "with the previous history to feed the next run's "
                        "--history-fps")
    p.add_argument("--dedup", choices=["off", "exact"], default="off",
                   help="exact: drop duplicate captions (normalised-fingerprint "
                        "equality, min image_id wins). Buckets are keyed by the "
                        "caption fingerprint so identical captions co-locate — "
                        "bucket-local dedup IS global dedup, and resume "
                        "semantics are preserved. Near-dup (minhash/simhash) "
                        "needs a global pair pass: run functions/dedup."
                        "minhash_dedup as a preprocessing job instead")
    return p.parse_args(argv)


def check_input_lineage(manifest, lineage: dict) -> None:
    """Pin the input filters that run BEFORE bucketing (--size-gate params,
    --history-fps path) in the manifest. Completed and pending buckets only
    see the same rows when every run of one manifest uses the same values,
    so the first run records them and any later run that adds, removes or
    changes either one raises, whether or not it resumes."""
    state = manifest.load()
    meta = state.get("meta", {})
    prev = meta.get("lineage")
    if prev is None and state["completed"]:
        # a manifest written before the lineage record kept one key per flag
        prev = {
            "size_gate": meta.get("size_gate"),
            "history_fps": meta.get("history_fps", {}).get("path"),
        }
    if prev is None:
        manifest.merge_meta("lineage", lineage)
        return
    changed = [
        f"--{key.replace('_', '-')} {prev.get(key)!r} -> {value!r}"
        for key, value in lineage.items()
        if prev.get(key) != value
    ]
    if changed:
        raise ValueError(
            f"Manifest input lineage differs ({'; '.join(changed)}): resuming "
            "would mix input lineages — use a fresh manifest"
        )


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from gchq_data_quality_spark.functions.langid import (
        train_langid,
        train_langid_from_documents,
    )
    from gchq_data_quality_spark.functions.perplexity import (
        train_perplexity,
        train_perplexity_from_documents,
    )
    from gchq_data_quality_spark.pipeline import QualityFilterConfig, QualityFilterPipeline
    from gchq_data_quality_spark.sources.checkpoint import run_checkpointed
    from gchq_data_quality_spark.sources.io import read_table, write_table
    from gchq_data_quality_spark.sources.session import (
        apply_local_split_sizing,
        engine_conf,
    )

    # The engine's semantic invariants (UTC, non-ANSI, Arrow batching) must
    # hold on ANY cluster this job is submitted to — Spark 4.x defaults to
    # ANSI, where one malformed row would abort the job instead of being
    # counted/skipped by the rule algebra.
    pre_existing = SparkSession.getActiveSession() is not None
    builder = SparkSession.builder.appName("quality_filter_job")
    for key, value in engine_conf().items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if pre_existing:
        # getOrCreate() silently ignores builder configs on an existing
        # session; every engine invariant is a runtime-settable SQL conf
        # (ANSI off, UTC, Arrow batching), so apply them directly — on an
        # ANSI session one malformed row would otherwise abort the job.
        for key, value in engine_conf().items():
            spark.conf.set(key, value)
    apply_local_split_sizing(spark)
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        from gchq_data_quality_spark.sources.synthetic import generate_images_df

        df = generate_images_df(spark, args.synthetic)
    elif args.input:
        df = read_table(spark, args.input)
    else:
        raise SystemExit("one of --input or --synthetic is required")

    if args.train_docs:
        docs = read_table(spark, args.train_docs)
        langid_model = train_langid_from_documents(spark, docs)
        ppl_model = train_perplexity_from_documents(spark, docs)
        allowed = args.allowed_langs.split(",") if args.allowed_langs else langid_model.languages
    else:
        from gchq_data_quality_spark.sources.synthetic import LANGUAGES, training_corpus

        texts, labels = training_corpus()
        langid_model = train_langid(texts, labels)
        ppl_model = train_perplexity(texts)
        allowed = args.allowed_langs.split(",") if args.allowed_langs else LANGUAGES

    config = QualityFilterConfig(
        allowed_langs=allowed,
        salt=args.salt or None,
        repartition_to=args.repartition_to or None,
    )
    pipe = QualityFilterPipeline(config, langid_model, ppl_model)

    from gchq_data_quality_spark.sources.checkpoint import CheckpointManifest

    check_input_lineage(
        CheckpointManifest(args.manifest),
        {
            "size_gate": {
                "min_side": args.min_side,
                "max_aspect": args.max_aspect,
                "max_pixels": args.max_pixels,
            }
            if args.size_gate
            else None,
            "history_fps": args.history_fps,
        },
    )

    if args.size_gate:
        # decode-free metadata gate, FIRST (cheapest filter wins): proven-bad
        # dims drop the row before the history probe, bucketing, decode, or
        # any scoring touches it.
        from pyspark.sql import functions as F

        from gchq_data_quality_spark.functions.images import image_size_flags

        flags = image_size_flags(
            F.col("w"), F.col("h"),
            min_side=args.min_side,
            max_aspect=args.max_aspect,
            max_pixels=args.max_pixels,
        )
        # drop only PROVEN-bad rows; NULL/invalid dims keep flowing (the
        # struct's specific flags are False there by design)
        df = df.filter(
            ~(flags["too_small"] | flags["extreme_aspect"] | flags["too_large"])
        )

    if args.history_fps:
        # incremental ingestion: drop rows already shipped by prior runs,
        # applied BEFORE bucketing so resume lineage sees the same filtered
        # input every run (the probe is deterministic). Payload-light (r5):
        # the fingerprint probe joins a (fp, id) projection — when the
        # history outgrows AQE's broadcast threshold the fp shuffle carries
        # 16 bytes/row, never the image bytes; the full frame is then
        # anti-joined against the (small, mostly-empty) already-ingested id
        # set, which AQE broadcasts on a typical fresh batch.
        # NULL captions bypass: fingerprint(NULL) is one constant and must
        # never collapse or cross-drop the missing-caption defect class.
        from pyspark.sql import functions as F

        from gchq_data_quality_spark.functions.text import fingerprint

        probe = (
            read_table(spark, args.history_fps)
            .select(F.col("fp").alias("__hist_fp"))
            .distinct()
        )
        cap = F.col(config.caption_col)
        if args.history_bloom_fpp > 0:
            # Bloom-of-batch prefilter of the HISTORY side (functions/
            # bloom.py): at corpus scale the accumulated history dwarfs
            # each batch, and this drops non-candidate history rows
            # map-side before the probe join's exchange. No false
            # negatives, so survivors are identical with or without it.
            from gchq_data_quality_spark.functions.bloom import (
                bloom_prefilter,
                build_bloom,
            )

            batch_bloom = build_bloom(
                df.filter(cap.isNotNull()).select(
                    fingerprint(cap).alias("__fp")
                ),
                "__fp",
                fpp=args.history_bloom_fpp,
            )
            probe = bloom_prefilter(probe, "__hist_fp", batch_bloom)
        ingested_ids = (
            df.filter(cap.isNotNull())
            .select(fingerprint(cap).alias("__hist_fp"), F.col(config.id_col))
            .join(probe, "__hist_fp", "left_semi")
            .select(config.id_col)
        )
        df = (
            df.filter(cap.isNotNull())
            .join(ingested_ids, config.id_col, "left_anti")
            .unionByName(df.filter(cap.isNull()))
        )

    # --dedup exact: key the checkpoint buckets by the caption fingerprint
    # instead of the row id. bucket = pmod(xxhash64(key), n) is a pure
    # function of the caption, so every copy of a caption lands in ONE
    # bucket and the per-bucket min-id filter below is a GLOBAL exact dedup
    # — no cross-bucket pass, no shared state, resume-safe (a re-run of any
    # bucket reproduces the same keeper).
    key_col = config.id_col
    dedup_fp_col = None
    if args.dedup == "exact":
        from pyspark.sql import functions as F

        from gchq_data_quality_spark.functions.text import fingerprint

        dedup_fp_col = "dq_caption_fp"
        # NULL captions must NOT share a fingerprint: fingerprint(NULL) =
        # xxhash64(NULL) is one constant, which would collapse every
        # missing-caption row (a defect class the rules are supposed to
        # flag, not delete) into a single survivor. Missing-caption rows
        # get a per-row key instead — never deduplicated.
        df = df.withColumn(
            dedup_fp_col,
            F.when(
                F.col(config.caption_col).isNotNull(),
                fingerprint(F.col(config.caption_col)),
            ).otherwise(F.xxhash64(F.lit("__null_caption__"), F.col(config.id_col))),
        )
        key_col = dedup_fp_col

    # Every count below is observed per bucket on the batch's one write
    # (run_checkpointed's ``observe``), on the annotated frame: above the
    # dedup window's exchange and annotate's optional salt repartition, so
    # a recomputed map stage cannot count a row twice. Each count lands in
    # its bucket's completion record, written after the write succeeds: a
    # resumed run adds the counts of the buckets it skips, and a crash
    # loses no count of a completed bucket.
    # - --dedup exact: the per-bucket min-id filter keeps the first row of
    #   each caption group, and that keeper carries its group's size - 1 —
    #   the rows the filter drops. Summing it on the annotated frame counts
    #   the drops without evaluating the window a second time.
    # - --keep-only drops failing rows from the output, so the audit CANNOT
    #   be computed from the written files (pass_rate would read ~1.0 and
    #   measure nothing): the audit counters are observed before the keep
    #   filter, so the written audit covers the WHOLE input.
    shuffle_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def transform(part, observe):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        counters = {}
        if dedup_fp_col is not None:
            w = Window.partitionBy(dedup_fp_col).orderBy(config.id_col)
            group = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
            # the window's one exchange, with a fixed partition count: AQE
            # coalesces a small batch's shuffle into ONE partition, and
            # annotate's scoring UDF then runs on a single core
            part = (
                part.repartition(shuffle_partitions, dedup_fp_col)
                .withColumns(
                    {
                        "__dq_dup_rn": F.row_number().over(w),
                        "__dq_dups": F.count(F.lit(1)).over(group) - 1,
                    }
                )
                .filter(F.col("__dq_dup_rn") == 1)
                .drop("__dq_dup_rn", dedup_fp_col)
            )
            counters["duplicates_dropped"] = F.col("__dq_dups")
        out = pipe.annotate(part)
        if args.keep_only:
            counters.update(pipe.audit_counters())
        if counters:
            out = observe(out, counters)
        if args.keep_only:
            out = out.filter("keep")
        return out.drop("__dq_dups")

    t0 = time.time()
    summary = run_checkpointed(
        df,
        output_path=args.output,
        manifest_path=args.manifest,
        key_col=key_col,
        transform=transform,
        n_buckets=args.n_buckets,
        buckets_per_batch=args.buckets_per_batch,
        resume=args.resume,
    )
    elapsed = time.time() - t0
    completed = CheckpointManifest(args.manifest).load()["completed"]
    if dedup_fp_col is not None:
        # whole-run total; a record without the count reads as 0 dropped
        summary["duplicates_dropped"] = sum(
            record.get("counts", {}).get("duplicates_dropped", 0)
            for record in completed.values()
        )

    if args.keep_only:
        names = pipe.audit_counters().keys()
        missing = sorted(
            b for b, record in completed.items()
            if not names <= record.get("counts", {}).keys()
        )
        if missing:
            # a bucket completed by an older or a non-keep-only run has no
            # audit counts in its record: a rewrite would under-report the
            # dataset, so keep the previously written audit and say so
            import warnings

            warnings.warn(
                f"audit counts missing for completed buckets {missing}; "
                "keeping the existing audit table",
                stacklevel=1,
            )
            audit_df = None
        else:
            totals = {
                name: sum(record["counts"][name] for record in completed.values())
                for name in names
            }
            audit_df = pipe.report_to_df(spark, pipe.report_from_counts(totals))
    else:
        # read_table, not spark.read.parquet: when --output is a catalog
        # table name, write_table went through Iceberg saveAsTable and a
        # parquet path read would crash here (ADVICE r4)
        audit_df = pipe.audit_df(read_table(spark, args.output))
    if audit_df is not None:
        write_table(audit_df, args.audit, mode="overwrite")

    if args.emit_fps:
        # the next run's --history-fps delta: distinct caption fingerprints
        # of everything this run shipped (NULL captions excluded — see the
        # probe above). Written AFTER all buckets complete, so a crashed
        # run never advertises fingerprints for rows it did not write.
        from gchq_data_quality_spark.functions.dedup import fingerprints

        write_table(
            fingerprints(
                read_table(spark, args.output), config.caption_col
            ),
            args.emit_fps,
            mode="overwrite",
        )

    print(json.dumps({**summary, "elapsed_sec": round(elapsed, 2),
                      "rows_per_sec": round(summary["rows_written"] / max(elapsed, 1e-9), 1)}))
    if not pre_existing:  # don't tear down a session the caller owns
        spark.stop()


if __name__ == "__main__":
    try:
        import gchq_data_quality_spark  # noqa: F401
    except ModuleNotFoundError:
        # direct `python jobs/quality_filter_job.py` puts jobs/ (not the
        # repo root) on sys.path; on a cluster --py-files provides the zip
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    main()
