#!/usr/bin/env python
"""spark-submit preprocessing job: near-duplicate dedup ahead of the
quality filter.

Near-dup dedup needs a GLOBAL pair pass (similar documents land in
different checkpoint buckets), so it cannot run inside
quality_filter_job's bucket-local loop — run this first, then feed its
output to the quality filter:

    spark-submit --py-files dist/gchq_dq_spark.zip \
        jobs/neardup_dedup_job.py \
        --input  <parquet/iceberg of (id, text, ...)> \
        --output <deduped table> \
        --text-col caption --id-col image_id \
        --threshold 0.7 --transitive

    spark-submit ... jobs/quality_filter_job.py --input <deduped table> ...

Pipeline: MinHash-LSH candidates -> exact n-gram Jaccard verify ->
(optionally) connected components over the verified pair graph -> keep
one representative (min id) per duplicate group. Every stage is the
library operator the tests/oracles attest (functions/dedup.py,
functions/relational.py).

Local smoke run:

    python jobs/neardup_dedup_job.py --synthetic 500 \
        --output /tmp/nd_out --threshold 0.7 --transitive
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="input table (text + id columns)")
    p.add_argument("--synthetic", type=int, default=0,
                   help="generate N synthetic image+caption rows instead")
    p.add_argument("--output", required=True)
    p.add_argument("--text-col", default="caption")
    p.add_argument("--id-col", default="image_id")
    p.add_argument("--threshold", type=float, default=0.7,
                   help="exact n-gram Jaccard threshold for the verify stage")
    p.add_argument("--transitive", action="store_true",
                   help="connected components over the verified pair graph "
                        "(default: single-hop min-neighbour drop)")
    p.add_argument("--report-pairs", action="store_true",
                   help="also print the verified near-dup pair count "
                        "(one extra pass over the pair pipeline)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import Observation, SparkSession

    from gchq_data_quality_spark.functions.dedup import (
        minhash_dedup,
        ngram_jaccard_pairs,
    )
    from gchq_data_quality_spark.sources.io import read_table, write_table
    from gchq_data_quality_spark.sources.session import (
        apply_local_split_sizing,
        engine_conf,
    )

    pre_existing = SparkSession.getActiveSession() is not None
    builder = SparkSession.builder.appName("neardup_dedup_job")
    for key, value in engine_conf().items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    if pre_existing:
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

    # NULL texts are never near-duplicates of anything — keep them aside so
    # the shingle pipeline sees only real text (mirrors the exact-dedup
    # jobs' missing-text handling)
    from pyspark.sql import functions as F

    text = F.col(args.text_col)
    null_rows = df.filter(text.isNull())
    candidates_df = df.filter(text.isNotNull())

    t0 = time.time()
    n_pairs = None
    if args.report_pairs:
        n_pairs = ngram_jaccard_pairs(
            candidates_df, args.text_col, args.id_col, threshold=args.threshold
        ).count()
    kept = minhash_dedup(
        candidates_df,
        args.text_col,
        args.id_col,
        threshold=args.threshold,
        transitive=args.transitive,
    ).unionByName(null_rows)
    # rows_out is observed on the one write, not re-read from --output
    written = Observation()
    write_table(
        kept.observe(written, F.count(F.lit(1)).alias("rows")),
        args.output,
        mode="overwrite",
    )
    elapsed = time.time() - t0

    n_in = df.count()
    n_out = written.get["rows"]
    summary = {
        "rows_in": n_in,
        "rows_out": n_out,
        "near_dups_dropped": n_in - n_out,
        "elapsed_sec": round(elapsed, 2),
    }
    if n_pairs is not None:
        summary["verified_pairs"] = n_pairs
    print(json.dumps(summary))
    if not pre_existing:
        spark.stop()


if __name__ == "__main__":
    try:
        import gchq_data_quality_spark  # noqa: F401
    except ModuleNotFoundError:
        from pathlib import Path

        sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
    main()
