"""The workloads: what one operation does, its checks, and the
traced-only probes that attribute its cost to single layers.

Every call into the library sits inside ``tracer.span(<layer>)``; with
tracing off the tracer is a no-op, so the traced and untraced operations
run exactly the same library calls.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
from pathlib import Path

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import checks

ROOT = Path(__file__).resolve().parent.parent


class NullTracer:
    @contextlib.contextmanager
    def span(self, name, op_id=0):
        yield None


def dir_bytes(path: Path) -> int:
    return sum(
        f.stat().st_size
        for f in Path(path).rglob("*")
        if f.is_file() and not f.name.startswith((".", "_"))
    )


class Workload:
    name = ""
    input_kind = ""
    default_size = 0

    def __init__(self, inputs, work_dir: Path, build):
        self.inputs = inputs
        self.build = build  # (kind, size) -> Inputs at the run's seed
        self.work = Path(work_dir)
        self.work.mkdir(parents=True, exist_ok=True)
        self.counts: dict = {}

    def setup(self, spark, tracer) -> None:
        """Per-session preparation a spark-submit user pays on every run."""

    def op(self, spark, tracer, op_id: int):
        raise NotImplementedError

    def check(self, out) -> list[str]:
        raise NotImplementedError

    def out_bytes(self, out) -> int:
        raise NotImplementedError

    def probes(self, spark, tracer) -> list[str]:
        """Traced-run-only single-layer probes; may fill ``self.counts``.
        Returns the check errors of any probe whose output is checked."""
        return []


# ---------------------------------------------------------------------------
# filter: annotate -> zstd write of every row with its flags -> audit
# ---------------------------------------------------------------------------


def _train_models(tracer):
    from gchq_data_quality_spark.functions.langid import train_langid
    from gchq_data_quality_spark.functions.perplexity import train_perplexity
    from gchq_data_quality_spark.sources.synthetic import training_corpus

    texts, labels = training_corpus()
    with tracer.span("functions.langid.train"):
        langid = train_langid(texts, labels)
    with tracer.span("functions.perplexity.train"):
        ppl = train_perplexity(texts)
    return langid, ppl


class Filter(Workload):
    name = "filter"
    input_kind = "images"
    default_size = 4000

    def setup(self, spark, tracer):
        from gchq_data_quality_spark.pipeline import QualityFilterConfig, QualityFilterPipeline
        from gchq_data_quality_spark.sources.synthetic import LANGUAGES

        self.langid, self.ppl = _train_models(tracer)
        self.config = QualityFilterConfig(allowed_langs=LANGUAGES)
        self.pipe = QualityFilterPipeline(self.config, self.langid, self.ppl)
        self.out = self.work / "filtered"

    def op(self, spark, tracer, op_id):
        df = spark.read.parquet(self.inputs.path)
        with tracer.span("pipeline.annotate", op_id):
            annotated = self.pipe.annotate(df)
        with tracer.span("pipeline.write", op_id):
            annotated.write.mode("overwrite").option("compression", "zstd").parquet(str(self.out))
        with tracer.span("pipeline.audit", op_id):
            report = self.pipe.audit(spark.read.parquet(str(self.out)))
        return report

    def check(self, report):
        table = pq.read_table(self.out)
        written = dict(
            zip(
                table["image_id"].to_pylist(),
                zip(table["keep"].to_pylist(), table["caption_scrubbed"].to_pylist(), strict=True),
                strict=True,
            )
        )
        flag_counts, audit_rules = {}, {}
        for r in report.results:
            rid = r.rule_id
            evaluated = table[f"dq_{rid}_evaluated"]
            passing = pc.and_(evaluated, table[f"dq_{rid}_passing"])
            flag_counts[rid] = (pc.sum(evaluated).as_py() or 0, pc.sum(passing).as_py() or 0)
            rate = r.pass_rate or 0.0
            audit_rules[rid] = (r.records_evaluated, round(rate * r.records_evaluated))
        kept, total = _kept_total(report.results[0].measurement_sample)
        audit = {"kept": kept, "total": total, "rules": audit_rules}
        return checks.check_filter(written, table.num_rows, audit, flag_counts, self.inputs.expected)

    def out_bytes(self, report):
        return dir_bytes(self.out)

    def probes(self, spark, tracer):
        from pyspark.sql import functions as F

        from gchq_data_quality_spark.functions.scoring import scores_udf
        from gchq_data_quality_spark.pipeline import QualityFilterPipeline

        df = spark.read.parquet(self.inputs.path)
        with tracer.span("sources.scan"):
            df.agg(
                F.count(F.lit(1)),
                F.sum(F.length("bytes")),
                F.sum(F.length("caption")),
                F.sum("w"),
                F.sum(F.col("phash") % 7),
            ).collect()
        with tracer.span("functions.scoring"):
            udf = scores_udf(spark, self.langid, self.ppl)
            df.select(udf(F.col("caption")).alias("s")).agg(
                F.count("s.lang"), F.sum("s.ppl")
            ).collect()
        with tracer.span("operators.rules"):
            QualityFilterPipeline(self.config).annotate(df).agg(
                F.sum(F.col("keep").cast("long")), F.sum(F.length("caption_scrubbed"))
            ).collect()
        with tracer.span("sources.write"):
            df.write.mode("overwrite").option("compression", "zstd").parquet(
                str(self.work / "passthrough")
            )
        errors = FilterJobProbe(self.inputs, self.work).run(tracer, self.counts)
        rules = RulesProbe(self.build("rules", RulesProbe.size))
        return errors + rules.run(spark, tracer, self.counts)


def _kept_total(sample: str) -> tuple[int, int]:
    kept, total = (int(part.split("=")[1]) for part in sample.split("/"))
    return kept, total


# ---------------------------------------------------------------------------
# the deploy path: jobs/quality_filter_job.main --keep-only --dedup exact,
# run once per traced filter run as a probe
# ---------------------------------------------------------------------------


def _load_job(name: str):
    spec = importlib.util.spec_from_file_location(name, ROOT / "jobs" / f"{name}.py")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class FilterJobProbe:
    n_buckets = 16
    buckets_per_batch = 4

    def __init__(self, inputs, work: Path):
        self.inputs = inputs
        self.out = work / "job_out"
        self.audit = work / "job_audit"
        self.manifest = work / "job_manifest.json"

    def run(self, tracer, counts: dict) -> list[str]:
        """One checked job run; fills the job's counts, returns check errors."""
        job = _load_job("quality_filter_job")
        argv = [
            "--input", self.inputs.path,
            "--output", str(self.out),
            "--audit", str(self.audit),
            "--manifest", str(self.manifest),
            "--keep-only", "--dedup", "exact",
            "--n-buckets", str(self.n_buckets),
            "--buckets-per-batch", str(self.buckets_per_batch),
        ]  # fmt: skip
        buf = io.StringIO()
        with tracer.span("jobs.quality_filter_job"), contextlib.redirect_stdout(buf):
            job.main(argv)
        summary = json.loads(buf.getvalue().strip().splitlines()[-1])
        counts["jobs.quality_filter_job.batches"] = -(-summary["buckets_run"] // self.buckets_per_batch)
        counts["jobs.quality_filter_job.dup_share"] = summary["duplicates_dropped"] / self.inputs.rows
        return self.check()

    def check(self) -> list[str]:
        written = ds.dataset(self.out, format="parquet", partitioning="hive").to_table(columns=["image_id"])
        audit_t = pq.read_table(self.audit)
        kept, total = _kept_total(audit_t["measurement_sample"][0].as_py())
        audit = {
            "kept": kept,
            "total": total,
            "evaluated": dict(zip(audit_t["rule_id"].to_pylist(), audit_t["records_evaluated"].to_pylist(), strict=True)),
        }
        return checks.check_filter_job(written["image_id"].to_pylist(), audit, self.inputs.expected)


# ---------------------------------------------------------------------------
# the rule engine: DataQualityConfig.from_yaml -> execute(collect_samples=True)
# on its own seeded table, run as a probe of the traced filter run
# ---------------------------------------------------------------------------


class RulesProbe:
    size = 50000
    calls = 3  # the first call also warms the engine's code paths
    row_id = "id"

    def __init__(self, inputs):
        self.inputs = inputs

    def run(self, spark, tracer, counts: dict) -> list[str]:
        from gchq_data_quality_spark.config import DataQualityConfig
        from gchq_data_quality_spark.engine import compute_metrics
        from gchq_data_quality_spark.plans.flatten import explosion_signature, flatten

        df = spark.read.parquet(self.inputs.path)
        errors = []
        for _ in range(self.calls):
            with tracer.span("config.from_yaml"):
                config = DataQualityConfig.from_yaml(self.inputs.yaml_path)
            with tracer.span("config.execute"):
                report = config.execute(df, collect_samples=True, row_id_col=self.row_id)
            errors += checks.check_rules([r.model_dump() for r in report.results], self.inputs.expected)
        rules = list(config.rules)
        for _ in range(self.calls):
            with tracer.span("engine.compute_metrics"):
                compute_metrics(df, rules, collect_samples=False, row_id_col=self.row_id)
        groups: dict = {}
        for rule in rules:
            groups.setdefault(explosion_signature(rule.columns_used()), set()).update(rule.columns_used())
        with tracer.span("plans.flatten"):
            for cols in groups.values():
                flatten(df, sorted(cols), keep_cols=[self.row_id])
        counts["engine.groups"] = len(groups)
        counts["engine.failing_rules"] = sum(
            1 for r in report.results if r.pass_rate is not None and r.pass_rate < 1
        )
        return errors


# ---------------------------------------------------------------------------
# dedup: minhash_dedup(transitive, exact) -> write
# ---------------------------------------------------------------------------


class Dedup(Workload):
    name = "dedup"
    input_kind = "dedup"
    default_size = 4000
    threshold = 0.7

    def setup(self, spark, tracer):
        self.out = self.work / "deduped"

    def op(self, spark, tracer, op_id):
        from gchq_data_quality_spark.functions.dedup import minhash_dedup
        from gchq_data_quality_spark.sources.io import write_table

        df = spark.read.parquet(self.inputs.path)
        with tracer.span("functions.dedup.minhash_dedup", op_id):
            kept = minhash_dedup(df, "text", "id", threshold=self.threshold, transitive=True, exact=True)
            write_table(kept, str(self.out), mode="overwrite")

    def check(self, _):
        written = pq.read_table(self.out, columns=["id"])["id"].to_pylist()
        return checks.check_dedup(list(range(self.inputs.rows)), written, self.inputs.expected)

    def out_bytes(self, _):
        return dir_bytes(self.out)

    def probes(self, spark, tracer):
        from pyspark.sql import functions as F

        from gchq_data_quality_spark.functions.dedup import ngram_jaccard_pairs
        from gchq_data_quality_spark.functions.relational import connected_components
        from gchq_data_quality_spark.functions.shingle_arrow import band_bucket_structs, shingle_frame

        df = spark.read.parquet(self.inputs.path)
        with tracer.span("functions.dedup.ngram_jaccard_pairs"):
            pairs = ngram_jaccard_pairs(df, "text", "id", threshold=self.threshold).localCheckpoint()
            verified = pairs.count()
        with tracer.span("functions.relational.connected_components"):
            connected_components(pairs).count()
        # counts below are input properties, not timed layers
        candidates = ngram_jaccard_pairs(df, "text", "id", threshold=0.0).count()
        buckets = (
            shingle_frame(df, "text", "id", 5, n_hashes=32)
            .select(F.explode(band_bucket_structs(F.col("sig"), 32, 8)).alias("bb"))
            .groupBy("bb.band", "bb.bucket")
            .count()
            .agg(F.sum("count"), F.sum(F.when(F.col("count") > 1, F.col("count")).otherwise(0)))
            .collect()[0]
        )
        self.counts.update(
            {
                "functions.dedup.candidates": candidates,
                "functions.dedup.verified_pairs": verified,
                "functions.dedup.verify_yield": verified / candidates if candidates else 0.0,
                "functions.dedup.band_rows_shared": buckets[1] / buckets[0],
            }
        )
        return []


WORKLOADS = {w.name: w for w in (Filter, Dedup)}
