#!/usr/bin/env python3
"""Closed-loop benchmark of the quality-filter engine.

    python3 perfbench/run.py --workload filter --seed 1 --seconds 10 --trace 0

One client issues operations of the named workload back to back against a
``local[nproc]`` session: ``SETUPS`` cold set-ups (``setup_s`` is their
median), the first (cold) operation and ``WARMUP_S`` of unmeasured
operations, then the measured window. It checks every output
and prints as its last stdout line ``{"correct", "attempted", "failed",
"metrics"}``. The line before it is the full record: environment, sizes,
every metric with its unit, error rate, tail percentile and (with
``--trace 1``) every layer's figures with self times and the tracing
overhead.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced operations, runs the workload's single-layer probes
once, and reports the per-layer metrics.

Inputs are generated from ``--seed`` outside the timed region and cached
under ``.perfbench_cache/``; scratch output goes to ``.perfbench_work/``
and is removed on exit. Both live in the directory the command runs from.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import inputs as gen  # noqa: E402
from spans import RssSampler, SparkCounters, Tracer, tree_cpu_s  # noqa: E402
from stats import median, overhead, tail  # noqa: E402
from workloads import WORKLOADS, NullTracer  # noqa: E402

WARMUP_S = 5.0
# set-ups per untraced run, each in a fresh JVM; setup_s is their median
SETUPS = 3
# a fixed, pre-touched heap: with the library's default (8g, grown on
# demand) how far the heap has grown decides peak_rss_mb, which then
# varied by 0.10-0.15 between seeds against 0.013 with this (NOTES.md)
HEAP = "2g"
# operations of each other workload in a traced run (the first one is cold)
OTHER_OPS = 3

# the end-to-end metrics of the result line; the record also holds
# op_s_tail and error_rate (see NOTES.md for why they are not declared)
END_TO_END_UNITS = {
    "setup_s": "s",
    "rows_per_s": "1/s",
    "cpu_ms_per_krow": "ms",
    "peak_rss_mb": "MB",
    "out_bytes_per_in_byte": "ratio",
}
RECORD_ONLY_UNITS = {"op_s_tail": "s", "error_rate": "ratio"}

SPARK_LAYERS = [
    "pipeline.write",
    "pipeline.audit",
    "sources.scan",
    "functions.scoring",
    "operators.rules",
    "sources.write",
    "jobs.quality_filter_job",
    "config.execute",
    "engine.compute_metrics",
    "engine.samples",
    "functions.dedup.ngram_jaccard_pairs",
    "functions.relational.connected_components",
    "functions.dedup.minhash_dedup",
]
DRIVER_LAYERS = [
    "sources.session",
    "functions.langid.train",
    "functions.perplexity.train",
    "pipeline.annotate",
    "config.from_yaml",
    "plans.flatten",
]
SPARK_KEYS = ["s", "driver_s", "jobs", "stages", "tasks", "exec_cpu_s", "exec_busy_share"]
BYTE_METRICS = [
    "pipeline.write.output_bytes",
    "pipeline.audit.input_bytes",
    "sources.scan.input_bytes",
    "sources.write.output_bytes",
    "jobs.quality_filter_job.shuffle_bytes",
    "jobs.quality_filter_job.output_bytes",
    "config.execute.shuffle_bytes",
    "functions.dedup.ngram_jaccard_pairs.shuffle_bytes",
    "functions.dedup.minhash_dedup.shuffle_bytes",
    "functions.dedup.minhash_dedup.spill_bytes",
]
COUNT_METRICS = [
    "jobs.quality_filter_job.batches",
    "jobs.quality_filter_job.dup_share",
    "engine.groups",
    "engine.failing_rules",
    "functions.dedup.candidates",
    "functions.dedup.verified_pairs",
    "functions.dedup.verify_yield",
    "functions.dedup.band_rows_shared",
]
KEY_UNITS = {"jobs": "count", "stages": "count", "tasks": "count", "exec_busy_share": "ratio"}
COUNT_UNITS = {"dup_share": "ratio", "verify_yield": "ratio", "band_rows_shared": "ratio"}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric the traced run reports, with its unit."""
    units = {}
    for layer in SPARK_LAYERS:
        for key in SPARK_KEYS:
            units[f"{layer}.{key}"] = KEY_UNITS.get(key, "s")
    for layer in DRIVER_LAYERS:
        units[f"{layer}.s"] = "s"
    for name in BYTE_METRICS:
        units[name] = "bytes"
    for name in COUNT_METRICS:
        units[name] = COUNT_UNITS.get(name.rsplit(".", 1)[1], "count")
    return units


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work`` and
    let the Python workers import the library from the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # no hsperfdata file outside the checkout
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch"
    )
    tempfile.tempdir = str(tmp)


def start_session(cores: int):
    from gchq_data_quality_spark.sources.session import get_spark

    spark = get_spark(
        cores=cores,
        app_name="perfbench",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and end the JVM it launched, waiting for it: the
    JVM exits when its stdin pipe from this process closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.stdin.close()
    proc.wait(timeout=60)


def source_id() -> dict:
    """Git commit when the checkout is a repository, and always a digest of
    the library and job sources."""
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        commit = None
    h = hashlib.sha256()
    for path in sorted([*ROOT.glob("gchq_data_quality_spark/**/*.py"), *ROOT.glob("jobs/*.py")]):
        h.update(path.relative_to(ROOT).as_posix().encode())
        h.update(path.read_bytes())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def environment(spark, cores: int, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "nproc": cores,
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        **source_id(),
    }


class Runner:
    """Counts attempted and failed checked operations across workloads."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, wl, spark, op_id: int, traced: bool):
        """One checked operation: (wall s, tree CPU s, output bytes) or None."""
        tracer = self.tracer if traced else NullTracer()
        self.attempted += 1
        try:
            cpu0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
            with tracer.span(f"op.{wl.name}", op_id):
                out = wl.op(spark, tracer, op_id)
            wall, cpu = time.perf_counter() - t0, tree_cpu_s(os.getpid()) - cpu0
            errors = wl.check(out)
            out_bytes = wl.out_bytes(out)
        except Exception as exc:  # an op that raises counts as failed
            errors = [f"{type(exc).__name__}: {exc}"]
            traceback.print_exc(file=sys.stderr)
        if errors:
            self.failed += 1
            self.errors.extend(f"op {op_id}: {e}" for e in errors[:3])
            return None
        return wall, cpu, out_bytes

    def probes(self, wl, spark) -> None:
        """The traced-only probes count as one more checked operation."""
        self.attempted += 1
        try:
            errors = wl.probes(spark, self.tracer)
        except Exception as exc:
            errors = [f"{type(exc).__name__}: {exc}"]
            traceback.print_exc(file=sys.stderr)
        if errors:
            self.failed += 1
            self.errors.extend(f"probes: {e}" for e in errors[:3])


def layer_figures(tracer, cores: int) -> dict[str, dict]:
    """Median over calls of every figure of every traced layer."""
    by_name: dict[str, list[dict]] = {}
    for idx, span in enumerate(tracer.spans):
        by_name.setdefault(span.name, []).append(tracer.layer_record(idx, cores))
    layers = {
        name: {k: median([r[k] for r in recs]) for k in recs[0]} | {"calls": len(recs)}
        for name, recs in by_name.items()
    }
    if "config.execute" in layers and "engine.compute_metrics" in layers:
        # sample collection = execute(collect_samples=True) minus the same
        # config's metrics pass
        ex, cm = layers["config.execute"], layers["engine.compute_metrics"]
        samples = {k: ex[k] - cm[k] for k in ex if k not in ("exec_busy_share", "calls")}
        busy = ex["exec_busy_share"] * ex["s"] - cm["exec_busy_share"] * cm["s"]
        samples["exec_busy_share"] = busy / samples["s"] if samples["s"] > 0 else 0.0
        layers["engine.samples"] = samples
    return layers


def run(args) -> tuple[dict, dict]:
    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    import gchq_data_quality_spark  # noqa: F401  fail before any work if the library is absent

    cls = WORKLOADS[args.workload]
    size = cls.default_size
    cache = Path.cwd() / ".perfbench_cache"

    def build(kind: str, n: int):
        return gen.build(kind, args.seed, n, cache)

    t0 = time.perf_counter()
    data = build(cls.input_kind, size)
    gen_s = time.perf_counter() - t0
    work = Path.cwd() / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    prepare_environment(work)
    cores = len(os.sched_getaffinity(0))
    traced = args.trace == 1
    wl = cls(data, work / "out", build)
    tracer = Tracer()
    runner = Runner(tracer)
    spark = None
    setups: list[float] = []
    cold = None
    try:
        with RssSampler() as rss:
            # set-up is what a spark-submit user pays on every run before the
            # first operation: JVM and session start, model training. Each
            # set-up starts a fresh JVM; the traced run needs only one
            setup_tracer = tracer if traced else NullTracer()
            for _ in range(1 if traced else SETUPS):
                if spark is not None:
                    stop_session(spark)
                    spark = None
                t0 = time.perf_counter()
                with setup_tracer.span("sources.session"):
                    spark = start_session(cores)
                if traced:
                    tracer.counters = SparkCounters(spark)
                wl.setup(spark, setup_tracer)
                setups.append(time.perf_counter() - t0)
            env = environment(spark, cores, args.seed)
            # the first operation pays JIT compilation, class loading and the
            # Python workers' start; it is in the record, not in setup_s
            cold = runner.op(wl, spark, 0, traced=False)

            # JIT compilation keeps speeding operations up for tens of
            # seconds after the first one: run checked operations for
            # WARMUP_S before the measured window
            op_id, warm_start, warm = 0, time.perf_counter(), []
            while time.perf_counter() - warm_start < WARMUP_S and not runner.failed:
                op_id += 1
                warm.append(runner.op(wl, spark, op_id, traced=False))

            plain, with_trace = [], []
            loop_start = time.perf_counter()

            def more() -> bool:
                # past the time, finish only to get one untraced (and one
                # traced) sample, and never after a failure
                if time.perf_counter() - loop_start < args.seconds:
                    return True
                return not runner.failed and (not plain or (traced and not with_trace))

            while more():
                op_id += 1
                use_trace = traced and op_id % 2 == 0
                res = runner.op(wl, spark, op_id, traced=use_trace)
                if res is not None:
                    (with_trace if use_trace else plain).append(res)
            if traced:
                runner.probes(wl, spark)
                # every traced run reports every layer: the other workloads'
                # layers come from a few of their operations and their probes
                for other_cls in WORKLOADS.values():
                    if other_cls is cls:
                        continue
                    other = other_cls(build(other_cls.input_kind, other_cls.default_size), work / other_cls.name, build)
                    other.setup(spark, tracer)
                    for _ in range(OTHER_OPS):
                        op_id += 1
                        runner.op(other, spark, op_id, traced=True)
                    runner.probes(other, spark)
                    wl.counts.update(other.counts)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = {
        "workload": args.workload,
        "trace": args.trace,
        "env": env,
        "input": {"rows": data.rows, "bytes": data.in_bytes, "size": size, "gen_s": gen_s},
        "input_properties": {k: v for k, v in data.expected.items() if isinstance(v, (int, float))},
        "setup_s_each": setups,
        "cold_op_s": cold[0] if cold else None,
        "warmup_op_s": [res[0] for res in warm if res],
        "ops": len(plain),
        "attempted": runner.attempted,
        "failed": runner.failed,
        "error_rate": runner.failed / runner.attempted,
        "errors": runner.errors[:10],
    }
    if not plain or cold is None:
        return record, {}
    walls = [w for w, _, _ in plain]
    rows = data.rows
    tail_s, tail_pct, tail_beyond = tail(walls)
    e2e = {
        "setup_s": median(setups),
        "rows_per_s": median([rows / w for w in walls]),
        "cpu_ms_per_krow": 1000 * sum(c for _, c, _ in plain) / (rows * len(plain) / 1000),
        "peak_rss_mb": rss.peak / 2**20,
        "out_bytes_per_in_byte": median([b / data.in_bytes for _, _, b in plain]),
    }
    record_only = {"op_s_tail": tail_s, "error_rate": record["error_rate"]}
    units = END_TO_END_UNITS | RECORD_ONLY_UNITS
    record["end_to_end"] = {k: {"value": v, "unit": units[k]} for k, v in (e2e | record_only).items()}
    record["op_s_tail_percentile"] = tail_pct
    record["op_s_tail_beyond"] = tail_beyond
    record["op_s_median"] = median(walls)
    record["op_s"] = walls
    record["op_cpu_s"] = [c for _, c, _ in plain]
    if not traced:
        return record, {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}

    layers = layer_figures(tracer, cores)
    record["layers"] = layers
    first = tracer.spans[0].start
    record["spans"] = [  # name, op id, parent index, start, duration (s)
        [s.name, s.op_id, s.parent, s.start - first, s.dur] for s in tracer.spans
    ]
    record["counts"] = wl.counts
    traced_walls = [w for w, _, _ in with_trace]
    record["trace_overhead"] = {
        "untraced_op_s": median(walls),
        "traced_op_s": median(traced_walls),
        "share": overhead(walls, traced_walls),
        "ops": [len(walls), len(traced_walls)],
    }
    metrics = {}
    for name, unit in per_layer_units().items():
        if name in COUNT_METRICS:
            value = wl.counts.get(name, 0)
        else:
            layer, key = name.rsplit(".", 1)
            value = layers.get(layer, {}).get(key, 0)
        metrics[name] = {"value": value, "unit": unit}
    return record, metrics


def main(argv=None) -> int:
    args = parse_args(sys.argv[1:] if argv is None else argv)
    record, metrics = run(args)
    print(json.dumps({"record": record}, default=str))
    if not metrics:
        print("no successful operation or setup; no result", file=sys.stderr)
        return 1
    final = {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": metrics,
    }
    print(json.dumps(final))
    return 0


if __name__ == "__main__":
    sys.exit(main())
