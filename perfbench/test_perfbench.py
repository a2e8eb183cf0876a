"""Tests of the benchmark itself: generators, checks, statistics, spans.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

import pyarrow.parquet as pq
import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402
from spans import Tracer, union_length  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SMALL = {"images": 300, "rules": 3000, "dedup": 400}


def digest(data: inputs.Inputs) -> str:
    return hashlib.sha256(Path(data.path).read_bytes()).hexdigest()


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    cache = tmp_path_factory.mktemp("cache")
    return {kind: inputs.build(kind, 3, n, cache) for kind, n in SMALL.items()}


# -- generators --------------------------------------------------------------


@pytest.mark.parametrize("kind", sorted(SMALL))
def test_generators_are_deterministic_per_seed(kind, tmp_path, built):
    again = inputs.build(kind, 3, SMALL[kind], tmp_path / "a")
    other = inputs.build(kind, 4, SMALL[kind], tmp_path / "b")
    assert digest(again) == digest(built[kind])
    assert again.expected == built[kind].expected
    assert digest(other) != digest(built[kind])


def test_program_input_carries_no_expectations(built):
    assert pq.read_schema(built["images"].path).names == ["image_id", "bytes", "w", "h", "fmt", "caption", "phash"]


def test_caption_key_mirrors_fingerprint_normalisation():
    assert inputs.caption_key("  Foo,  BAR!\tbaz ") == "foo bar baz"
    assert inputs.caption_key("$$$ 12 @@@ %%% ### 12") == " 12 12"
    assert inputs.caption_key(None) is None


# -- checks ------------------------------------------------------------------


def _filter_outputs(expected):
    written = {i: (expected["keep"][i], expected["scrubbed"][i]) for i in expected["keep"]}
    counts = {"caption_present": (10, 9)}
    audit = {"kept": expected["n_keep"], "total": len(written), "rules": dict(counts)}
    return written, audit, counts


def test_filter_check_rejects_one_flipped_keep(built):
    expected = built["images"].expected
    written, audit, counts = _filter_outputs(expected)
    n = len(written)
    assert checks.check_filter(written, n, audit, counts, expected) == []
    assert checks.check_filter(written, n + 1, audit, counts, expected)  # a row written twice
    first = next(iter(written))
    keep, scrubbed = written[first]
    written[first] = (not keep, scrubbed)
    assert checks.check_filter(written, n, audit, counts, expected)


def test_filter_check_rejects_wrong_audit_totals(built):
    expected = built["images"].expected
    written, audit, counts = _filter_outputs(expected)
    audit["kept"] += 1
    assert checks.check_filter(written, len(written), audit, counts, expected)


def test_filter_job_check_rejects_a_missing_row(built):
    expected = built["images"].expected
    ids = list(expected["job_written_ids"])
    audit = {"kept": len(ids), "total": expected["job_rows_after_dedup"], "evaluated": {"r": 1}}
    assert checks.check_filter_job(ids, audit, expected) == []
    assert checks.check_filter_job(ids[1:], audit, expected)
    assert checks.check_filter_job(ids + ids[:1], audit, expected)


def _perfect_rule_results(data):
    """Rule results as a correct engine would report them, with real
    failing records from the generated table as samples."""
    rows = {r["id"]: r for r in pq.read_table(data.path).to_pylist()}
    results = []
    for rid, (evaluated, passing) in data.expected["counts"].items():
        bad = data.expected["failing"][rid]
        if rid == "order_ref_unique":
            sample, ids = [{"order_ref": v} for v in bad[:3]], None
        else:
            ids, sample = bad[:3], []
            for i in ids:
                row = rows[i]
                records = (
                    [{f"items[*].{k}": v for k, v in item.items()} for item in row["items"]]
                    if rid.startswith("item_")
                    else [row]
                )
                sample.append(next(r for r in records if checks.FAILS[rid](r)))
        results.append(
            {
                "rule_id": rid,
                "records_evaluated": evaluated,
                "pass_rate": passing / evaluated,
                "records_failed_sample": sample,
                "records_failed_ids": ids,
            }
        )
    return results, rows


def test_rules_check_rejects_off_by_one_count(built):
    data = built["rules"]
    results, _ = _perfect_rule_results(data)
    assert checks.check_rules(results, data.expected) == []
    results[0]["records_evaluated"] += 1
    assert checks.check_rules(results, data.expected)


def test_rules_check_rejects_a_sampled_record_that_passes(built):
    data = built["rules"]
    results, rows = _perfect_rule_results(data)
    code = next(r for r in results if r["rule_id"] == "code_shape")
    good = next(i for i in rows if i not in set(data.expected["failing"]["code_shape"]))
    code["records_failed_sample"][0] = {"code": rows[good]["code"]}
    code["records_failed_ids"][0] = good
    errors = checks.check_rules(results, data.expected)
    assert any("passes the rule" in e for e in errors)
    assert any("not a planted defect" in e for e in errors)


def test_every_rule_has_planted_defects(built):
    counts = built["rules"].expected["counts"]
    assert len(counts) == 12
    assert all(p < e for e, p in counts.values())


def test_dedup_check_rejects_a_missed_duplicate(built):
    data = built["dedup"]
    dropped = set(data.expected["dropped"])
    ids = list(range(data.rows))
    written = [i for i in ids if i not in dropped]
    assert checks.check_dedup(ids, written, data.expected) == []
    assert checks.check_dedup(ids, written + [min(dropped)], data.expected)
    assert checks.check_dedup(ids, written[1:], data.expected)
    assert checks.check_dedup(ids, written + [data.rows], data.expected)


def test_dedup_clusters_keep_their_minimum(built):
    expected = built["dedup"].expected
    assert expected["clusters"]
    kept = {g[0] for g in expected["clusters"]}
    assert kept.isdisjoint(expected["dropped"])
    assert len(expected["dropped"]) == sum(len(g) - 1 for g in expected["clusters"])


# -- statistics --------------------------------------------------------------


def test_tail_picks_highest_percentile_with_ten_samples_beyond():
    assert stats.tail([float(v) for v in range(30, 0, -1)]) == (15.0, 50.0, 15)
    assert stats.tail([float(v) for v in range(1, 41)]) == (30.0, 75.0, 10)
    assert stats.tail([float(v) for v in range(1, 101)]) == (90.0, 90.0, 10)
    assert stats.tail([float(v) for v in range(1, 1001)]) == (990.0, 99.0, 10)


def test_tail_with_too_few_samples_reports_the_maximum():
    assert stats.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)
    assert stats.tail([float(v) for v in range(19)]) == (18.0, 100.0, 0)


# -- spans -------------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def test_self_time_subtracts_child_spans():
    clock = FakeClock()
    tracer = Tracer(clock=clock, wall=clock)
    with tracer.span("op", 1):
        clock.now = 1.0
        with tracer.span("a", 1):
            clock.now = 3.0
        with tracer.span("b", 1):
            clock.now = 3.5
            with tracer.span("b.inner", 1):
                clock.now = 4.0
        clock.now = 6.0
    names = [s.name for s in tracer.spans]
    op, b = names.index("op"), names.index("b")
    assert tracer.spans[op].dur == 6.0
    assert tracer.self_time(op) == pytest.approx(6.0 - 2.0 - 1.0)
    assert tracer.self_time(b) == pytest.approx(0.5)
    assert tracer.spans[names.index("b.inner")].parent == b


def test_driver_time_excludes_job_intervals():
    clock = FakeClock()
    tracer = Tracer(clock=clock, wall=clock)
    with tracer.span("layer") as span:
        clock.now = 10.0
    span.counters = {k: 0 for k in ("jobs", "stages", "tasks", "exec_cpu_s", "gc_s",
                                    "shuffle_bytes", "spill_bytes", "input_bytes", "output_bytes")}
    span.counters["exec_run_s"] = 8.0
    span.job_intervals = [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]
    rec = tracer.layer_record(0, cores=4)
    assert rec["driver_s"] == pytest.approx(10.0 - 3.0 - 1.0)
    assert rec["exec_busy_share"] == pytest.approx(8.0 / 40.0)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert union_length([], 0, 1) == 0


def test_overhead_is_relative_to_untraced_ops():
    assert stats.overhead([1.0, 1.0, 1.2], [1.1, 1.1]) == pytest.approx(0.1)


# -- the declared benchmark ---------------------------------------------------


def test_benchmark_json_matches_the_runner():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    assert len(spec["per_layer"]) <= 128


@pytest.mark.skipif(not os.environ.get("PERFBENCH_SPARK_TESTS"), reason="starts Spark; set PERFBENCH_SPARK_TESTS=1")
def test_traced_run_reports_every_layer_and_its_overhead(tmp_path):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", "dedup", "--seed", "2",
         "--seconds", "1", "--trace", "1"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )  # fmt: skip
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    record, final = json.loads(lines[-2])["record"], json.loads(lines[-1])
    assert final["correct"] and final["failed"] == 0
    assert final["metrics"].keys() == run.per_layer_units().keys()
    layers = record["layers"]
    for layer in ("sources.session", "functions.dedup.minhash_dedup",
                  "functions.dedup.ngram_jaccard_pairs", "functions.relational.connected_components"):
        assert layer in layers, layer
    assert layers["op.dedup"]["self_s"] < layers["op.dedup"]["s"]
    assert layers["pipeline.write"]["calls"] == 3
    assert final["metrics"]["functions.dedup.minhash_dedup.jobs"]["value"] >= 2
    assert final["metrics"]["functions.dedup.verified_pairs"]["value"] > 0
    assert all(v["value"] > 0 for k, v in final["metrics"].items() if k.endswith(".s"))
    assert "share" in record["trace_overhead"]
    assert not any((tmp_path / ".perfbench_work").iterdir())
