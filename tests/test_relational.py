"""as-of join, bucketed range join, connected components (functions/relational.py),
and the sampling/outlier screens (functions/stats.py).

The as-of and range joins are checked against brute-force formulations (a
pandas merge_asof-style scan and a naive theta-join) on hand-built and
randomized inputs — same differential strategy the dedup operators use.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from gchq_data_quality_spark.functions import relational as R
from gchq_data_quality_spark.functions.relational import (
    asof_join,
    bucketed_range_join,
    connected_components,
)
from gchq_data_quality_spark.functions.stats import (
    groupwise_outlier_counts,
    portable_hash,
    stratified_sample,
)


# ---------------------------------------------------------------------------
# asof_join
# ---------------------------------------------------------------------------

def _asof_expected(left_rows, right_rows, strict):
    """Brute-force backward as-of: latest right ts <= (or <) left ts per key."""
    out = {}
    for key, lts, lid in left_rows:
        best = None
        for rkey, rts, rval in right_rows:
            if rkey != key:
                continue
            if (rts < lts) if strict else (rts <= lts):
                if best is None or rts > best[0]:
                    best = (rts, rval)
        out[lid] = best[1] if best else None
    return out


@pytest.mark.parametrize("strict", [False, True])
def test_asof_join_matches_bruteforce(spark, strict):
    rng = random.Random(42)
    left_rows = [(k, rng.randint(0, 100), i) for i, k in enumerate(
        rng.choices(["a", "b", "c"], k=40)
    )]
    right_rows = [(k, rng.randint(0, 100), f"v{j}") for j, k in enumerate(
        rng.choices(["a", "b", "c"], k=25)
    )]
    # de-dup right timestamps per key: at equal (key, ts) which right row wins
    # is unspecified (documented), so keep the differential test deterministic
    seen = set()
    right_rows = [
        r for r in right_rows
        if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
    ]
    left = spark.createDataFrame(left_rows, "key string, ts long, lid long")
    right = spark.createDataFrame(right_rows, "key string, ts long, val string")
    got = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts",
        value_cols=["val"], strict=strict, tiebreak="lid",
    )
    got_map = {r["lid"]: r["val"] for r in got.collect()}
    assert got_map == _asof_expected(left_rows, right_rows, strict)


def _asof_expected_forward(left_rows, right_rows, strict):
    """Brute-force forward as-of: earliest right ts >= (or >) left ts."""
    out = {}
    for key, lts, lid in left_rows:
        best = None
        for rkey, rts, rval in right_rows:
            if rkey != key:
                continue
            if (rts > lts) if strict else (rts >= lts):
                if best is None or rts < best[0]:
                    best = (rts, rval)
        out[lid] = best[1] if best else None
    return out


@pytest.mark.parametrize("strict", [False, True])
def test_asof_join_forward_matches_bruteforce(spark, strict):
    rng = random.Random(11)
    left_rows = [(k, rng.randint(0, 100), i) for i, k in enumerate(
        rng.choices(["a", "b"], k=30)
    )]
    right_rows = [(k, rng.randint(0, 100), f"v{j}") for j, k in enumerate(
        rng.choices(["a", "b"], k=20)
    )]
    seen = set()
    right_rows = [
        r for r in right_rows
        if (r[0], r[1]) not in seen and not seen.add((r[0], r[1]))
    ]
    left = spark.createDataFrame(left_rows, "key string, ts long, lid long")
    right = spark.createDataFrame(right_rows, "key string, ts long, val string")
    got = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts",
        value_cols=["val"], strict=strict, direction="forward",
    )
    got_map = {r["lid"]: r["val"] for r in got.collect()}
    assert got_map == _asof_expected_forward(left_rows, right_rows, strict)


def test_asof_join_null_right_value_still_matches(spark):
    # a right row whose VALUE is NULL must still win over an older non-null
    # one (the struct payload makes the row itself visible to last/ignorenulls)
    left = spark.createDataFrame([("k", 10, 1)], "key string, ts long, lid long")
    right = spark.createDataFrame(
        [("k", 1, "old"), ("k", 5, None)], "key string, ts long, val string"
    )
    [row] = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts", value_cols=["val"]
    ).collect()
    assert row["val"] is None


def test_asof_join_strict_excludes_equal_ts(spark):
    left = spark.createDataFrame([("k", 5, 1)], "key string, ts long, lid long")
    right = spark.createDataFrame([("k", 5, "x")], "key string, ts long, val string")
    non_strict = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts", value_cols=["val"]
    ).collect()
    strict = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts",
        value_cols=["val"], strict=True,
    ).collect()
    assert non_strict[0]["val"] == "x"
    assert strict[0]["val"] is None


def test_asof_join_single_shuffle(spark):
    left = spark.createDataFrame([("k", 5, 1)], "key string, ts long, lid long")
    right = spark.createDataFrame([("k", 5, "x")], "key string, ts long, val string")
    plan = asof_join(
        left, right, by=["key"], left_on="ts", right_on="ts", value_cols=["val"]
    )._jdf.queryExecution().executedPlan().toString()
    # union + window: exactly one hash-partitioning exchange, no join operator
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan, plan


# ---------------------------------------------------------------------------
# bucketed_range_join
# ---------------------------------------------------------------------------

def test_bucketed_range_join_matches_naive(spark):
    rng = random.Random(7)
    rows = [(rng.choice(["a", "b"]), rng.randint(0, 500), i) for i in range(80)]
    df = spark.createDataFrame(rows, "key string, p long, rid long")
    lower, upper = -30, 70
    got = bucketed_range_join(
        df, df, by=["key"], left_point="p", right_point="p",
        lower=lower, upper=upper,
    )
    got_pairs = {
        (r["l_rid"], r["r_rid"]) for r in got.collect()
    }
    expected = {
        (l[2], r[2])
        for l in rows for r in rows
        if l[0] == r[0] and l[1] + lower <= r[1] <= l[1] + upper
    }
    assert got_pairs == expected


def test_bucketed_range_join_no_duplicate_pairs(spark):
    # a right point can fall in both candidate buckets' windows only once:
    # the left side's bucket explosion is array_distinct'ed
    df = spark.createDataFrame(
        [("k", 0, 0), ("k", 10, 1)], "key string, p long, rid long"
    )
    got = bucketed_range_join(
        df, df, by=["key"], left_point="p", right_point="p", lower=-10, upper=10
    ).collect()
    pairs = [(r["l_rid"], r["r_rid"]) for r in got]
    assert len(pairs) == len(set(pairs)) == 4


def test_bucketed_range_join_is_equi_join(spark):
    df = spark.createDataFrame([("k", 0, 0)], "key string, p long, rid long")
    plan = bucketed_range_join(
        df, df, by=["key"], left_point="p", right_point="p", lower=-5, upper=5
    )._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan, plan


# ---------------------------------------------------------------------------
# connected_components
# ---------------------------------------------------------------------------

def test_connected_components_chain_and_clique(spark):
    # chain 1-2-3-4-5 (diameter 4),
    # clique {10,11,12}, isolated pair {20,21}
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    labels = {r["id"]: r["label"] for r in connected_components(pairs).collect()}
    assert labels == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10, 12: 10,
        20: 20, 21: 20,
    }


def test_connected_components_empty(spark):
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert connected_components(pairs).count() == 0


# ---------------------------------------------------------------------------
# stats: deterministic sampling + outlier screen
# ---------------------------------------------------------------------------

def test_portable_hash_matches_python(spark):
    ids = [0, 1, 7, 999, 123456, 2**40 + 3]
    df = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {
        r["id"]: r["h"]
        for r in df.select("id", portable_hash(F.col("id")).alias("h")).collect()
    }
    for i in ids:
        assert got[i] == ((i % 2**31) * 1103515245 + 12345) % 2147483647


def test_stratified_sample_deterministic_and_proportional(spark):
    df = spark.createDataFrame([(i,) for i in range(20_000)], "id long")
    s1 = sorted(r["id"] for r in stratified_sample(df, "id", 300).collect())
    s2 = sorted(
        r["id"]
        for r in stratified_sample(df.repartition(13), "id", 300).collect()
    )
    assert s1 == s2  # partitioning-independent membership
    assert abs(len(s1) / 20_000 - 0.3) < 0.02


def test_groupwise_outlier_counts_matches_numpy(spark):
    import numpy as np

    rng = random.Random(3)
    rows = [("g" + str(i % 3), rng.gauss(10 * (i % 3), 1 + i % 3)) for i in range(900)]
    rows += [("g0", 1000.0), ("g1", -1000.0)]  # planted outliers
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r["g"]: r for r in groupwise_outlier_counts(df, ["g"], "v").collect()}
    by_g = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    for g, vals in by_g.items():
        arr = np.array(vals)
        m, sd = arr.mean(), arr.std(ddof=1)
        expected = int((np.abs(arr - m) > 3 * sd).sum())
        assert got[g]["n_outliers"] == expected, g
        assert got[g]["n"] == len(vals)
    assert got["g0"]["n_outliers"] >= 1 and got["g1"]["n_outliers"] >= 1


# ---------------------------------------------------------------------------
# document chunking (functions/text.py)
# ---------------------------------------------------------------------------

def test_chunk_documents_windows_and_overlap(spark):
    from gchq_data_quality_spark.functions.text import chunk_documents

    words = [f"w{i}" for i in range(100)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, "short doc"), (3, ""), (4, None)],
        "doc_id long, text string",
    )
    rows = chunk_documents(df, "text", "doc_id", max_tokens=40, overlap=10).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0, 30, 60, 90 -> but 90+10 >= 100 drops the pure-suffix
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [c["n_tokens"] for c in chunks] == [40, 40, 40]
    assert chunks[0]["chunk_text"].split() == words[0:40]
    assert chunks[1]["chunk_text"].split() == words[30:70]  # 10-token overlap
    assert chunks[2]["chunk_text"].split() == words[60:100]
    # short doc: one chunk with every token
    [c2] = by_doc[2]
    assert c2["n_tokens"] == 2 and c2["chunk_text"] == "short doc"
    # empty text: one empty chunk; null text: no rows
    [c3] = by_doc[3]
    assert c3["n_tokens"] == 0 and c3["chunk_text"] == ""
    assert 4 not in by_doc


def test_chunk_documents_plan_is_narrow(spark):
    from gchq_data_quality_spark.functions.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = (
        chunk_documents(df, "text", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # map + generate only, no shuffle


def test_hash_split_deterministic_proportions(spark):
    from gchq_data_quality_spark.functions.stats import hash_split

    df = spark.createDataFrame([(i,) for i in range(30_000)], "id long")
    split = df.select("id", hash_split(F.col("id")).alias("s"))
    counts = {r["s"]: r["n"] for r in split.groupBy("s").agg(F.count("*").alias("n")).collect()}
    assert abs(counts["train"] / 30_000 - 0.8) < 0.02
    assert abs(counts["val"] / 30_000 - 0.1) < 0.01
    assert abs(counts["test"] / 30_000 - 0.1) < 0.01
    # stable under repartitioning: same ids -> same split
    again = {
        r["id"]: r["s"]
        for r in df.repartition(7).select("id", hash_split(F.col("id")).alias("s")).collect()
    }
    first = {r["id"]: r["s"] for r in split.collect()}
    assert first == again


def test_hash_split_validates_shape(spark):
    from gchq_data_quality_spark.functions.stats import hash_split

    with pytest.raises(ValueError, match="one more label"):
        hash_split(F.col("id"), breaks_permille=(500,), labels=("a", "b", "c"))


def test_weighted_sample_flag_respects_per_row_rate(spark):
    from gchq_data_quality_spark.functions.stats import weighted_sample_flag

    df = spark.createDataFrame(
        [(i, 1000 if i % 2 == 0 else 0) for i in range(2_000)],
        "id long, rate int",
    )
    kept = df.filter(weighted_sample_flag(F.col("id"), F.col("rate")))
    ids = [r["id"] for r in kept.collect()]
    assert len(ids) == 1_000 and all(i % 2 == 0 for i in ids)


def test_chunk_documents_matches_python_reference(spark):
    """Differential sweep: every doc length 0..130 against a pure-Python
    reference of the window rule, across three (max_tokens, overlap)
    configs — one Spark job per config."""
    from gchq_data_quality_spark.functions.text import chunk_documents

    def reference(n, max_t, ov):
        stride = max_t - ov
        starts = [s for s in range(0, max(n, 1), stride) if s == 0 or s + ov < n]
        return [(idx, min(max_t, n - s)) for idx, s in enumerate(starts)]

    docs = [(n, " ".join(f"t{j}" for j in range(n))) for n in range(131)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    for max_t, ov in ((64, 16), (40, 0), (10, 9)):
        got = {}
        for r in chunk_documents(df, "text", "doc_id", max_t, ov).collect():
            got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["n_tokens"]))
        for n in range(131):
            assert sorted(got[n]) == reference(n, max_t, ov), (n, max_t, ov)


def test_bucketed_range_join_exact_at_epoch_scale(spark):
    """Bucket ids must be exact above 2^53: epoch-micros points sitting ON
    bucket boundaries (where double division rounds) must not lose pairs."""
    w = 14 * 86_400_000_000
    base = (1_600_000_000_000_000_000 // w) * w  # exactly on a boundary
    pts = [base - 1, base, base + 1, base + 7 * 86_400_000_000,
           base + w - 1, base + w, base - 7 * 86_400_000_000]
    rows = [("k", p, i) for i, p in enumerate(pts)]
    df = spark.createDataFrame(rows, "key string, p long, rid long")
    lower, upper = -7 * 86_400_000_000, 7 * 86_400_000_000
    got = {
        (r["l_rid"], r["r_rid"])
        for r in bucketed_range_join(
            df, df, by=["key"], left_point="p", right_point="p",
            lower=lower, upper=upper,
        ).collect()
    }
    expected = {
        (l[2], r[2])
        for l in rows for r in rows
        if l[1] + lower <= r[1] <= l[1] + upper
    }
    assert got == expected


def test_connected_components_strict_raises_on_nonconvergence(spark, star_path):
    """Non-convergence within _MAX_ROUNDS always raises: split components
    are never returned."""
    star_path.setattr(R, "_MAX_ROUNDS", 3)
    chain = [(i, i + 1) for i in range(24)]  # 25 nodes need > 3 star rounds
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        connected_components(pairs)


def test_asof_right_tie_choice_is_stable(spark):
    """Among right rows sharing (key, ts) the winner is semantically
    unspecified but must be STABLE across partitionings."""
    left = spark.createDataFrame([("k", 10, 1)], "key string, ts long, lid long")
    right_rows = [("k", 5, f"v{i}") for i in range(6)]
    right = spark.createDataFrame(right_rows, "key string, ts long, val string")
    vals = set()
    for parts in (1, 3, 7):
        [row] = asof_join(
            left, right.repartition(parts), by=["key"],
            left_on="ts", right_on="ts", value_cols=["val"],
        ).collect()
        vals.add(row["val"])
    assert len(vals) == 1


# ---------------------------------------------------------------------------
# connected_components: star contraction, the path above _SMALL_GRAPH_EDGES,
# checked against the driver union-find below it
# ---------------------------------------------------------------------------

def _labels(pairs):
    return {r["id"]: r["label"] for r in connected_components(pairs).collect()}


def _union_find_and_star(pairs, monkeypatch):
    union_find = _labels(pairs)
    with monkeypatch.context() as m:
        m.setattr(R, "_SMALL_GRAPH_EDGES", 0)
        return union_find, _labels(pairs)


@pytest.fixture
def star_path(monkeypatch):
    """Force the distributed path: every non-empty graph exceeds the bound."""
    monkeypatch.setattr(R, "_SMALL_GRAPH_EDGES", 0)
    return monkeypatch


def test_star_components_match_union_find_on_mixed_graph(spark, monkeypatch):
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12),
             (20, 21), (30, 31), (31, 32), (30, 33), (33, 34)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    union_find, star = _union_find_and_star(pairs, monkeypatch)
    assert star == union_find


def test_star_components_converge_logarithmically_on_long_chain(spark, star_path):
    """VERDICT r3 Next #6: a depth-63 path (diameter 63) would need ~62
    label-propagation rounds; star contraction converges within
    ceil(log2(64)) + 4 = 10 — the O(log n) vs O(diameter) difference that
    matters at 100x scale. A _MAX_ROUNDS of 10 turns the round bound into
    an assertion: convergence inside it or RuntimeError."""
    star_path.setattr(R, "_MAX_ROUNDS", 10)
    n = 64
    chain = [(i, i + 1) for i in range(n - 1)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    assert _labels(pairs) == {i: 0 for i in range(n)}


def test_star_components_random_graphs_match_union_find(spark, monkeypatch):
    """Differential: random sparse graphs, star vs the driver union-find."""
    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(int(n * 0.8))
        ]
        edges = [e for e in edges if e[0] != e[1]]
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        union_find, star = _union_find_and_star(pairs, monkeypatch)
        assert star == union_find, f"trial {trial}"
        assert len(union_find) == len({v for e in edges for v in e})


def test_connected_components_small_graph_boundary(spark, monkeypatch):
    """A graph with exactly ``_SMALL_GRAPH_EDGES`` canonical edges takes the
    driver union-find; one edge more takes star contraction. Both must
    label like star forced with ``_SMALL_GRAPH_EDGES = 0``."""
    rng = random.Random(3)
    edges: set = set()
    while len(edges) < 12:
        a, b = rng.sample(range(30), 2)
        edges.add((min(a, b), max(a, b)))
    # reversed duplicates and a self-loop collapse in the canonical list
    rows = sorted(edges) + [(b, a) for a, b in sorted(edges)[:3]] + [(5, 5)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")

    def labels(small):
        monkeypatch.setattr(R, "_SMALL_GRAPH_EDGES", small)
        return sorted(tuple(r) for r in connected_components(pairs).collect())

    expected = labels(0)
    driver_calls: list = []
    star_calls: list = []
    real_driver, real_star = R._connected_components_driver, R._connected_components_star
    monkeypatch.setattr(
        R, "_connected_components_driver",
        lambda canon, rows: driver_calls.append(len(rows)) or real_driver(canon, rows),
    )
    monkeypatch.setattr(
        R, "_connected_components_star",
        lambda canon: star_calls.append(canon) or real_star(canon),
    )
    assert labels(12) == expected
    assert driver_calls == [12] and not star_calls
    assert labels(11) == expected
    assert driver_calls == [12] and len(star_calls) == 1


def test_dedup_cluster_sizes_star_matches_union_find(spark, monkeypatch):
    """The driver query's oracle-attested labels are path-invariant: star
    contraction over the sf0.001 pair graph labels like the union-find."""
    from gchq_data_quality_spark.functions.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.5).localCheckpoint()
    union_find, star = _union_find_and_star(pairs, monkeypatch)
    assert union_find and star == union_find


def test_group_percentiles_approx_agrees_with_exact_at_sf001(spark):
    """VERDICT r3 Next #7: the approximate (sketch-state) percentile mode
    must agree with the exact buffered mode within tolerance on real data.
    accuracy=10000 bounds RANK error at 1/10000; the VALUE error adds the
    local gap between adjacent order statistics because approx returns an
    actual element where exact interpolates — on the sf0.01 events
    distribution both effects stay under 1% at every probed quantile."""
    from gchq_data_quality_spark.functions.stats import group_percentiles

    events = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    exact = {
        r["event_type"]: r
        for r in group_percentiles(events, ["event_type"], "value").collect()
    }
    approx = {
        r["event_type"]: r
        for r in group_percentiles(
            events, ["event_type"], "value", approximate=True
        ).collect()
    }
    assert set(exact) == set(approx)
    for etype, e in exact.items():
        a = approx[etype]
        assert a["n"] == e["n"]
        for q in ("p50", "p95", "p99"):
            if e[q] is None:
                assert a[q] is None
                continue
            tol = max(abs(e[q]) * 0.01, 1e-6)
            assert abs(a[q] - e[q]) <= tol, (etype, q, e[q], a[q])


def test_coverage_counts_matches_naive_cumsum_reference(spark):
    """Randomised differential for the closed-form coverage arithmetic
    (functions/text.coverage_counts): the banded/closed-form plan must
    match a naive sort + cumulative-sum Python reference bit-for-bit on
    frequency tables with heavy equal-count runs, singletons, and skewed
    heads — the shapes where trunc-div vs floor-div or an off-by-one in
    the run arithmetic would show."""
    from gchq_data_quality_spark.functions.text import coverage_counts

    rng = random.Random(13)
    for trial in range(5):
        counts = (
            [rng.randint(1, 4) for _ in range(rng.randint(5, 120))]
            + [rng.randint(1, 10_000) for _ in range(rng.randint(1, 30))]
            + [1] * rng.randint(0, 200)
        )
        freq = spark.createDataFrame(
            [(f"t{i}", c) for i, c in enumerate(counts)], "tok string, n long"
        )
        row = coverage_counts(freq).collect()[0]

        ordered = sorted(counts, reverse=True)
        total = sum(ordered)
        expected = {"n_vocab": len(ordered), "total_tokens": total}
        for name, (cm, dm) in (
            ("n_top50", (2, 1)),
            ("n_top90", (10, 9)),
            ("n_top99", (100, 99)),
        ):
            cum = 0
            strict_below = 0
            for c in ordered:
                cum += c
                if cm * cum < dm * total:
                    strict_below += 1
            expected[name] = strict_below + 1
        got = {k: row[k] for k in expected}
        assert got == expected, f"trial {trial}: {got} != {expected}"
