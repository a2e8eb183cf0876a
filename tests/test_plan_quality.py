"""Physical-plan assertions: the optimizations we rely on at 100 TB must be
visible in .explain output at any scale.

- parquet scans must show PushedFilters / pruned ReadSchema
- the engine's audit must be a partial->final hash aggregate (map-side combine)
- dimension joins must broadcast, LSH joins must never be cartesian
- the pipeline must keep rule expressions inside whole-stage codegen
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gchq_data_quality_spark import CompletenessRule, ValidityNumericalRangeRule

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF}/events.parquet")


def test_filter_pushdown_reaches_scan(spark, events):
    df = events.filter(F.col("event_type") == "click").select("event_id")
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "event_type" in plan.split("PushedFilters")[1][:200]


def test_column_pruning_in_rule_aggregation(spark, events):
    """A single-column rule over a 6-column table must scan ONE column."""
    from gchq_data_quality_spark.operators.base import BaseRule  # noqa: F401

    dtypes = {f.name: f.dataType for f in events.schema.fields}
    rule = CompletenessRule(field="event_type")
    cr = rule.compile(F.col, dtypes.__getitem__)
    agg = events.agg(F.sum(cr.passing_filled().cast("long")))
    plan = _plan(agg)
    read_schema = plan.split("ReadSchema:")[-1].splitlines()[0]
    assert "event_type" in read_schema
    assert "value" not in read_schema and "props" not in read_schema


def test_audit_is_partial_final_hash_aggregate(spark, events):
    dtypes = {f.name: f.dataType for f in events.schema.fields}
    rules = [
        CompletenessRule(field="event_type"),
        ValidityNumericalRangeRule(field="value", min_value=0, max_value=100),
    ]
    aggs = []
    for r in rules:
        cr = r.compile(F.col, dtypes.__getitem__)
        aggs.append(F.sum(cr.evaluated.cast("long")))
        aggs.append(F.sum(cr.passing_filled().cast("long")))
    plan = _plan(events.agg(*aggs))
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert plan.count("Exchange") == 1  # single 1-row exchange, nothing else


def test_segment_revenue_join_broadcasts(spark):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    customer = spark.read.parquet(f"{SF}/customer.parquet")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    plan = _plan(joined.groupBy("c_mktsegment").count())
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pipeline_single_stage_until_agg(spark):
    """The annotate plan must contain no shuffle (Exchange) — scoring, rules
    and scrub are all narrow transformations."""
    from gchq_data_quality_spark.pipeline import QualityFilterConfig, QualityFilterPipeline
    from gchq_data_quality_spark.sources.synthetic import generate_images_df

    pipe = QualityFilterPipeline(QualityFilterConfig(), None, None)
    annotated = pipe.annotate(generate_images_df(spark, 50))
    assert "Exchange" not in _plan(annotated)


def test_ivf_probe_prunes_partitions(spark, tmp_path):
    """An index written partitioned-by-cell + the probe's explicit
    ``cell IN (...)`` filter must turn probing into a partition-pruned scan:
    the probe query reads ONLY the probed cells' files."""
    import numpy as np

    from gchq_data_quality_spark.functions.similarity import (
        build_ivf_index,
        ivf_topk,
        write_ivf_index,
    )

    rng = np.random.default_rng(1)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(200)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    indexed, centroids = build_ivf_index(df, n_cells=8)
    stored = write_ivf_index(indexed, str(tmp_path / "ivf"))
    n_cells_on_disk = stored.select("cell").distinct().count()

    queries = df.filter("vec_id = 0").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = ivf_topk(stored, centroids, queries, k=3, n_probe=2)

    # the probe scan must carry PartitionFilters with the explicit cell IN
    # predicate — on a partitionBy("cell") layout that is Catalyst's static
    # partition pruning (only probed cell directories are listed and read)
    assert n_cells_on_disk == 8
    plan = _plan(topk)
    part_filters = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "cell" in part_filters and ("IN (" in part_filters or "in(cell" in part_filters)

    # correctness: results come only from probed cells and are ranked
    got = topk.collect()
    assert got and got[0].vec_id == 0
    probed = {r["cell"] for r in topk.join(stored, "vec_id").select("cell").collect()}
    assert len(probed) <= 2


def test_lsh_joins_never_cartesian(spark):
    from gchq_data_quality_spark.functions.dedup import (
        minhash_candidate_pairs,
        simhash_dedup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"text number {i} with some shared words") for i in range(20)],
        "doc_id long, text string",
    )
    for pairs in (
        minhash_candidate_pairs(docs, "text", "doc_id", n_hashes=8, bands=2),
        simhash_dedup_pairs(docs, "text", "doc_id"),
    ):
        plan = _plan(pairs)
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan


def test_scrubber_gate_in_plan(spark):
    """The scrub chain must sit behind the single candidate-regex gate
    (CASE WHEN rlike(...)), so clean rows never pay the replace chain."""
    from gchq_data_quality_spark.functions.scrub import Scrubber

    df = spark.createDataFrame([("hello",)], "caption string")
    plan = _optimized(df.select(Scrubber().apply(F.col("caption")).alias("s")))
    assert "CASE WHEN" in plan and "RLIKE" in plan
    # disabling the gate removes the conditional
    ungated = Scrubber(prefilter_regex=None)
    plan2 = _optimized(df.select(ungated.apply(F.col("caption")).alias("s")))
    assert "CASE WHEN" not in plan2


def test_multimodal_feature_plans_are_shuffle_free(spark):
    """Audio/video feature extraction is one mapInPandas stage over the
    source — no Exchange (the bytes never shuffle)."""
    from gchq_data_quality_spark.functions.audio import synth_wav_bytes, with_audio_features
    from gchq_data_quality_spark.functions.video import synth_y4m_bytes, with_video_features

    audio = spark.createDataFrame(
        [(0, synth_wav_bytes(), "wav")], "id long, bytes binary, fmt string"
    )
    video = spark.createDataFrame(
        [(0, synth_y4m_bytes(), "y4m")], "id long, bytes binary, fmt string"
    )
    for frame in (with_audio_features(audio), with_video_features(video)):
        plan = _plan(frame)
        assert "Exchange" not in plan
        assert plan.count("MapInPandas") == 1


def test_top_ngrams_is_take_ordered_not_full_sort(spark):
    """The boilerplate-mining sweep (bigram side of the merged
    ngram_overlap_report) must plan top-k as TakeOrdered (bounded
    per-partition heaps) after a partial+final hash aggregation — a global
    Sort over every distinct gram would shuffle the whole gram universe.
    (The outer orderBy sorts the ~22-row union result, which is fine; the
    gram universe itself must never hit a full sort.)"""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["ngram_overlap_report"](spark, SF)
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_lsh_verified_pairs_no_cartesian_and_verifies_by_id_join(spark):
    """The LSH->verify pipeline: the kernel output is checkpointed when the
    query is built (no MapInArrow left in the plan), candidates come from
    one bucket explode and one pair expansion over (band, bucket, id) rows,
    and the exact Jaccard runs after two equi-joins on id that bring each
    candidate's two shingle arrays together — never a cartesian product."""
    import re

    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["lsh_verified_pairs"](spark, SF)
    plan = _plan(df)
    assert "CartesianProduct" not in plan and "NestedLoopJoin" not in plan, plan
    assert "MapInArrow" not in plan, plan
    assert plan.count("Generate") == 2, plan  # bucket explode + pair expansion
    joins = re.findall(r"(?:HashJoin|SortMergeJoin) \[(id_[ab])#", plan)
    assert sorted(joins) == ["id_a", "id_b"], plan


def test_decontamination_query_broadcasts_probe_grams(spark):
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["ngram_overlap_report"](spark, SF)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan


def test_asof_query_has_no_join_operator(spark):
    """The as-of query must plan as union + window (one data shuffle on
    user_id) + the final per-type aggregation — NEVER a join (the theta-join
    formulation explodes per key at scale)."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["asof_time_since_error"](spark, SF))
    assert "Join" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 2  # window + final agg


def test_range_join_query_is_equi_join(spark):
    """The bucketed range join must plan as a hash/sort-merge EQUI-join on
    (custkey, bucket) — never a cartesian or nested-loop inequality join."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["orders_nearby_window"](spark, SF))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_outlier_query_broadcasts_moments(spark):
    """The per-group moments table (one row per group) must broadcast back
    onto the data — a sort-merge join here would shuffle the whole table."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["value_outliers_by_type"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lsh_pair_generation_runs_fold_once(spark):
    """The bucketed pair generators must NOT self-join: the old join shape
    recomputed the signature fold on each side (no ReusedExchange across
    join lineages). The plan must show exactly ONE fold/explode lineage —
    one Generate for the bucket explode, one for the pair expansion — and
    the groupBy must ride the window's partitioning (no exchange between
    them)."""
    from gchq_data_quality_spark.functions.dedup import (
        minhash_candidate_pairs,
        simhash_dedup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"text number {i} with some shared words") for i in range(20)],
        "doc_id long, text string",
    )
    for pairs in (
        minhash_candidate_pairs(docs, "text", "doc_id", n_hashes=8, bands=2),
        simhash_dedup_pairs(docs, "text", "doc_id"),
    ):
        plan = _plan(pairs)
        assert "Join" not in plan, plan
        assert plan.count("Generate") == 2, plan  # bucket explode + pair explode
        # shuffles: repartition (parallelism), (band/rot, bucket), distinct
        assert plan.count("Exchange hashpartitioning") == 2, plan


def _shuffle_outputs(df) -> list[list[str]]:
    """Output column names of every shuffle exchange in the executed plan
    (AQE's final plan once ``df`` has run)."""
    found: list[list[str]] = []

    def walk(node):
        name = node.getClass().getSimpleName()
        if name == "AdaptiveSparkPlanExec":
            return walk(node.executedPlan())
        if name.endswith("QueryStageExec"):
            return walk(node.plan())
        if name == "ReusedExchangeExec":
            return walk(node.child())
        if name == "ShuffleExchangeExec":
            out = node.output()
            found.append([out.apply(i).name() for i in range(out.size())])
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return found


def test_lsh_verify_runs_kernel_once_and_shuffles_ids_only(spark):
    """ngram_jaccard_pairs checkpoints the (id, sh, sig) kernel output when
    called: the returned plans read the checkpoint (no MapInArrow, so the
    kernel cannot run again), and no shuffle carries a shingle array — the
    band shuffle moves (band, bucket, id) rows, and the verify joins the
    arrays back by id."""
    from gchq_data_quality_spark.functions.dedup import (
        minhash_dedup,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7)
    kept = minhash_dedup(docs, "text", "doc_id", transitive=True, exact=True)
    for df in (pairs, kept):
        assert "MapInArrow" not in _plan(df), _plan(df)
    assert pairs.count() > 0
    shuffles = _shuffle_outputs(pairs)
    assert any(set(cols) == {"id", "band", "bucket"} for cols in shuffles), shuffles
    for cols in shuffles:
        assert not {"sh", "sh_a", "sh_b"} & set(cols), shuffles


def test_lsh_verify_intersects_each_pair_once(spark):
    """The threshold filter is pushed into the verify join's condition; the
    jaccard expression binds |A∩B| to a lambda variable, so that condition
    builds one intersection per pair instead of two (numerator and union),
    and only ngram_jaccard_pairs's projected jaccard adds another."""
    from gchq_data_quality_spark.functions.dedup import (
        minhash_dedup,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.7)
    kept = minhash_dedup(docs, "text", "doc_id")
    assert _plan(kept).count("array_intersect(") == 1, _plan(kept)
    assert _plan(pairs).count("array_intersect(") <= 2, _plan(pairs)


def test_anti_join_query_shape(spark):
    """customers_without_orders must plan the lapsed screen as a broadcast
    anti-join fed by an aggregated (distinct) custkey set, with the recency
    filter pushed to the orders scan."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["customers_without_orders"](spark, SF))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "PushedFilters" in plan and "o_orderdate" in plan, plan


def test_cell_assignment_is_map_side(spark):
    """assign_cells inlines the centroids as literals: the assignment itself
    must add NO join and NO shuffle — the only exchange is the final
    per-cell aggregation's."""
    import __spark_entry__ as entry_mod

    plan = _plan(entry_mod.queries()["ivf_cell_assignment"](spark, SF))
    assert "Join" not in plan, plan
    # one hash exchange (the per-cell agg); the rangepartitioning exchange
    # is the final orderBy over the 8-row result
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_vocab_coverage_has_no_unpartitioned_window(spark):
    """The coverage-curve query must never plan a single-partition global
    window (VERDICT r3 What's-wrong #3): every WindowExec must carry a
    non-empty partition spec (the bit-length band). WindowExec prints as
    `Window [functions], [partition], [order]` — an unpartitioned window
    drops the middle group. At 100x the vocabulary a global cumulative
    window is a one-task sort."""
    import __spark_entry__ as entry_mod

    df = entry_mod.queries()["vocab_coverage"](spark, SF)
    plan = _plan(df)
    window_lines = [l for l in plan.splitlines() if "Window [" in l]
    assert window_lines  # the banded cumulation window must exist
    for line in window_lines:
        assert line.count("], [") >= 2, line


def test_exact_dedup_ids_shuffle_is_payload_free(spark, tmp_path):
    """The payload-light dedup variant (VERDICT r4 Next #6): the dedup-side
    shuffle — Exchange hashpartitioning on the __fp fingerprint — must read
    ONLY (text, id), never the binary payload. The plan prints a subtree's
    children after the Exchange line, so everything after `hashpartitioning
    (__fp` is the loser-id lineage; the payload column appearing there (in
    the pruned FileScan ReadSchema or any node above it) means the image
    bytes ride the dedup shuffle (the 100 TB failure mode)."""
    from gchq_data_quality_spark.functions.dedup import exact_dedup, exact_dedup_ids
    from gchq_data_quality_spark.sources.synthetic import generate_images_df

    path = str(tmp_path / "images.parquet")
    generate_images_df(spark, 50).write.parquet(path)
    images = spark.read.parquet(path)
    deduped = exact_dedup_ids(images, "caption", "image_id")
    plan = _plan(deduped)
    assert "hashpartitioning(__fp" in plan, plan
    dedup_subtree = plan.split("hashpartitioning(__fp", 1)[1]
    assert "bytes" not in dedup_subtree, dedup_subtree
    # result parity with the windowed form (same keeper rule)
    full = {r["image_id"] for r in exact_dedup(images, "caption", "image_id").collect()}
    light = {r["image_id"] for r in deduped.collect()}
    assert light == full


def test_exact_dedup_incremental_shuffles_are_payload_free(spark, tmp_path):
    """The incremental ingestion path (r5): BOTH the history probe and the
    within-batch keeper decision run over a (fp, id) projection sharing one
    __fp-keyed join/window lineage — the binary payload must appear in NO
    __fp-partitioned subtree (history too big to broadcast is the 100 TB
    norm), only in the final loser-id anti-join's probe side."""
    from gchq_data_quality_spark.functions.dedup import exact_dedup_incremental
    from gchq_data_quality_spark.sources.synthetic import generate_images_df

    path = str(tmp_path / "images_inc.parquet")
    generate_images_df(spark, 50).write.parquet(path)
    images = spark.read.parquet(path)
    history = spark.range(5).select(F.col("id").alias("fp"))
    kept = exact_dedup_incremental(images, history, "caption", "image_id")
    plan = _plan(kept)
    assert "hashpartitioning(__fp" in plan, plan
    # the fp-keyed lineage ends where the union's NULL-text bypass branch
    # (Filter isnull(caption)) begins — that full-payload scan is the union
    # sibling, not part of any __fp shuffle
    fp_subtree = plan.split("hashpartitioning(__fp", 1)[1].split("Filter isnull(", 1)[0]
    assert "bytes" not in fp_subtree, fp_subtree


def test_dedup_lines_counting_shuffle_is_payload_free(spark):
    """dedup_lines' 100-TB contract: the corpus-count shuffle carries
    8-byte line hashes (plus partial counts) and the dropped-positions
    frame, never the text payload — every shuffle Exchange's input must
    exclude the text column (the small derived frames broadcast back onto
    the payload lineage instead)."""
    from gchq_data_quality_spark.functions.dedup import dedup_lines

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = dedup_lines(
        docs, id_col="doc_id", text_col="text", max_dup=2, min_line_chars=8
    )
    fmt = out._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    blocks = fmt.split("\n\n")
    shuffles = [
        b
        for b in blocks
        if b.lstrip().startswith("(")
        and b.lstrip().splitlines()[0].split(") ", 1)[-1].startswith("Exchange")
    ]
    assert shuffles, fmt
    for block in shuffles:
        assert "text#" not in block, block
    assert "CartesianProduct" not in fmt
