"""Simulates the driver's correctness gate: run every queries() entry on
Spark and its oracle_sql() twin on DuckDB over the same parquet tables, then
compare row counts, column names, and order-insensitive values.

Uses sf0.001 for speed (the driver runs sf0.01 — same generators, same code
paths).
"""

from __future__ import annotations

import math
from pathlib import Path

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

pytestmark = pytest.mark.skipif(
    not Path(SF_DIR).exists(), reason="driver testdata not present"
)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        path = f"{SF_DIR}/{t}.parquet"
        if Path(path).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _normalise(value):
    if value is None:
        return None
    if isinstance(value, float):
        if math.isnan(value):
            return None
        return round(value, 4)
    if isinstance(value, int):
        return float(value)
    return str(value)


def _rows_to_multiset(columns, rows):
    # driver compare: sort columns by name, then sort rows
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted(tuple(_normalise(row[i]) for i in order) for row in rows)


ORACLE = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


def _assert_matches_oracle(spark, duck, name):
    spark_df = QUERIES[name](spark, SF_DIR)
    spark_cols = spark_df.columns
    spark_rows = [tuple(r) for r in spark_df.collect()]

    result = duck.execute(ORACLE[name])
    duck_cols = [d[0] for d in result.description]
    duck_rows = result.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(c.lower() for c in duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), f"{name}: row count mismatch"
    assert _rows_to_multiset(spark_cols, spark_rows) == _rows_to_multiset(
        duck_cols, duck_rows
    ), f"{name}: value mismatch"


def test_dedup_cluster_sizes_star_path_matches_oracle(spark, duck, monkeypatch):
    """The sf0.001 pair graph is far under the union-find bound, so the
    query above never runs star contraction: force it, and the recursive-CTE
    closure still matches."""
    from gchq_data_quality_spark.functions import relational

    monkeypatch.setattr(relational, "_SMALL_GRAPH_EDGES", 0)
    calls: list = []
    real_star = relational._connected_components_star
    monkeypatch.setattr(
        relational, "_connected_components_star",
        lambda canon: calls.append(canon) or real_star(canon),
    )
    _assert_matches_oracle(spark, duck, "dedup_cluster_sizes")
    assert len(calls) == 1


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle_arrow_types(spark, duck, name):
    """The driver's value-hash is computed over the ARROW encoding, so equal
    values in different physical types (DuckDB SUM(int) -> decimal128 vs
    Spark int64) read as mismatches. Every oracle must produce the exact
    arrow type Spark produces (VERDICT r1 What's-wrong #1)."""
    import pyarrow as pa

    sa = QUERIES[name](spark, SF_DIR).toArrow()
    oa = duck.execute(ORACLE[name]).fetch_arrow_table()
    stypes = {f.name.lower(): f.type for f in sa.schema}
    otypes = {f.name.lower(): f.type for f in oa.schema}
    assert set(stypes) == set(otypes), f"{name}: column sets differ"
    for col, stype in stypes.items():
        otype = otypes[col]
        if pa.types.is_timestamp(stype) and pa.types.is_timestamp(otype):
            # tz metadata differs (Spark session-tz vs DuckDB naive) but the
            # physical int64 micros — what a value-hash sees — are identical
            assert stype.unit == otype.unit, f"{name}.{col}: {stype} vs {otype}"
            continue
        assert stype == otype, f"{name}.{col}: spark {stype} vs oracle {otype}"


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "pass_rate" in df.columns


def test_events_user_ts_is_duplicate_free(duck):
    """The asof_time_since_error oracle's strict-window formulation is only
    equivalent to the engine's as-of when (user_id, ts) never repeats —
    pin the data invariant the oracle comment relies on."""
    [(dups,)] = duck.execute(
        "SELECT COUNT(*) FROM (SELECT user_id, ts FROM events "
        "WHERE ts IS NOT NULL GROUP BY 1, 2 HAVING COUNT(*) > 1)"
    ).fetchall()
    assert dups == 0


def test_queries_order_keeps_oracle_backed_inside_driver_window():
    """The driver checks at most ~50 queries() entries in dict order
    (CORRECTNESS_r03 silently dropped entry #51): every oracle-backed
    query must precede every rows-only query, and all oracle-backed
    entries must sit inside the first 50 positions."""
    names = list(QUERIES)
    oracle_backed = set(ORACLE)
    first_rows_only = next(
        (i for i, n in enumerate(names) if n not in oracle_backed), len(names)
    )
    stragglers = [
        n for n in names[first_rows_only:] if n in oracle_backed
    ]
    assert not stragglers, f"oracle-backed after rows-only: {stragglers}"
    last_oracle_pos = max(
        i for i, n in enumerate(names) if n in oracle_backed
    )
    assert last_oracle_pos < 50, f"oracle-backed query at position {last_oracle_pos}"
    # r5: the WHOLE surface fits the window — merging the completeness and
    # accuracy rule pairs (VERDICT r4 Next #5) brought the count to 50, so
    # every entry INCLUDING minhash_candidates gets a per-round driver signal
    assert len(names) <= 50, f"{len(names)} queries() entries exceed the driver window"
    assert names[-1] == "minhash_candidates"  # restored signal, stays last
    # every oracle key must have a query (no orphaned SQL)
    assert set(ORACLE) <= set(QUERIES)


# queries whose Spark side and oracle both read only `documents` and split or
# collapse whitespace (packed_tokens' oracle fixes max_tokens at a full
# 64-token sequence, which a handful of short texts never fills)
_WHITESPACE_QUERIES = ["dedup_exact", "doc_token_quality", "gopher_repetition"]


@pytest.mark.parametrize("name", _WHITESPACE_QUERIES)
def test_oracle_whitespace_matches_java_on_vertical_tab(spark, tmp_path, name):
    """Java's \\s (Spark's regexes) includes \\x0b and DuckDB's RE2 \\s does
    not, so the oracles spell the class out; a vertical tab must normalise
    the same on both sides."""
    import pandas as pd

    texts = ["a\x0bb", "a b", "A\x0b \tB c", "x\x0b\x0by z", "x y z", "\x0b", "p\fq\rr\nr"]
    pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "lang": ["en"] * len(texts),
        "source": ["s"] * len(texts),
        "n_chars": [len(t) for t in texts],
    }).to_parquet(tmp_path / "documents.parquet")
    spark_df = QUERIES[name](spark, str(tmp_path))
    spark_rows = [tuple(r) for r in spark_df.collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    result = con.execute(ORACLE[name])
    duck_cols = [d[0] for d in result.description]
    assert _rows_to_multiset(spark_df.columns, spark_rows) == _rows_to_multiset(
        duck_cols, result.fetchall()
    )
