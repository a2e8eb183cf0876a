"""Shared fixtures: Spark session, YAML case corpus loader, df builders.

The reference ships a ~300-case YAML corpus (tests/data/*.yaml) that IS the
executable specification of rule semantics (reference tests/README.md:1-19).
We do not copy those files; when the reference checkout is present we load
them directly and run every case through THIS engine — a differential test of
our compiled-expression implementation against the reference's labels.
Without it, ``load_cases`` falls back to this repo's own hand-derived cases in
tests/data/ (same case shape, FIXTURES.md F3). Each of those files says in its
header where its expected values come from. A name found in neither place
gives no cases, so its parametrized tests collect as an empty parameter set.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
import yaml
from pyspark.sql import types as T

from gchq_data_quality_spark.sources.session import get_spark

REFERENCE_DATA = Path("/root/reference/tests/data")
LOCAL_DATA = Path(__file__).parent / "data"


@pytest.fixture(scope="session")
def spark():
    session = get_spark(cores=4, app_name="dq-tests", shuffle_partitions=4)
    session.sparkContext.setLogLevel("ERROR")
    yield session


@pytest.fixture
def split_reads(spark):
    """Read small files as several byte-range splits; restores the session."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)

    def read(path):
        spark.conf.set(key, str(os.path.getsize(path) // 6))
        return spark.read.parquet(path)

    yield read
    spark.conf.set(key, old)


def write_images_parquet(path, n_rows: int, row_group_size: int | None = None) -> str:
    """Synthetic image+caption rows (the pipeline's input columns) written
    by pyarrow: one row group unless ``row_group_size`` is given."""
    from gchq_data_quality_spark.sources.synthetic import generate_rows

    rows = generate_rows(n_rows)
    table = pa.table(
        {
            "image_id": pa.array([r.image_id for r in rows], pa.string()),
            "bytes": pa.array([r.bytes for r in rows], pa.binary()),
            "w": pa.array([r.w for r in rows], pa.int32()),
            "h": pa.array([r.h for r in rows], pa.int32()),
            "fmt": pa.array([r.fmt for r in rows], pa.string()),
            "caption": pa.array([r.caption for r in rows], pa.string()),
            "phash": pa.array([r.phash for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, str(path), row_group_size=row_group_size)
    return str(path)


def stage_tasks(sc, group: str) -> list[list[int]]:
    """Per job of job group ``group``, the task count of each of its stages,
    read from the application's status store."""
    tracker = sc.statusTracker()
    return [
        [tracker.getStageInfo(stage).numTasks for stage in tracker.getJobInfo(job).stageIds]
        for job in sorted(tracker.getJobIdsForGroup(group))
    ]


def load_cases(name: str) -> list[dict]:
    """Load ``<name>.yaml`` from the reference corpus when present, else from
    the hand-derived tests/data/ cases; ``[]`` when neither has it."""
    for base in (REFERENCE_DATA, LOCAL_DATA):
        path = base / f"{name}.yaml"
        if path.exists():
            with open(path) as f:
                return yaml.safe_load(f)
    return []


def case_ids(cases: list[dict]) -> list[str]:
    return [c.get("description", f"case{i}")[:60] for i, c in enumerate(cases)]


def _infer_type(values: list) -> T.DataType:
    kinds = {type(v) for v in values if v is not None}
    if not kinds:
        return T.StringType()
    if kinds <= {bool}:
        return T.BooleanType()
    if kinds <= {int}:
        return T.LongType()
    if kinds <= {int, float}:
        return T.DoubleType()
    if kinds <= {str}:
        return T.StringType()
    if kinds <= {dt.datetime}:
        return T.TimestampType()
    if kinds <= {dt.date}:
        return T.DateType()
    return T.StringType()


def spark_df_from_dict(spark, data: dict[str, list]):
    """Build a Spark DataFrame from a column -> values dict, inferring types
    the way pandas would (ints with nulls stay numeric, mixed -> string)."""
    fields = []
    n = max(len(v) for v in data.values())
    for name, values in data.items():
        fields.append(T.StructField(name, _infer_type(values), True))
    schema = T.StructType(fields)

    def coerce(value, dtype):
        if value is None:
            return None
        if isinstance(dtype, T.StringType) and not isinstance(value, str):
            return str(value)
        if isinstance(dtype, T.DoubleType):
            return float(value)
        if isinstance(dtype, T.TimestampType) and isinstance(value, dt.datetime):
            if value.tzinfo is not None:
                return value.astimezone(dt.UTC).replace(tzinfo=None)
            return value
        return value

    rows = [
        tuple(
            coerce(data[f.name][i] if i < len(data[f.name]) else None, f.dataType)
            for f in fields
        )
        for i in range(n)
    ]
    return spark.createDataFrame(rows, schema)


def normalize_value(value):
    """Normalise sample values for order/type-insensitive comparison."""
    if value is None:
        return None
    if isinstance(value, float) and math.isnan(value):
        return None
    if isinstance(value, (pd.Timestamp, dt.datetime)):
        ts = pd.Timestamp(value)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.isoformat())
    if isinstance(value, dt.date):
        return ("ts", pd.Timestamp(value).isoformat())
    if isinstance(value, bool):
        return value
    if isinstance(value, (int, float)):
        return round(float(value), 6)
    return value


def normalize_sample(sample: list[dict] | None):
    if sample is None:
        return None
    return sorted(
        (tuple(sorted((k, normalize_value(v)) for k, v in record.items())))
        for record in sample
    )


def assert_result_matches(result, expected: dict):
    """Compare a DataQualityResult against a corpus 'expected' block.

    Mirrors the reference's own Spark-mode comparison rules
    (tests/conftest.py:104-148): records_failed_ids ignored (positional,
    meaningless after shuffling), samples order-insensitive, floats to 1e-4.
    """
    if "pass_rate" in expected:
        if expected["pass_rate"] is None:
            assert result.pass_rate is None, f"expected None, got {result.pass_rate}"
        else:
            assert result.pass_rate == pytest.approx(expected["pass_rate"], abs=1e-4)
    if "records_evaluated" in expected:
        assert result.records_evaluated == expected["records_evaluated"]
    if "records_failed_sample" in expected and expected["records_failed_sample"] is not None:
        assert normalize_sample(result.records_failed_sample) == normalize_sample(
            expected["records_failed_sample"]
        )
    if "rule_id" in expected:
        assert result.rule_id == expected["rule_id"]
    if "rule_description" in expected:
        assert result.rule_description == expected["rule_description"]
    if "data_quality_dimension" in expected:
        assert (
            result.data_quality_dimension.value
            == expected["data_quality_dimension"].title()
        )
