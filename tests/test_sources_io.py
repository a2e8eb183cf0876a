"""sources.io: the Iceberg probe degrades to parquet only when the Iceberg
source class is absent, never on an unrelated failure."""

from __future__ import annotations

from types import SimpleNamespace

import pytest
from py4j.protocol import Py4JJavaError

from gchq_data_quality_spark.sources.io import _has_iceberg


def _spark_raising(error: Exception):
    def for_name(_name):
        raise error

    lang = SimpleNamespace(Class=SimpleNamespace(forName=for_name))
    return SimpleNamespace(_jvm=SimpleNamespace(java=SimpleNamespace(lang=lang)))


def _java_error(class_name: str) -> Py4JJavaError:
    java_exception = SimpleNamespace(
        _target_id="o1", getClass=lambda: SimpleNamespace(getName=lambda: class_name)
    )
    return Py4JJavaError("forName failed", java_exception)


def test_has_iceberg_false_without_iceberg_jars(spark):
    assert _has_iceberg(spark) is False


def test_has_iceberg_false_only_for_class_not_found():
    missing = _java_error("java.lang.ClassNotFoundException")
    assert _has_iceberg(_spark_raising(missing)) is False


@pytest.mark.parametrize(
    "error",
    [RuntimeError("gateway gone"), _java_error("java.lang.ExceptionInInitializerError")],
    ids=["python_error", "other_java_error"],
)
def test_has_iceberg_reraises_other_errors(error):
    with pytest.raises(type(error)):
        _has_iceberg(_spark_raising(error))
