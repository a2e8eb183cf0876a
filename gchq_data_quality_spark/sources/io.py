"""Table IO: Iceberg-first readers/writers with parquet fallback.

The production target is Iceberg tables (BASELINE.json input_hint); this
sandbox has no Iceberg catalog jars, so every entry point probes for the
Iceberg source and degrades to plain parquet with identical call shapes.
Snapshot-style checkpointing is provided by checkpoint.py (partition
manifests) — the parquet stand-in for Iceberg snapshot IDs.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def _has_iceberg(spark: SparkSession) -> bool:
    """Whether the Iceberg source is on the JVM classpath. Only a Java
    ClassNotFoundException means "absent"; any other failure (a dead
    gateway, a class that fails to initialise) is raised rather than
    silently degrading a catalog table name to a parquet path."""
    try:
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.source.IcebergSource"
        )
    except Py4JJavaError as e:
        if e.java_exception.getClass().getName() == "java.lang.ClassNotFoundException":
            return False
        raise
    return True


def read_table(spark: SparkSession, path_or_table: str) -> DataFrame:
    """Read an Iceberg table (catalog name) or a parquet path."""
    if "/" not in path_or_table and _has_iceberg(spark):
        return spark.read.format("iceberg").load(path_or_table)
    return spark.read.parquet(path_or_table)


def write_table(
    df: DataFrame,
    path_or_table: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    compression: str | None = "zstd",
) -> None:
    """Write an Iceberg table (catalog name) or a parquet path.

    Default parquet codec is zstd: measured fastest end-to-end on the
    image-payload pipeline write (min-of-4 interleaved at sf0.1: zstd
    1.575 s vs snappy 1.874 s total — scripts/exp_write_path.py), and at
    100 TB its better compression ratio directly cuts storage and the
    downstream scan's IO. Pass ``compression=None`` to keep the session
    default.
    """
    spark = df.sparkSession
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if "/" not in path_or_table and _has_iceberg(spark):
        if compression:
            writer = writer.option("write.parquet.compression-codec", compression)
        writer.format("iceberg").saveAsTable(path_or_table)
    else:
        if compression:
            writer = writer.option("compression", compression)
        writer.parquet(path_or_table)


def load_sf_tables(spark: SparkSession, sf_dir: str, names: list[str]) -> dict[str, DataFrame]:
    return {name: spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names}
