"""Scan shape: the parquet row groups behind a DataFrame's file scan.

A parquet byte-range split reads only the row groups whose midpoint it
holds, so a file's row groups, not its splits, bound the scan tasks that
read rows: a single-row-group file scanned as 4 splits feeds ONE task and
leaves 3 tasks empty. Two callers fit their stage to that:

- ``functions.dedup._ensure_parallelism`` spreads the CPU-bound shingle
  kernel, whose output crosses an exchange anyway, over every core when
  row groups are fewer than the session's parallelism;
- ``pipeline.QualityFilterPipeline`` runs annotate's scoring stage as one
  task over a one-row-group input, because its partitions become output
  files (see ``_fit``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def parquet_row_groups(df: DataFrame, stop_at: int) -> int | None:
    """Row groups in the files of ``df``'s parquet scan, read from the
    footers through the session's Hadoop filesystem; stops once ``stop_at``
    are seen (each footer read is a file open). None when ``df`` is not
    a Project/Filter chain over one parquet file scan, the only shape whose
    scan tasks are bounded by the files' row groups, or when ``df`` is a
    stream (planned per micro-batch; a batch plan of it raises)."""
    if df.isStreaming:
        return None
    node = df._jdf.queryExecution().optimizedPlan()
    while node.nodeName() in ("Project", "Filter"):
        node = node.children().head()
    if node.nodeName() != "LogicalRelation":
        return None
    relation = node.relation()
    if relation.getClass().getSimpleName() != "HadoopFsRelation":
        return None
    if relation.fileFormat().toString() != "Parquet":
        return None
    spark = df.sparkSession
    jvm = spark._jvm
    hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
    files = relation.location().allFiles().iterator()
    total = 0
    while total < stop_at and files.hasNext():
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(
                files.next(), hadoop_conf
            )
        )
        try:
            total += reader.getRowGroups().size()
        finally:
            reader.close()
    return total
