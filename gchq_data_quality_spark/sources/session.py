"""SparkSession factory with the engine's required settings.

Pins the session timezone to UTC (the reference's datetime semantics assume
it, tests/spark/conftest.py:174), enables AQE + Arrow, sizes shuffle
partitions to the core count rather than the 200 default, and shrinks scan
splits on local masters only.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def engine_conf() -> dict[str, str]:
    """The engine's REQUIRED semantic configs — every session (local factory
    below, spark-submit jobs, notebooks) must apply these.

    - UTC session timezone: the reference's datetime semantics assume it
      (tests/spark/conftest.py:174).
    - Non-ANSI: a data-quality engine must keep evaluating in the presence of
      bad data — classic semantics turn overflow / bad casts / div-by-zero
      into NULLs the rule algebra counts as failures or skips, instead of
      aborting a 10^12-row job on one malformed row (ANSI is the default on
      Spark 4.x clusters, so this must be set explicitly).
    - Arrow on, with modest batches: pandas-UDF workers reuse their malloc
      arena between batches instead of mmap-ing fresh pages per batch.
      Measured on this host: 2048-row batches are ~3x faster than 10k AND
      restore near-linear 2->8 core scaling (page faults, not CPU, are the
      contended resource).
    - AQE + skew-join: runtime re-plan / skew splitting at cluster scale.
    """
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    }


# Scan split sizing (r6, measured): the defaults (128 MB split, 4 MB open
# cost) read the 217 MB scaling table as ~10 partitions — at 8 cores that is
# one full task wave plus a 2-task straggler wave (~20% idle; 2->8 pipeline
# efficiency 0.72), and an 11 MB single-file table scans as ~3 partitions on
# a 32-core session. 16 MB splits / 128 KB open cost give every leg 2+ task
# waves (8-core scaling leg 12.1 -> 10.1 s; pair efficiency 0.72 -> 0.87)
# without changing the 32-core headline scan (still 32 partitions;
# bytes-per-core binds). A parquet split reads only the row groups whose
# midpoint it holds, so 16 MB splits spread work only when row groups are
# <= 16 MB; a single-row-group file reads as ONE non-empty partition however
# many splits it gets (sources/scan.py: the dedup kernel spreads those,
# annotate folds them into one task).
# These are local-mode values: on a cluster with thousands of scan
# partitions, Spark's larger defaults cut task-scheduling and shuffle-block
# overhead (guide §2.2/§6), so cluster masters keep them.
LOCAL_SPLIT_CONF = {
    "spark.sql.files.maxPartitionBytes": "16777216",
    "spark.sql.files.openCostInBytes": "131072",
}


def apply_local_split_sizing(spark: SparkSession) -> None:
    """Set ``LOCAL_SPLIT_CONF`` on a ``local``/``local[...]`` master's session,
    for jobs whose master comes from spark-submit (``get_spark`` always runs
    local and sets it in its builder).

    A key the deploy set itself (in the SparkConf) is left alone, and any
    other master keeps Spark's split defaults.
    """
    sc = spark.sparkContext
    if not (sc.master == "local" or sc.master.startswith("local[")):
        return
    conf = sc.getConf()
    for key, value in LOCAL_SPLIT_CONF.items():
        if not conf.contains(key):
            spark.conf.set(key, value)


def get_spark(
    cores: int | None = None,
    app_name: str = "gchq_data_quality_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cores))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.extraJavaOptions",
            ("-Duser.timezone=UTC " + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")).strip(),
        )
        .config(
            "spark.executor.extraJavaOptions",
            ("-Duser.timezone=UTC " + os.environ.get("SPARK_GRAFT_JAVA_OPTS", "")).strip(),
        )
    )
    # the split sizing goes in the builder, not through
    # apply_local_split_sizing: a session conf set builds the session state
    # at once (0.3-0.5 s on 4 vCPUs), work the first query does otherwise
    for key, value in {**engine_conf(), **LOCAL_SPLIT_CONF, **(extra_conf or {})}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
