"""SparkSession factory.

Local-mode posture per the 100 TB design notes in SURVEY.md §4: AQE on
(runtime re-plan, skew-join mitigation, partition coalescing), shuffle
partitions sized to cores (not the 200 default), session timezone pinned
to UTC so timestamp semantics match the DuckDB oracle, Arrow enabled for
any pandas-exchange path.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

__all__ = ["get_spark", "prep"]


def get_spark(
    app_name: str = "marketingcloud_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(int(cpus), 4)
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # keep managed-table metadata out of the working directory
        .config("spark.sql.warehouse.dir", os.path.join(tempfile.gettempdir(), "mcetl_warehouse"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable conf that correctness depends on.

    Called at the top of every catalog query so results are stable even
    under an externally-created SparkSession (the driver builds its own):
    UTC session timezone (timestamp values must agree with the DuckDB
    oracle) and ANSI off (null-on-bad-cast semantics, matching the
    reference's null-on-parse-failure at
    /root/reference/app/salesforce_extractor.py:149-151).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    # runtime-settable perf conf: an externally-created session defaults
    # to 200 shuffle partitions — wrong for both local runs (over-
    # parallelized) and the fixture scales; AQE coalescing needs to be
    # on to shrink post-shuffle stages. Size from the session's ACTUAL
    # core count (an 8-core test session must not get the 32 the env
    # default implies); $SPARK_GRAFT_CPUS overrides when set explicitly.
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    try:
        cpus = int(env_cpus) if env_cpus else spark.sparkContext.defaultParallelism
    except ValueError:
        cpus = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cpus, 4)))
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # restore broadcast joins for dimension tables — q70 (bucketed
    # join) disables them within its own run, and queries must not
    # leak conf into each other
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    return spark
