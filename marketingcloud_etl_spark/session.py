"""SparkSession factory.

Local-mode posture per the 100 TB design notes in SURVEY.md §4: AQE on
(runtime re-plan, skew-join mitigation, partition coalescing), shuffle
partitions sized to cores (not the 200 default), session timezone pinned
to UTC so timestamp semantics match the DuckDB oracle, Arrow enabled for
any pandas-exchange path.

The core count is decided here only, by :func:`cores`:
``$SPARK_GRAFT_CPUS`` when it is set (a value that is not an integer
raises), else the session's ``defaultParallelism``, else, before there
is a session, ``os.cpu_count()``. ``get_spark``'s default master
``local[N]`` and both shuffle-partition settings ask it.
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

__all__ = ["cores", "get_spark", "prep", "conf_scope"]


def cores(spark: SparkSession | None = None) -> int:
    """How many cores the engine plans for (the rule is the module doc)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if spark is not None:
        return spark.sparkContext.defaultParallelism
    return os.cpu_count() or 1


def _runtime_conf(n_cores: int) -> dict[str, str]:
    """The runtime-settable conf both :func:`get_spark` and :func:`prep`
    apply: results depend on the UTC timezone (timestamp values must
    agree with the DuckDB oracle), and the catalog's plans are laid out
    for core-sized shuffles with AQE coalescing and a 64 MB broadcast
    threshold (an externally-created session has 200 partitions and
    10 MB)."""
    return {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(max(n_cores, 4)),
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


def get_spark(
    app_name: str = "marketingcloud_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    n_cores = cores()
    conf = {
        **_runtime_conf(n_cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        # keep managed-table metadata out of the working directory
        "spark.sql.warehouse.dir": os.path.join(tempfile.gettempdir(), "mcetl_warehouse"),
    }
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{n_cores}]")
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def prep(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable conf that correctness depends on.

    The catalog's ``query()`` decorator calls it before every registered
    query runs, so results are stable even under an externally-created
    SparkSession (a caller that builds its own): :func:`get_spark`'s
    runtime conf, shuffle partitions sized from the session's own core
    count, and ANSI off (null-on-bad-cast semantics, matching the
    reference's null-on-parse-failure at salesforce_extractor.py:149-151).
    ANSI is prep's alone: the ETL runs on a ``get_spark`` session
    without it.
    """
    for k, v in _runtime_conf(cores(spark)).items():
        spark.conf.set(k, v)
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return spark


@contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Hold ``confs`` on the session for the body, then put every key
    back: a key that had a value gets it again, a key that had none is
    unset, also when the body raises. The one way a query changes
    session conf beyond :func:`prep`. Spark reads most conf when it
    plans or starts a query, so the body must run the action, not only
    build the frame."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
