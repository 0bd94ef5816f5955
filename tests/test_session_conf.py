"""Session conf has one owner: the catalog's ``query()`` runs
``session.prep`` before every registered query, and ``session.conf_scope``
is the one temporary set-and-restore."""

from __future__ import annotations

import os

import pytest

from marketingcloud_etl_spark.plans.catalog import load_all
from marketingcloud_etl_spark.session import conf_scope

_SET = "spark.mcetl.test.conf_scope.set"
_UNSET = "spark.mcetl.test.conf_scope.unset"


def test_conf_scope_restores_set_and_unsets_unset(spark):
    spark.conf.set(_SET, "before")
    try:
        with conf_scope(spark, {_SET: "inside", _UNSET: "inside"}):
            assert spark.conf.get(_SET) == "inside"
            assert spark.conf.get(_UNSET) == "inside"
        assert spark.conf.get(_SET) == "before"
        assert spark.conf.get(_UNSET, None) is None

        with pytest.raises(RuntimeError, match="body failed"):
            with conf_scope(spark, {_SET: "inside", _UNSET: "inside"}):
                raise RuntimeError("body failed")
        assert spark.conf.get(_SET) == "before"
        assert spark.conf.get(_UNSET, None) is None
    finally:
        spark.conf.unset(_SET)


def test_query_pins_conf_under_hostile_session(spark, sf_dir):
    """A session with its own timezone, ANSI on, Spark's 200 shuffle
    partitions and broadcast off gets prep's values as soon as a
    catalog query is built."""
    hostile = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.ansi.enabled": "true",
        "spark.sql.shuffle.partitions": "200",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    cpus = int(env_cpus) if env_cpus else spark.sparkContext.defaultParallelism
    with conf_scope(spark, hostile):
        load_all()["q01_pricing_summary"].fn(spark, sf_dir)
        got = {k: spark.conf.get(k) for k in hostile}
    assert got == {
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.ansi.enabled": "false",
        "spark.sql.shuffle.partitions": str(max(cpus, 4)),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    }


def test_every_query_is_registered_wrapped():
    """Each registered callable wraps the query's own function, keeps its
    name and docstring, and is what the plan module exports, so a direct
    call is pinned as well."""
    import importlib

    for name, qd in load_all().items():
        inner = qd.fn.__wrapped__
        assert qd.fn.__name__ == inner.__name__ == name, name
        assert qd.doc == (inner.__doc__ or "") == (qd.fn.__doc__ or ""), name
        exported = getattr(importlib.import_module(inner.__module__), name, None)
        assert exported in (None, qd.fn), name
