from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb
import pytest

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from marketingcloud_etl_spark.io import TABLES  # noqa: E402
from marketingcloud_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # plan-shape tests find state dirs by name in the printed scan
    # Location, which Spark cuts at maxMetadataStringLength (100 chars
    # by default): print whole paths, however long TMPDIR is
    s = get_spark(
        app_name="mcetl-tests",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.sql.maxMetadataStringLength": "1000"},
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()
