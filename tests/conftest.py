from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from c2_duckdb_runner_spark import hostile
from c2_duckdb_runner_spark.session import get_spark
from c2_duckdb_runner_spark.tables import TABLES

SF_DIR = os.environ.get("C2SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("c2-spark-tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    """DuckDB oracle connection with fixture views pre-registered, mirroring
    the driver's correctness harness."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def hostile_dir(sf_dir, tmp_path_factory):
    """A complete hostile sf twin: the six fuzz tables rewritten, the
    other tables copied unchanged."""
    out = str(tmp_path_factory.mktemp("hostile"))
    hostile.make_hostile_fixtures(sf_dir, out)
    for t in TABLES:
        dst = os.path.join(out, f"{t}.parquet")
        if not os.path.exists(dst):
            shutil.copy(os.path.join(sf_dir, f"{t}.parquet"), dst)
    return out
