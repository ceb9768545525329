from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from clickhouse_from_scratch_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


def pytest_configure(config):
    # pandas UDFs declare their kind with type hints; the deprecated
    # PandasUDFType argument fails the test that builds one
    config.addinivalue_line(
        "filterwarnings",
        "error:.*it is preferred to specify type hints for pandas UDF"
        ":UserWarning")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    import duckdb
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con
