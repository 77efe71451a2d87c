from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pdf_ocr_comparison_tool_spark import materialize
from pdf_ocr_comparison_tool_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_001 = "/root/testdata/sf0.001"
SF_DIR_01 = "/root/testdata/sf0.01"
# The external driver gates at sf0.01; the parity suite must run at the
# SAME scale so any divergence it would flag fails locally first.
PARITY_SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF_DIR", SF_DIR_01)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest", cores=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    yield s


@pytest.fixture(autouse=True)
def _release_plan_caches(request):
    """Operators materialize build-once tables (featured pages, minhash
    sigs) and never release what they return — callers own the
    lifetime. Each test is the caller: its checkpoints are released in
    a scope, and match_pages' lazy caches cleared, after it, so a
    173-query session doesn't accumulate storage."""
    with materialize.scope():
        yield
    if "spark" in request.fixturenames:
        request.getfixturevalue("spark").catalog.clearCache()


_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.fixture(scope="session")
def duck():
    yield _duck_con(SF_DIR)


@pytest.fixture(scope="session")
def duck_parity():
    """DuckDB views at the driver's gate scale (sf0.01)."""
    yield _duck_con(PARITY_SF_DIR)
