import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from coa_codesearch_mcp_spark.session import get_spark

    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="session")
def documents_rows(documents):
    return [(r["doc_id"], r["text"]) for r in documents.collect()]


@pytest.fixture()
def scatter(monkeypatch):
    """Force the Spark scatter: small test queries otherwise run on the
    driver-side executor (query/local.py)."""
    from coa_codesearch_mcp_spark.query import local

    monkeypatch.setattr(local, "LOCAL_MAX_POSTINGS", -1)
