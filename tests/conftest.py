from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ml_pipelines_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="ml_pipelines_spark-tests",
        master=f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '8')}]",
        extra_conf={"spark.sql.shuffle.partitions": "8"},
    )
    yield s


@pytest.fixture
def fail_next_parquet_write(monkeypatch):
    """Setting ``["on"]`` makes the next driver-side parquet write
    (``pyarrow.parquet.write_table``, inside ``sidecars.write``) raise
    ``OSError`` once — the first such write of a table commit is its
    manifest's."""
    import pyarrow.parquet as pq

    real = pq.write_table
    armed = {"on": False}

    def flaky(*a, **kw):
        if armed["on"]:
            armed["on"] = False
            raise OSError("injected manifest write failure")
        return real(*a, **kw)

    monkeypatch.setattr(pq, "write_table", flaky)
    return armed


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correct():
    return SF_CORRECT
