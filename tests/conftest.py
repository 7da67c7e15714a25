"""Shared pytest fixtures. The Spark session is session-scoped (JVM
startup ≈ 5 s); tests that need different parallelism spawn their own.
"""

from __future__ import annotations

import os

import pytest

# oracle_sql() builds DuckDB SQL whose read_parquet paths must point at the
# SAME scale the tests query (driver default is sf0.01; tests run sf0.001)
os.environ.setdefault(
    "SPARK_GRAFT_ORACLE_SF",
    os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"),
)
# Per-session oracle root: materialize() overwrites tables once per
# process, so two concurrent Spark processes sharing the in-repo .oracle
# dir can delete parquet parts out from under each other mid-scan.
os.environ.setdefault("SPARK_GRAFT_ORACLE_ROOT", f"/tmp/anno-oracle-{os.getpid()}")


@pytest.fixture(scope="session")
def spark():
    from anno_spark.session import get_spark

    s = get_spark(master="local[8]", shuffle_partitions=8, app_name="anno-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck(sf_dir):
    """DuckDB views over the testdata tables, for the oracle_sql() checks."""
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con
