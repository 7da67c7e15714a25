"""Oracle-side materialization of pipeline intermediates.

The driver's correctness harness compares every ``queries()`` DataFrame
against a DuckDB ``oracle_sql()`` string. Extraction itself is a pandas
UDF (not SQL-expressible), but everything DOWNSTREAM of extraction is
relational — so each KG query (a) materializes the intermediate tables
its oracle needs to parquet under ``.oracle/<sf>/``, (b) computes its
result in Spark FROM those materialized tables, and (c) the DuckDB
oracle re-derives the same result from the same parquet with independent
SQL (recursive-CTE connected components, self-joins, window ranking...).
The check therefore verifies the distributed relational logic — joins,
aggregations, CC iteration, ranking — against a second engine, while the
UDF payloads stay pinned by the pytest parity suite vs the pure-Python
reference port.

Within one process each table is written once (module-level memo) and
always with overwrite, so a fresh driver run can never read stale data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Overridable so concurrent processes (e.g. two pytest sessions) don't
# overwrite each other's intermediates mid-read: "written once per
# process, always overwrite" is only safe with one process per root.
# The driver harness and check_correctness.py use the default in-repo
# root; tests isolate per-session (see tests/conftest.py).
ORACLE_ROOT = os.environ.get(
    "SPARK_GRAFT_ORACLE_ROOT",
    os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
        ".oracle",
    ),
)

_written: set[str] = set()


def oracle_dir(sf_dir: str) -> str:
    return os.path.join(ORACLE_ROOT, os.path.basename(sf_dir.rstrip("/")))


def oracle_path(sf_dir: str, name: str) -> str:
    return os.path.join(oracle_dir(sf_dir), f"{name}.parquet")


def materialize(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Write ``df`` to the oracle dir (once per process) and return a
    DataFrame reading it back — both the Spark query and the DuckDB
    oracle then consume the identical bytes."""
    path = oracle_path(sf_dir, name)
    if path not in _written:
        df.write.mode("overwrite").parquet(path)
        _written.add(path)
    return df.sparkSession.read.parquet(path)


def materialize_all(
    spark: SparkSession, sf_dir: str, names, compute
) -> list[DataFrame]:
    """:func:`materialize` for several tables that come from ONE
    computation: ``compute()`` returns one DataFrame per name and runs
    only when some of them are not yet written in this process."""
    paths = [oracle_path(sf_dir, n) for n in names]
    if not _written.issuperset(paths):
        for df, path in zip(compute(), paths):
            df.write.mode("overwrite").parquet(path)
            _written.add(path)
    return [spark.read.parquet(p) for p in paths]


def reset() -> None:
    """Forget the written-set (tests use this to force rewrites)."""
    _written.clear()
