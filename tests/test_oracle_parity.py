"""Replicates the driver's correctness gate locally: every `queries()`
entry with an `oracle_sql()` twin must match DuckDB row-for-row
(order-insensitive, column names matched). Rows-only queries must run
and return a stable schema.
"""

from __future__ import annotations

import math

import pytest

import __spark_entry__ as entry_mod


def _normalize(v):
    import numbers

    import pandas as pd

    # NaN and None unify: DuckDB's pandas conversion surfaces BIGINT
    # NULLs as float NaN, Spark surfaces them as None — same value.
    # The sentinel also keeps mixed NULL/number columns sortable.
    if isinstance(v, float) and math.isnan(v):
        return "\x00<null>"
    if v is None or v is pd.NaT:
        return "\x00<null>"
    if isinstance(v, bool):
        return v
    if isinstance(v, numbers.Integral):
        return int(v)  # numpy int64 (DuckDB) vs python int (Spark)
    if isinstance(v, numbers.Real):
        f = float(v)
        return "\x00<null>" if math.isnan(f) else round(f, 9)
    if hasattr(v, "isoformat"):  # datetime/pd.Timestamp → engine-neutral
        return str(v)
    return v


def _rowset(rows):
    # multiset, not sorted list: normalized rows can mix numbers with the
    # null sentinel in one column, which is unorderable but hashable
    # (int 5 and float 5.0 hash/compare equal, as intended)
    from collections import Counter

    return Counter(tuple(_normalize(v) for v in r) for r in rows)


ORACLED = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", ORACLED)
def test_oracle_match(spark, sf_dir, duck, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, sf_dir)
    cols = sorted(sdf.columns)
    spark_rows = [tuple(r[c] for c in cols) for r in sdf.collect()]

    odf = duck.execute(entry_mod.oracle_sql()[name]).df()
    assert sorted(odf.columns.tolist()) == cols, (
        f"{name}: column mismatch {sorted(odf.columns.tolist())} vs {cols}"
    )
    duck_rows = [tuple(row[c] for c in cols) for _, row in odf.iterrows()]

    assert len(spark_rows) == len(duck_rows), f"{name}: row count"
    got, want = _rowset(spark_rows), _rowset(duck_rows)
    mism = list((got - want).items())[:3] + list((want - got).items())[:3]
    assert got == want, f"{name}: asymmetric rows {mism}"


def test_rows_only_queries_run(spark, sf_dir):
    oracled = set(ORACLED)
    for name, q in entry_mod.queries().items():
        if name in oracled:
            continue
        df = q(spark, sf_dir)
        assert df.columns, name
        assert df.count() >= 0, name


def test_entry_runs(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0
    assert "pred" in df.columns


def test_harness_catches_a_mutated_operator(spark, sf_dir, duck, monkeypatch):
    """Integrity check on the oracle scheme itself: if an operator's
    behavior drifts from the contract the oracle encodes, the comparison
    MUST fail — otherwise the 40 green rows could be vacuously green.
    Mutates the curation quality threshold on the Spark side only and
    asserts the (unchanged) oracle now mismatches."""
    name = "corpus_curation"
    oracle = entry_mod.oracle_sql()[name]  # built with the REAL threshold
    monkeypatch.setattr(entry_mod, "CURATION_MIN_QUALITY", 0.72)
    sdf = entry_mod.queries()[name](spark, sf_dir)
    cols = sorted(sdf.columns)
    spark_rows = _rowset(tuple(r[c] for c in cols) for r in sdf.collect())
    odf = duck.execute(oracle).df()
    duck_rows = _rowset(tuple(row[c] for c in cols) for _, row in odf.iterrows())
    assert spark_rows != duck_rows, (
        "mutated operator still matched its oracle — the check is vacuous"
    )
