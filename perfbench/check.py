"""Order-independent output digests.

A table's digest is ``[row_count, hex(sum of row hashes mod 2**64)]``
over columns whose values do not depend on the implementation: names,
types, counts and memberships, never generated ids or floats. Rows are
hashed from a canonical JSON form, so the digest is the same whatever
order or partitioning produced them.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

_MASK = (1 << 64) - 1


def canon(v):
    """A JSON-serializable canonical form of one cell (arrays arrive from
    Arrow as numpy arrays, integers as numpy scalars)."""
    if isinstance(v, (list, tuple, np.ndarray)):
        return [canon(x) for x in v]
    if isinstance(v, np.generic):
        return v.item()
    return v


def row_hash(row) -> int:
    blob = json.dumps(canon(row), ensure_ascii=False, separators=(",", ":"))
    return int.from_bytes(
        hashlib.blake2b(blob.encode(), digest_size=8).digest(), "little"
    )


def table_digest(rows) -> list:
    n, acc = 0, 0
    for row in rows:
        n += 1
        acc = (acc + row_hash(row)) & _MASK
    return [n, f"{acc:016x}"]


def frame_rows(df, cols):
    """Rows of ``df`` restricted to ``cols``, collected through Arrow."""
    pdf = df.select(*cols).toPandas()
    return pdf.itertuples(index=False, name=None)


def compare(observed: dict, expected: dict) -> list[str]:
    """Mismatch messages for every table in ``observed``."""
    errors = []
    for table, got in sorted(observed.items()):
        want = expected.get(table)
        if want is None:
            errors.append(f"{table}: no recorded digest")
        elif list(got) != list(want):
            errors.append(f"{table}: got {got}, expected {want}")
    return errors
