"""Order-insensitive result digests: a streamed surface's output against
its batch equivalent.

Rows are normalised the way ``tools/strict_check.py`` compares them:
columns sorted by name, floats kept bit-exact (NaN equal to NaN), ints kept
ints, every other value by its string form. The digest is the sha256 of
the sorted normalised rows, so row order never matters.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math


def _cell(v):
    if v is None:
        return (0, "")
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return (1, "NaN") if math.isnan(v) else (2, v.hex())
    if isinstance(v, bool):
        return (4, str(v))
    if isinstance(v, int):
        return (5, str(v))
    if isinstance(v, dt.datetime):
        return (3, v.replace(tzinfo=None).isoformat(sep=" "))
    if isinstance(v, (list, tuple)):
        return (6, repr([_cell(x) for x in v]))
    if isinstance(v, dict):
        return (7, repr(sorted((str(k), _cell(x)) for k, x in v.items())))
    if isinstance(v, (bytes, bytearray)):
        return (8, bytes(v).hex())
    return (3, str(v))


def digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha256 hex) of ``rows`` whose columns are ``cols``."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(repr(tuple(_cell(r[i]) for i in idx)) for r in rows)
    h = hashlib.sha256()
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return len(norm), h.hexdigest()


def spark_digest(df) -> tuple[int, str]:
    """Collect ``df`` and digest it (the caller times the collect)."""
    rows = df.collect()
    return digest(df.columns, [tuple(r) for r in rows])
