"""Order-insensitive result fingerprints.

A fingerprint is the row count plus an md5 over the sorted, canonical
text of every row, with columns taken in name order. Canonical cells
follow ``tools/verify_local.py``'s equality: floats compare by value
(``repr(float)``), everything else by its string form, so an engine's
``1`` and ``1.0`` differ while a float32 array element and the same
float64 do not. Timestamps render as naive UTC microseconds, whichever
tz-awareness the reader gives them.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
from pathlib import Path

import numpy as np


def canon(v) -> str:
    """Canonical text of one cell value (recursing into lists and maps)."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return repr(f + 0.0)  # folds -0.0 into 0.0
    if isinstance(v, decimal.Decimal):
        return str(v)
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(v[k])}" for k in sorted(v, key=canon)) + "}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def fingerprint_rows(columns: list[str], rows) -> dict:
    """Fingerprint an iterable of row tuples whose fields follow ``columns``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(canon(r[i]) for i in order) for r in rows
    )
    h = hashlib.md5("\x1e".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(lines), "md5": h.hexdigest()}


def fingerprint_arrow(table) -> dict:
    """Fingerprint a ``pyarrow.Table`` (maps arrive as key/value lists)."""
    cols = table.column_names
    data = [table.column(c).to_pylist() for c in cols]
    return fingerprint_rows(cols, zip(*data) if cols else [])


def fingerprint_parquet(path: Path) -> dict:
    """Fingerprint a parquet directory as Spark wrote it."""
    import pyarrow.parquet as pq

    return fingerprint_arrow(pq.read_table(str(path)))
