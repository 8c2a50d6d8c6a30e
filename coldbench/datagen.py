"""Seeded stream inputs for the cold benchmark (numpy + pyarrow only).

The batch queries read the project's sf0.1 tables, copied byte for byte
into ``data/sf0.1`` (``SHA256SUMS`` lists their digests). Only the
ingest stream's inputs are generated here, from the benchmark seed: one
parquet file of events per micro-batch, with file mtimes increasing in
batch order so the file source reads them in order, one file per
trigger.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
SF_DIR = HERE / "data" / "sf0.1"

_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")


def _micros(day: str) -> int:
    return int(np.datetime64(day, "us").astype("int64"))


def events_table(
    rng: np.random.Generator, first_id: int, n: int, t0_us: int, span_us: int
) -> pa.Table:
    """``n`` events with ids ``first_id…`` in timestamp order over
    ``[t0_us, t0_us + span_us)``, in the schema of the ``events`` table:
    five event types, 1500 users, exponential values, a ``{"k": 0..99}``
    JSON payload."""
    ts = np.sort(t0_us + rng.integers(0, span_us, n))
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": rng.integers(0, 1500, n),
            "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def write_stream_inputs(out_dir: Path, seed: int, batches: int, event_rows: int) -> int:
    """Write ``events/b{i}.parquet`` under ``out_dir``: per batch,
    ``event_rows`` events of one day, days in batch order. Returns the
    bytes written."""
    rng = np.random.default_rng(seed)
    shutil.rmtree(out_dir, ignore_errors=True)
    (out_dir / "events").mkdir(parents=True)
    t0 = _micros("2024-03-01")
    day_us = 86_400 * 10**6
    mtime = 1_700_000_000.0
    in_bytes = 0
    for b in range(batches):
        path = out_dir / "events" / f"b{b:04d}.parquet"
        pq.write_table(
            events_table(rng, b * event_rows, event_rows, t0 + b * day_us, day_us), path
        )
        os.utime(path, (mtime + b, mtime + b))
        in_bytes += path.stat().st_size
    return in_bytes
