"""Seeded input generators (NumPy + pyarrow, no Spark).

Every generator is a pure function of its seed and size arguments: the same
seed writes byte-identical parquet files. Series are written as many files
with several row groups each, because a single row group serializes the
parquet scan onto one task.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: normal series level / spread; planted anomalies sit far outside the fences
LEVEL, SPREAD, SPIKE = 100.0, 5.0, 60.0


def _write(table: pa.Table, path: str, row_group_size: int) -> None:
    pq.write_table(table, path, row_group_size=row_group_size,
                   compression="snappy")


def _key_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i:06d}" for i in range(n)]


def series(seed: int, out_dir: str, n_keys: int, n_points: int,
           n_files: int, row_group_rows: int, anomaly_frac: float = 0.05):
    """Long-format ``(key, ts, eid, value)`` series, ``n_points`` per key,
    written time-partitioned into ``n_files`` files (each file holds a
    contiguous ts range of every key, ordered by ts then key).

    The last point of a seeded ``anomaly_frac`` of keys is spiked.
    Returns ``(keys, values, anomalous)``: key names, a ``(n_keys,
    n_points)`` value matrix in ts order, and the spiked key indices."""
    rng = np.random.default_rng(seed)
    keys = _key_names("k", n_keys)
    values = rng.normal(LEVEL, SPREAD, (n_keys, n_points))
    anomalous = np.sort(rng.choice(
        n_keys, max(1, int(n_keys * anomaly_frac)), replace=False))
    values[anomalous, -1] += SPIKE
    os.makedirs(out_dir, exist_ok=True)
    dictionary = pa.array(keys, pa.string())
    bounds = np.linspace(0, n_points, n_files + 1).astype(np.int64)
    for f in range(n_files):
        t0, t1 = int(bounds[f]), int(bounds[f + 1])
        ts = np.repeat(np.arange(t0, t1, dtype=np.int64), n_keys)
        kidx = np.tile(np.arange(n_keys, dtype=np.int32), t1 - t0)
        table = pa.table({
            "key": pa.DictionaryArray.from_arrays(pa.array(kidx), dictionary),
            "ts": ts,
            "eid": ts * n_keys + kidx,
            "value": values[:, t0:t1].T.reshape(-1),
        })
        _write(table, os.path.join(out_dir, f"part-{f:04d}.parquet"),
               row_group_rows)
    return keys, values, anomalous


def stream_ticks(seed: int, in_dir: str, stage_dir: str, n_keys: int,
                 history: int, n_ticks: int):
    """Stream input: one history file (``history`` points per key) written
    into ``in_dir`` and ``n_ticks`` tick files (one new point per key each)
    staged in ``stage_dir`` for the open-loop dropper.

    Returns the staged tick paths in drop order."""
    rng = np.random.default_rng(seed)
    keys = _key_names("s", n_keys)
    n = history + n_ticks
    values = rng.normal(LEVEL, SPREAD, (n_keys, n))
    spiked = rng.random((n_keys, n)) < 0.02
    values[spiked] += SPIKE
    os.makedirs(in_dir, exist_ok=True)
    os.makedirs(stage_dir, exist_ok=True)
    dictionary = pa.array(keys, pa.string())

    def table(t0, t1):
        ts = np.repeat(np.arange(t0, t1, dtype=np.int64), n_keys)
        kidx = np.tile(np.arange(n_keys, dtype=np.int32), t1 - t0)
        return pa.table({
            "key": pa.DictionaryArray.from_arrays(pa.array(kidx), dictionary)
            .cast(pa.string()),
            "ts": ts,
            "eid": ts * n_keys + kidx,
            "value": values[:, t0:t1].T.reshape(-1),
        })

    _write(table(0, history), os.path.join(in_dir, "hist.parquet"), 1 << 20)
    paths = []
    for i in range(n_ticks):
        p = os.path.join(stage_dir, f"tick-{i:05d}.parquet")
        _write(table(history + i, history + i + 1), p, 1 << 20)
        paths.append(p)
    return paths


def digest(path: str) -> str:
    """sha256 over every file under ``path`` (sorted) — the reproducibility
    fingerprint printed with each run."""
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(path)):
        for name in sorted(files):
            with open(os.path.join(root, name), "rb") as fh:
                h.update(name.encode())
                h.update(fh.read())
    return h.hexdigest()[:16]
