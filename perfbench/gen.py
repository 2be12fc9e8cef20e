"""Deterministic CDC event generator for the pipeline workloads.

Every event file is ts-sorted, so under the default file source (16 files
per micro-batch) the file size sets the batch size. Unique events are
spaced at a fixed event-time density, which sets the dedup state size:
``dropDuplicatesWithinWatermark`` keeps a key until the watermark (the
latest event time minus the 120 s dedupe window) passes it, so the state
holds a few hundred seconds of events.

A planted replay is a byte-identical copy of an event placed directly
after it in the stream (the at-least-once redelivery the dedup stage
exists for). Replays that fall on a file boundary land at the head of the
next file, so some of them are dropped against state from an earlier
batch rather than within one batch.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: 2023-11-14T22:13:20Z in ns; all generated event time starts here.
BASE_TS_NS = 1_700_000_000_000_000_000
REPLAY_FRAC = 0.01        # share of rows that replay the row before them
N_USERS = 2000
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.int64()), ("user_id", pa.int64()),
    ("event_type", pa.string()), ("value", pa.float64()),
    ("props", pa.string()),
])


@dataclass
class FeedSpec:
    """Shape of one generated feed."""

    seed: int
    files: int
    rows_per_file: int        # rows per file, replays included
    density_per_s: int        # unique events per second of event time


@dataclass
class Feed:
    """The generated files' contents, in order, plus the expected result."""

    tables: list[pa.Table]
    unique_events: int
    replays: int
    max_ts: int


def make_feed(spec: FeedSpec) -> Feed:
    """Build ``spec.files`` tables of ``spec.rows_per_file`` rows each."""
    rng = np.random.default_rng(spec.seed)
    total = spec.files * spec.rows_per_file
    # choose which rows of the combined stream are replays: each replay
    # copies the row right before it, and never follows another replay.
    is_replay = rng.random(total) < REPLAY_FRAC
    is_replay[0] = False
    is_replay[1:] &= ~is_replay[:-1]
    src = np.cumsum(~is_replay) - 1            # unique-event index per row
    n_unique = int(src[-1]) + 1
    step = 1_000_000_000 // spec.density_per_s
    # strictly increasing unique timestamps: a fixed grid plus jitter
    # smaller than the grid step (msg_id is derived from ts).
    ts_u = (BASE_TS_NS + np.arange(n_unique, dtype=np.int64) * step
            + rng.integers(0, step // 2, n_unique))
    user_u = rng.integers(0, N_USERS, n_unique)
    type_u = rng.integers(0, len(EVENT_TYPES), n_unique)
    value_u = np.round(rng.random(n_unique) * 1000.0, 2)
    k_u = rng.integers(0, 100, n_unique)
    props_u = np.array([f'{{"k": {k}}}' for k in k_u.tolist()], dtype=object)
    cols = {
        "event_id": pa.array(src.astype(np.int64)),
        "ts": pa.array(ts_u[src]),
        "user_id": pa.array(user_u[src].astype(np.int64)),
        "event_type": pa.array(EVENT_TYPES[type_u[src]]),
        "value": pa.array(value_u[src]),
        "props": pa.array(props_u[src], type=pa.string()),
    }
    whole = pa.table(cols, schema=SCHEMA)
    tables = [whole.slice(i * spec.rows_per_file, spec.rows_per_file)
              for i in range(spec.files)]
    return Feed(tables=tables, unique_events=n_unique,
                replays=int(is_replay.sum()), max_ts=int(ts_u[-1]))


def write_file(table: pa.Table, directory: str, index: int) -> str:
    """Write one feed file atomically (rename into place), so a streaming
    source listing the directory never sees a partial file."""
    name = f"events-{index:06d}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    path = os.path.join(directory, name)
    os.replace(tmp, path)
    return path

