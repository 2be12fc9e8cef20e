"""Composed CDC rehearsal through the pipeline's own sink.

Ingest is Spark's parquet file source (``maxFilesPerTrigger=16``) and
egress is the CLI's ``foreachBatch`` parquet sink with its cursor commit,
both driven by ``run_until_caught_up``. The crash is a REAL at-least-once
replay: the newest data batch's commit-log entry is deleted, so on restart
the engine re-executes that batch through its original source offsets.
Exact counts hold because the sink overwrites the batch's ``batch_id=<k>``
directory and its one cursor record in place.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl

BASE_NS = 1_800_000_000_000_000_000
FILE_EVENTS = 3  # 16 files per micro-batch: phase 1 spans two data batches


def _write_events(src, lo, hi):
    os.makedirs(src, exist_ok=True)
    for first in range(lo, hi, FILE_EVENTS):
        ids = list(range(first, min(first + FILE_EVENTS, hi)))
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([BASE_NS + i * 1_000_000_000 for i in ids],
                           pa.int64()),
            "user_id": pa.array([i % 5 for i in ids], pa.int64()),
            "event_type": ["transfer"] * len(ids),
            "value": pa.array([float(i) for i in ids], pa.float64()),
            "props": ['{"code":7}'] * len(ids),
        }), os.path.join(src, f"part-{first:05d}.parquet"))


def _batch_files(paths, k):
    d = os.path.join(paths.sink_dir, f"batch_id={k}")
    return {f for f in os.listdir(d) if f.endswith(".parquet")}


def _replay_tail(paths):
    """Uncommit the newest data batch ``k`` (the newest ``batch_id=``
    directory of the sink): delete its commit-log entry and later ones,
    and the offset-log entries after it, so a restart re-executes ``k``
    with its original source offsets. The pipeline's watermark adds a
    trailing no-data batch; were its offset entry kept, the restart would
    replay that empty batch instead. Returns ``k``."""
    k = max(int(d.split("=", 1)[1]) for d in os.listdir(paths.sink_dir)
            if d.startswith("batch_id="))
    for log, first in (("commits", k), ("offsets", k + 1)):
        d = os.path.join(paths.checkpoint_dir, log)
        for i in [int(f) for f in os.listdir(d) if f.isdigit()]:
            if i >= first:
                for name in (str(i), f".{i}.crc"):
                    if os.path.exists(os.path.join(d, name)):
                        os.remove(os.path.join(d, name))
    return k


def test_cdc_source_rehearsal_exact_publish_counts_across_replay(
        spark, tmp_path):
    cfg = validate(CdcConfig(cluster_id="5"))
    paths = pl.StreamPaths(
        source_dir=str(tmp_path / "events"),
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "chk"),
        cursor_dir=str(tmp_path / "cursor"),
        lock_dir=str(tmp_path / "lock"))

    # ---- phase 1: 60 events flow source -> sink ----
    _write_events(paths.source_dir, 0, 60)
    pl.run_until_caught_up(spark, cfg, paths)
    assert spark.read.parquet(paths.sink_dir).count() == 60

    # ---- crash: uncommit the sink's newest data batch ----
    k = _replay_tail(paths)
    assert k >= 1  # batch 0 stays committed
    before = _batch_files(paths, k)

    # ---- phase 2: 40 more events + restart; batch k re-executes through
    # its original source offsets, then the new files follow ----
    _write_events(paths.source_dir, 60, 100)
    pl.run_until_caught_up(spark, cfg, paths)

    out = spark.read.parquet(paths.sink_dir)
    assert out.count() == 100
    assert out.select("msg_id").distinct().count() == 100
    assert pl.read_progress(spark, paths.cursor_dir) == (
        BASE_NS + 99 * 1_000_000_000)
    # the replay rewrote batch k's directory in place (new part files)
    after = _batch_files(paths, k)
    assert after and after.isdisjoint(before)
