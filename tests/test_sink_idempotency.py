"""Crash-replay semantics of the batch sink: re-running the same micro-batch
(the at-least-once replay after a crash between publish and checkpoint,
runner.go:442-462) must not duplicate sink rows or progress records, an
empty source is a clean no-op, a failed publish commits no cursor, a
corrupt cursor raises, the cursor dir keeps the last
``minBatchesToRetain`` records, and a data batch costs one Spark job (the
observed write; the driver writes the progress record)."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl

BASE_TS = 1_704_067_200_000_000_000


@pytest.fixture()
def paths(tmp_path):
    p = pl.StreamPaths(
        source_dir=str(tmp_path / "source"),
        sink_dir=str(tmp_path / "sink"),
        checkpoint_dir=str(tmp_path / "chk"),
        cursor_dir=str(tmp_path / "cursor"),
        lock_dir=str(tmp_path / "lock"),
    )
    os.makedirs(p.source_dir)
    return p


def test_replayed_batch_overwrites_not_duplicates(spark, paths):
    cfg = validate(CdcConfig(cluster_id="1"))
    rows = [(i, BASE_TS + i * 1_000, 1, "purchase", 1.0, "{}")
            for i in range(10)]
    batch = pl.transform_events(
        spark.createDataFrame(rows, EVENTS_SCHEMA), cfg
    )
    sink = pl.make_batch_sink(spark, paths)
    sink(batch, 7)
    sink(batch, 7)  # crash-replay of the SAME micro-batch id
    out = spark.read.parquet(paths.sink_dir)
    assert out.count() == 10  # overwrite-by-batch-id, not append
    # cursor re-commit is idempotent too: reads take max(timestamp)
    assert pl.read_progress(spark, paths.cursor_dir) == BASE_TS + 9_000


def test_empty_source_is_clean_noop(spark, paths):
    cfg = validate(CdcConfig(cluster_id="1"))
    # no files in source at all
    pl.run_until_caught_up(spark, cfg, paths)
    assert pl.read_progress(spark, paths.cursor_dir) is None
    assert not os.path.exists(paths.sink_dir) or not os.listdir(paths.sink_dir)


def test_empty_batch_skips_write_and_commit(spark, paths):
    cfg = validate(CdcConfig(cluster_id="1"))
    empty = pl.transform_events(
        spark.createDataFrame([], EVENTS_SCHEMA), cfg
    )
    pl.make_batch_sink(spark, paths)(empty, 0)
    assert pl.read_progress(spark, paths.cursor_dir) is None
    assert not os.path.exists(os.path.join(paths.sink_dir, "batch_id=0"))


def test_drain_costs_one_job_per_data_batch(spark, paths):
    """A short availableNow drain: every data batch is one observed write;
    the progress record fires no job. The trailing no-data batch
    (watermark eviction) publishes nothing and commits nothing."""
    cfg = validate(CdcConfig(cluster_id="1"))
    n = 120
    (spark.createDataFrame(
        [(i, BASE_TS + i * 1_000, 1, "purchase", 1.0, "{}") for i in range(n)],
        EVENTS_SCHEMA).repartition(3)
     .write.mode("append").parquet(paths.source_dir))
    q = pl.build_query(spark, cfg, paths, trigger_available_now=True).start()
    q.awaitTermination(120)
    assert q.exception() is None
    progress = q.recentProgress
    data = [p for p in progress if p["numInputRows"] > 0]
    empty = [p for p in progress if p["numInputRows"] == 0]
    assert data and empty  # the watermark-eviction batch ran too
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    # an empty batch costs at most its one (empty) write
    assert len(jobs) - len(empty) <= len(data)
    assert set(os.listdir(paths.sink_dir)) == {
        f"batch_id={p['batchId']}" for p in data}
    assert spark.read.parquet(paths.sink_dir).count() == n
    assert pl.read_progress(spark, paths.cursor_dir) == BASE_TS + (n - 1) * 1_000
    cursor_batches = {r["batch_id"] for r in
                      spark.read.parquet(paths.cursor_dir).collect()}
    assert cursor_batches == {p["batchId"] for p in data}


def test_failed_publish_commits_no_cursor(spark, paths):
    """Ack-before-commit: when the publish raises, no progress record is
    written, so a restart replays the batch."""
    cfg = validate(CdcConfig(cluster_id="1"))
    with open(paths.sink_dir, "w") as f:  # a file where a directory goes
        f.write("not a directory")
    batch = pl.transform_events(spark.createDataFrame(
        [(1, BASE_TS, 1, "purchase", 1.0, "{}")], EVENTS_SCHEMA), cfg)
    with pytest.raises(Exception):
        pl.make_batch_sink(spark, paths)(batch, 0)
    assert pl.read_progress(spark, paths.cursor_dir) is None


def _batch(spark, cfg, ids):
    return pl.transform_events(spark.createDataFrame(
        [(i, BASE_TS + i * 1_000, 1, "purchase", 1.0, "{}") for i in ids],
        EVENTS_SCHEMA), cfg)


def _visible_records(cursor_dir):
    return sorted(f for f in os.listdir(cursor_dir)
                  if f.startswith("part-") and f.endswith(".parquet"))


def test_corrupt_record_raises(spark, paths):
    """An unreadable cursor is an error, never "no progress"."""
    os.makedirs(paths.cursor_dir)
    with open(os.path.join(paths.cursor_dir,
                           "part-00000000000000000003.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(pa.ArrowInvalid):
        pl.read_progress(spark, paths.cursor_dir)


def test_cursor_dir_keeps_min_batches_to_retain(spark, paths):
    """After N + 3 commits N records remain, and the cursor still equals
    the highest ts ever committed although the batch that held it was
    trimmed: every record stores the running max."""
    cfg = validate(CdcConfig(cluster_id="1"))
    n = 3
    spark.conf.set("spark.sql.streaming.minBatchesToRetain", str(n))
    try:
        sink = pl.make_batch_sink(spark, paths)
    finally:
        spark.conf.unset("spark.sql.streaming.minBatchesToRetain")
    sink(_batch(spark, cfg, [100]), 0)  # the highest ts, trimmed below
    for b in range(1, n + 3):
        sink(_batch(spark, cfg, [b]), b)
    assert _visible_records(paths.cursor_dir) == [
        f"part-{b:020d}.parquet" for b in range(3, n + 3)]
    assert pl.read_progress(spark, paths.cursor_dir) == BASE_TS + 100_000
    assert sorted(r["batch_id"] for r in spark.read.parquet(
        paths.cursor_dir).collect()) == list(range(3, n + 3))


class _RenameFails:
    """A Hadoop FileSystem whose rename raises: a crash after the publish,
    before the progress record becomes visible."""

    def __init__(self, fs):
        self._fs = fs

    def __getattr__(self, name):
        return getattr(self._fs, name)

    def rename(self, src, dst):
        raise OSError("crash before the progress commit")


def test_crash_between_publish_and_commit_replays_once(
        spark, paths, monkeypatch):
    cfg = validate(CdcConfig(cluster_id="1"))
    batch = _batch(spark, cfg, range(10))
    real = pl._hadoop_fs
    monkeypatch.setattr(pl, "_hadoop_fs", lambda spark, path: (
        _RenameFails(real(spark, path)[0]), real(spark, path)[1]))
    with pytest.raises(OSError, match="crash before the progress commit"):
        pl.make_batch_sink(spark, paths)(batch, 4)
    monkeypatch.undo()
    # published, but not committed: no visible record
    assert spark.read.parquet(paths.sink_dir).count() == 10
    assert _visible_records(paths.cursor_dir) == []
    assert pl.read_progress(spark, paths.cursor_dir) is None

    pl.make_batch_sink(spark, paths)(batch, 4)  # the restart's replay
    assert spark.read.parquet(paths.sink_dir).count() == 10
    assert [tuple(r) for r in spark.read.parquet(paths.cursor_dir).collect()
            ] == [(BASE_TS + 9_000, "dev", 4)]


def test_stale_tmp_record_is_invisible_and_replaced(spark, paths):
    """A hidden ``.tmp`` left by a crash mid-commit is read by nobody, and
    the replay of its batch replaces it."""
    cfg = validate(CdcConfig(cluster_id="1"))
    pl.make_batch_sink(spark, paths)(_batch(spark, cfg, [1]), 1)
    tmp = os.path.join(paths.cursor_dir,
                       ".part-00000000000000000002.parquet.tmp")
    with open(tmp, "wb") as f:
        f.write(b"torn write")
    assert pl.read_progress(spark, paths.cursor_dir) == BASE_TS + 1_000
    assert spark.read.parquet(paths.cursor_dir).count() == 1

    pl.make_batch_sink(spark, paths)(_batch(spark, cfg, [2]), 2)
    assert not os.path.exists(tmp)
    assert _visible_records(paths.cursor_dir) == [
        "part-00000000000000000001.parquet",
        "part-00000000000000000002.parquet"]
    assert pl.read_progress(spark, paths.cursor_dir) == BASE_TS + 2_000
