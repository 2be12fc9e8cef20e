"""Crash-replay semantics of the batch sink: re-running the same micro-batch
(the at-least-once replay after a crash between publish and checkpoint,
runner.go:442-462) must not duplicate sink rows, an empty source is a
clean no-op, a failed publish commits no cursor, and a data batch costs at
most two Spark jobs (the observed write, then the progress append)."""

from __future__ import annotations

import os

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


def test_drain_costs_at_most_two_jobs_per_data_batch(spark, paths):
    """A short availableNow drain: every data batch is one observed write
    plus the progress append. The trailing no-data batch (watermark
    eviction) publishes nothing and commits nothing."""
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
    assert len(jobs) - len(empty) <= 2 * len(data)
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
