"""How the CDC query commits and paces its micro-batches
(``streaming/pipeline.build_query``): back-to-back micro-batches with the
idle interval as the backoff after an empty poll, and checkpoint commits
through the Hadoop FileSystem on a local checkpoint."""

from __future__ import annotations

import os
import time

import pyarrow as pa
import pyarrow.parquet as pq

from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl

BASE_TS = 1_704_067_200_000_000_000
POLLING_DELAY = "spark.sql.streaming.pollingDelay"


def _paths(root) -> pl.StreamPaths:
    paths = pl.StreamPaths(*(str(root / d) for d in (
        "source", "sink", "chk", "cursor", "lock")))
    os.makedirs(paths.source_dir)
    return paths


def _write_files(directory: str, n_files: int, per_file: int) -> None:
    for f in range(n_files):
        ids = range(f * per_file, (f + 1) * per_file)
        pq.write_table(pa.table({
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array([BASE_TS + i * 1_000_000 for i in ids],
                           pa.int64()),
            "user_id": pa.array([i % 7 for i in ids], pa.int64()),
            "event_type": ["purchase"] * per_file,
            "value": pa.array([float(i) for i in ids], pa.float64()),
            "props": ['{"k": 1}'] * per_file,
        }), os.path.join(directory, f"part-{f:03d}.parquet"))
        # strictly increasing mtimes: the file source takes them in order
        os.utime(os.path.join(directory, f"part-{f:03d}.parquet"),
                 (1_600_000_000 + f, 1_600_000_000 + f))


def _cursor_records(cursor_dir: str) -> list[str]:
    if not os.path.isdir(cursor_dir):
        return []
    return sorted(n for n in os.listdir(cursor_dir)
                  if n.startswith("part-") and n.endswith(".parquet"))


def _checkpoint_manager(spark, jsession, path: str) -> str:
    """Class of the manager Spark builds for ``path`` from ``jsession``'s
    Hadoop conf, as the offset log and the state store build it."""
    jvm = spark._jvm
    create = getattr(jvm.org.apache.spark.sql.execution.streaming
                     .checkpointing, "CheckpointFileManager$").__getattr__(
                         "MODULE$").create
    manager = create(jvm.org.apache.hadoop.fs.Path(path),
                     jsession.sessionState().newHadoopConf())
    return manager.getClass().getName()


def test_backlog_runs_back_to_back_not_per_trigger_tick(spark, tmp_path):
    """A backlog worth three micro-batches (48 files at 16 per batch) is
    committed well inside one 30 s idle interval: a batch starts as soon
    as the previous one commits while data waits, and the idle interval
    only spaces the polls that find nothing."""
    paths = _paths(tmp_path)
    _write_files(paths.source_dir, 48, 4)
    old = spark.conf.get(POLLING_DELAY)
    try:
        q = pl.build_query(spark, validate(CdcConfig(cluster_id="1")), paths,
                           trigger_seconds=30).start()
    finally:
        # start() has read it; later queries of the shared session keep
        # their own polling delay
        spark.conf.set(POLLING_DELAY, old)
    try:
        deadline = time.monotonic() + 20.0
        while (len(_cursor_records(paths.cursor_dir)) < 3
               and time.monotonic() < deadline and q.exception() is None):
            time.sleep(0.2)
        assert q.exception() is None
        assert len(_cursor_records(paths.cursor_dir)) >= 3
    finally:
        q.stop()
    assert pl.read_progress(spark, paths.cursor_dir) == (
        BASE_TS + (48 * 4 - 1) * 1_000_000)


def test_checkpoint_manager_follows_the_scheme(spark, tmp_path):
    """A local checkpoint commits through Spark's FileSystem-based manager
    (``FileSystem.rename``, no FileContext ``readlink`` process); any
    other scheme keeps Spark's FileContext default."""
    paths = _paths(tmp_path)
    _write_files(paths.source_dir, 2, 4)
    q = pl.build_query(spark, validate(CdcConfig(cluster_id="1")), paths,
                       trigger_available_now=True).start()
    try:
        q.awaitTermination(120)
        assert q.exception() is None
        assert _checkpoint_manager(spark, q._jsq.sparkSession(),
                                   paths.checkpoint_dir) == (
            pl.FS_CHECKPOINT_MANAGER)
    finally:
        q.stop()
    assert os.listdir(os.path.join(paths.checkpoint_dir, "commits"))

    # an HDFS checkpoint, after the local one: the session's manager is
    # Spark's default again. The query is only built; nothing connects.
    remote = pl.StreamPaths(paths.source_dir, paths.sink_dir,
                            "hdfs://localhost:9/chk", paths.cursor_dir,
                            paths.lock_dir)
    pl.build_query(spark, validate(CdcConfig(cluster_id="1")), remote)
    assert _checkpoint_manager(spark, spark._jsparkSession,
                               remote.checkpoint_dir).endswith(
        ".FileContextBasedCheckpointFileManager")
