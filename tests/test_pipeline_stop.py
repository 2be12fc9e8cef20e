"""How the CDC query's sink fails (``streaming/pipeline.make_batch_sink``):
a failed write raises a short error that names the batch and the Java
exception and commits no cursor record, and a stop that lands during the
write ends the query cleanly instead of killing its stream thread."""

from __future__ import annotations

import os
import subprocess
import sys
import traceback

import pytest

from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _paths(root) -> pl.StreamPaths:
    return pl.StreamPaths(*(str(root / d) for d in (
        "source", "sink", "chk", "cursor", "lock")))


def test_failed_write_raises_a_short_error_and_commits_nothing(
        spark, tmp_path):
    paths = _paths(tmp_path)
    # a regular file where the sink directory should be: no batch
    # directory can be made under it
    with open(paths.sink_dir, "w", encoding="utf-8") as fh:
        fh.write("not a directory")
    sink = pl.make_batch_sink(spark, paths)
    batch = spark.createDataFrame([(1, 1_704_067_200_000_000_000, "{}")],
                                  "event_id long, ts long, payload string")
    with pytest.raises(RuntimeError) as ei:
        sink(batch, 3)
    text = "".join(traceback.format_exception(ei.value))
    assert len(text.encode()) < 4096, text
    assert "batch 3: py4j.protocol.Py4JJavaError: " in text
    assert "An error occurred while calling" in text
    # the Java exception is named by its class
    assert any(f"\n: {pkg}" in text for pkg in ("java.", "org.apache.")), text
    assert ei.value.__cause__ is None and ei.value.__suppress_context__
    assert pl.read_progress(spark, paths.cursor_dir) is None
    assert not os.path.exists(paths.cursor_dir) or not [
        n for n in os.listdir(paths.cursor_dir) if n.startswith("part-")]


#: Stops a running query ROUNDS times, each time while a Spark job (the
#: sink's write: one job per micro-batch) is active, and prints each
#: round's query exception.
_STOP_MID_WRITE = r'''
import os, sys, time

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl

root, rounds = sys.argv[1], int(sys.argv[2])
spark = (SparkSession.builder.master("local[2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
paths = pl.StreamPaths(*(os.path.join(root, d) for d in (
    "source", "sink", "chk", "cursor", "lock")))
os.makedirs(paths.source_dir)
per = 20_000
for f in range(64):
    ids = range(f * per, (f + 1) * per)
    p = os.path.join(paths.source_dir, f"part-{f:03d}.parquet")
    pq.write_table(pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array([1_704_067_200_000_000_000 + i * 1000 for i in ids],
                       pa.int64()),
        "user_id": pa.array([i % 7 for i in ids], pa.int64()),
        "event_type": ["purchase"] * per,
        "value": pa.array([float(i) for i in ids], pa.float64()),
        "props": ['{"k": 1}'] * per}), p)
    os.utime(p, (1_600_000_000 + f, 1_600_000_000 + f))
tracker = spark.sparkContext.statusTracker()
for r in range(rounds):
    q = pl.build_query(spark, validate(CdcConfig(cluster_id="1")), paths,
                       trigger_seconds=0.05).start()
    deadline = time.monotonic() + 60
    while not tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.01)
    active = bool(tracker.getActiveJobsIds())
    q.stop()
    print(f"round {r} mid_write={active} exception={q.exception()}",
          flush=True)
spark.stop()
'''


def test_stop_during_the_write_ends_the_query_cleanly(tmp_path):
    rounds = 5
    env = dict(os.environ, PYTHONPATH=ROOT)
    run = subprocess.run(
        [sys.executable, "-c", _STOP_MID_WRITE, str(tmp_path), str(rounds)],
        env=env, capture_output=True, text=True, timeout=600)
    assert run.returncode == 0, run.stderr[-4000:]
    lines = run.stdout.splitlines()
    assert lines == [f"round {r} mid_write=True exception=None"
                     for r in range(rounds)], run.stdout
    assert "StackOverflowError" not in run.stderr
