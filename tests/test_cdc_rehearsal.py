"""Composed CDC-source rehearsal.

Ingest is Spark's parquet file source, one file per micro-batch
(``maxFilesPerTrigger=1``), and egress is the ``tb_cdc_publish`` native
writer's metrics path (the per-chunk publish log, runner.go:580-583).
The crash is a REAL at-least-once replay: the tail of the sink
checkpoint's commit log is deleted while the offsets log is kept, so on
restart the engine re-executes those batches through the same source
offsets — exact publish counts hold because the metrics commit rewrites
its batch file in place.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.functions.events import (
    msg_id_column,
    subject_column,
)
from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
    make_publish_datasource,
)

BASE_NS = 1_800_000_000_000_000_000
FILE_EVENTS = 25  # events per file: several micro-batches per phase


def _write_events(spark, src, lo, hi):
    for first in range(lo, hi, FILE_EVENTS):
        spark.range(first, min(first + FILE_EVENTS, hi)).select(
            F.col("id").alias("event_id"),
            (F.lit(BASE_NS) + F.col("id") * 1_000_000_000).alias("ts"),
            (F.col("id") % 5).alias("user_id"),
            F.lit("transfer").alias("event_type"),
            F.col("id").cast("double").alias("value"),
            F.lit('{"code":7}').alias("props"),
        ).coalesce(1).write.mode("append").parquet(src)


def _read_stream(spark, src):
    return (spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1).parquet(src))


def _publish_view(ev):
    return ev.select(
        subject_column("tb.cdc", "user_id", "event_type").alias("subject"),
        msg_id_column(0, "ts").alias("msg_id"),
        F.to_json(F.struct("event_id", "ts", "value")).alias("payload"),
        F.col("event_type").cast("string").alias("event_type"),
        F.col("user_id").cast("string").alias("ledger"),
        F.lit("1").alias("transfer_code"),
        F.lit("10").alias("debit_account_code"),
        F.lit("20").alias("credit_account_code"),
    ).coalesce(1)


def _start(spark, src, *, chk_pub, metrics):
    spark.dataSource.register(make_publish_datasource())
    return (_publish_view(_read_stream(spark, src))
          .writeStream.format("tb_cdc_publish")
          .option("publisherFactory",
                  "tigerbeetle_cdc_nats_spark.sources.nats_sink:"
                  "fake_publisher_factory")
          .option("metricsDir", metrics)
          .option("checkpointLocation", chk_pub)
          .trigger(processingTime="50 milliseconds").start())


def _published_total(metrics):
    try:
        return sum(json.load(open(os.path.join(metrics, f)))["published"]
                   for f in os.listdir(metrics) if f.endswith(".json"))
    except (OSError, json.JSONDecodeError):
        return -1  # a metrics file mid-replace; retry at the next poll


def _wait_for(pred, timeout_s, info=None):
    deadline = time.time() + timeout_s
    while time.time() < deadline and not pred():
        time.sleep(0.5)
    assert pred(), (info() if info else "wait_for timeout")


def _replay_tail(chk):
    """Delete the commit-log tail from the newest DATA batch onward (the
    offsets log stays), so restart re-executes those batches with their
    original source offset ranges — a genuine at-least-once replay.
    Returns the first replayed batch id."""
    odir, cdir = os.path.join(chk, "offsets"), os.path.join(chk, "commits")

    def ids(d):
        return sorted(int(f) for f in os.listdir(d) if f.isdigit())

    def log_offset(i):
        with open(os.path.join(odir, str(i)), encoding="utf-8") as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        return json.loads(lines[-1])["logOffset"]

    oid = ids(odir)
    data = ([i for i in oid[1:] if log_offset(i) > log_offset(i - 1)]
            or [oid[0]])
    k = data[-1]
    for i in [i for i in ids(cdir) if i >= k]:
        os.remove(os.path.join(cdir, str(i)))
        crc = os.path.join(cdir, f".{i}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    return k


def test_cdc_source_rehearsal_exact_publish_counts_across_replay(
        spark, tmp_path):
    src = str(tmp_path / "events")
    metrics = str(tmp_path / "metrics")
    chk_pub = str(tmp_path / "chk_pub")

    # ---- phase 1: 60 events flow source -> publish ----
    _write_events(spark, src, 0, 60)
    qp = _start(spark, src, chk_pub=chk_pub, metrics=metrics)
    try:
        _wait_for(lambda: _published_total(metrics) == 60, 120,
                  info=lambda: f"published={_published_total(metrics)}")
    finally:
        qp.stop()
        qp.awaitTermination(60)

    # ---- crash: uncommit the sink's newest data batch ----
    assert _replay_tail(chk_pub) >= 0

    # ---- phase 2: 40 more events + restart; the replayed batches
    # re-execute through their original source offsets ----
    _write_events(spark, src, 60, 100)
    qp = _start(spark, src, chk_pub=chk_pub, metrics=metrics)
    try:
        # exact publish accounting: the replayed batch REWRITES its
        # batch-N metrics file in place, so the total is exactly 100
        _wait_for(lambda: _published_total(metrics) == 100, 180,
                  info=lambda: f"published={_published_total(metrics)}")
    finally:
        qp.stop()
        qp.awaitTermination(60)
    # the source holds exactly the 100 events a batch read of it sees
    assert spark.read.parquet(src).count() == 100
