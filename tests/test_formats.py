"""The parquet stream source (S6) and the NATS publish core over the
transformed stream."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
from tigerbeetle_cdc_nats_spark.functions.events import HEADER_COLS
from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
    NatsSinkConfig,
    drain_partition,
)
from tigerbeetle_cdc_nats_spark.streaming.pipeline import transform_events


def test_stream_real_testdata_through_pipeline(spark, tmp_path):
    """Streaming smoke over the actual driver testdata parquet."""
    cfg = validate(CdcConfig(cluster_id="2"))
    # streaming file sources require a directory; stage the real testdata
    # file into one
    import shutil
    srcdir = str(tmp_path / "src")
    os.makedirs(srcdir)
    shutil.copy("/root/testdata/sf0.001/events.parquet",
                os.path.join(srcdir, "events.parquet"))
    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(srcdir))
    out = str(tmp_path / "out")
    q = (
        transform_events(stream, cfg)
        .writeStream
        .foreachBatch(lambda df, b: df.drop("event_time")
                      .write.mode("append").parquet(out))
        .option("checkpointLocation", str(tmp_path / "chk"))
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert q.exception() is None
    sink = spark.read.parquet(out)
    assert sink.count() == 1000
    assert sink.select("msg_id").distinct().count() == 1000
    assert sink.where(~F.col("subject").startswith("tigerbeetle.cdc.")).count() == 0


def test_nats_sink_with_injected_transport(spark):
    """The JetStream publish shape over transformed rows: every row is
    published once with subject, dedup msg id, and the 5 routing headers
    (runner.go:586-605)."""
    published = []

    def publish(subject: str, msg_id: str, headers: dict, payload: bytes):
        published.append({"subject": subject, "msg_id": msg_id,
                          "headers": headers, "n": len(payload)})

    cfg = validate(CdcConfig(cluster_id="3"))
    rows = transform_events(
        spark.read.schema(EVENTS_SCHEMA)
        .parquet("/root/testdata/sf0.001/events.parquet"), cfg
    ).drop("event_time").limit(50).collect()

    assert drain_partition(iter(rows), publish,
                           NatsSinkConfig(max_pending=8)) == (50, 0)
    assert len(published) == 50
    assert len({p["msg_id"] for p in published}) == 50
    sample = published[0]
    assert sample["subject"].startswith("tigerbeetle.cdc.")
    assert set(HEADER_COLS) | {"Nats-Msg-Id"} == set(sample["headers"])
    assert sample["n"] > 500  # full envelope payload
