"""Real-broker JetStream integration test (env-gated, reference parity).

Mirrors the reference's ``TestIntegration_CDCResumeWithJetStreamState``
(integration_test.go:41-243) and its gate (``TB_CDC_INTEGRATION=1``,
integration_test.go:42-44): spawn a real ``nats-server -js``, run the
``tb_cdc_publish`` native stream writer through the live
``jetstream_publisher_factory``, stop the pipeline, publish more events
while it is down, restart from the same checkpoint, and assert the stream
holds EXACTLY the expected message count — resume without duplication or
loss (integration_test.go:233-240).

Skips cleanly (with the reason) when any of the three prerequisites is
absent from the environment: the env flag, the ``nats-server`` binary, or
``nats-py``.
"""

from __future__ import annotations

import importlib.util
import os
import shutil
import socket
import subprocess
import time

import pytest

pytestmark = [
    pytest.mark.skipif(
        os.environ.get("TB_CDC_INTEGRATION") != "1",
        reason="set TB_CDC_INTEGRATION=1 to run broker integration tests "
               "(reference integration_test.go:42-44)"),
    pytest.mark.skipif(
        shutil.which("nats-server") is None,
        reason="nats-server binary not on PATH"),
    pytest.mark.skipif(
        importlib.util.find_spec("nats") is None,
        reason="nats-py not installed"),
]

STREAM = "TB_CDC_EVENTS_TEST"
SUBJECT_PREFIX = "tigerbeetle.cdc.test"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


@pytest.fixture()
def broker(tmp_path):
    """A throwaway single-node nats-server with JetStream enabled."""
    port = _free_port()
    proc = subprocess.Popen(
        ["nats-server", "-js", "-p", str(port),
         "-sd", str(tmp_path / "jsdata")],
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL)
    url = f"nats://127.0.0.1:{port}"
    deadline = time.time() + 15
    while time.time() < deadline:
        try:
            with socket.create_connection(("127.0.0.1", port), timeout=1):
                break
        except OSError:
            time.sleep(0.2)
    else:
        proc.terminate()
        pytest.fail("nats-server did not come up")
    os.environ["NATS_URL"] = url
    try:
        yield url
    finally:
        proc.terminate()
        proc.wait(timeout=10)


def _run_js(coro):
    import asyncio

    loop = asyncio.new_event_loop()
    try:
        return loop.run_until_complete(coro)
    finally:
        loop.close()


def _ensure_stream(url: str) -> None:
    import nats

    async def go():
        nc = await nats.connect(url)
        js = nc.jetstream()
        # the reference's stream config: subject taxonomy + 2 min dedupe
        # window (runner.go:172-184, config.go:39)
        await js.add_stream(name=STREAM,
                            subjects=[f"{SUBJECT_PREFIX}.>"],
                            duplicate_window=120)
        await nc.close()

    _run_js(go())


def _stream_messages(url: str):
    import nats

    async def go():
        nc = await nats.connect(url)
        js = nc.jetstream()
        info = await js.stream_info(STREAM)
        n = info.state.messages
        await nc.close()
        return n

    return _run_js(go())


def _publish_batch(spark, events_path, chk, metrics_dir):
    """Drain the events store through the native publish writer once."""
    from pyspark.sql import functions as F

    from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
    from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
        make_publish_datasource,
    )

    spark.dataSource.register(make_publish_datasource())
    events = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(events_path))
    out = events.select(
        F.concat_ws(".", F.lit(SUBJECT_PREFIX), F.col("event_type"))
        .alias("subject"),
        F.concat_ws("/", F.lit("0"), F.col("ts").cast("string"))
        .alias("msg_id"),
        F.col("event_type"),
        F.col("user_id").cast("string").alias("ledger"),
        F.lit("0").alias("transfer_code"),
        F.lit("0").alias("debit_account_code"),
        F.lit("0").alias("credit_account_code"),
        F.to_json(F.struct("event_id", "ts", "value")).alias("payload"),
    )
    q = (out.writeStream.format("tb_cdc_publish")
         .option("publisherFactory",
                 "tigerbeetle_cdc_nats_spark.sources.nats_live:"
                 "jetstream_publisher_factory")
         .option("metricsDir", metrics_dir)
         .option("checkpointLocation", chk)
         .trigger(processingTime="100 milliseconds").start())
    return q


def _wait_for_count(url, expect, timeout_s=60):
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if _stream_messages(url) >= expect:
            return
        time.sleep(0.5)


def test_publish_resume_exact_counts(spark, tmp_path, broker):
    """integration_test.go:181-240 as a Spark pipeline: publish batch 1,
    stop, produce batch 2 while down, restart, assert the stream count is
    EXACTLY total (at-least-once + JetStream msg-id dedupe = effectively
    once), and resume re-published nothing."""
    from tests.test_cdc_source import _write_events

    _ensure_stream(broker)
    src = str(tmp_path / "events")
    chk = str(tmp_path / "chk")
    metrics = str(tmp_path / "metrics")

    for lo in range(0, 100, 25):  # one micro-batch per file
        _write_events(spark, src, lo, lo + 25)
    q = _publish_batch(spark, src, chk, metrics)
    try:
        _wait_for_count(broker, 100)
    finally:
        q.stop()
        q.awaitTermination(60)
    assert _stream_messages(broker) == 100

    # events arriving while the pipeline is down (integration_test.go:206)
    for lo in range(100, 150, 25):
        _write_events(spark, src, lo, lo + 25)
    q = _publish_batch(spark, src, chk, metrics)
    try:
        _wait_for_count(broker, 150)
    finally:
        q.stop()
        q.awaitTermination(60)
    # the resume contract: exactly 150 — no loss, no duplicates
    assert _stream_messages(broker) == 150
