"""Stateful streaming operators: state must carry across micro-batches.

Drives ``applyInPandasWithState`` through a real two-phase streaming run
(write batch 1 -> process -> write batch 2 -> process) and asserts the
second output reflects accumulated state, not a fresh start.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
from tigerbeetle_cdc_nats_spark.streaming.stateful import (
    rate_limited_counts,
    running_balances,
)

BASE_TS = 1_704_067_200_000_000_000


@pytest.fixture()
def dirs(tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    os.makedirs(src)
    return src, out, chk


def _write(spark, src, rows):
    (spark.createDataFrame(rows, EVENTS_SCHEMA)
     .coalesce(1).write.mode("append").parquet(src))


def _run_stream(spark, src, out, chk, transform):
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src)
    q = (
        transform(stream)
        .writeStream
        .foreachBatch(lambda df, bid: df.write.mode("append").parquet(out))
        .option("checkpointLocation", chk)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert not q.isActive and q.exception() is None


def test_running_balances_accumulate_across_restarts(spark, dirs):
    src, out, chk = dirs
    # batch 1: user 1 purchases 10.00 twice -> 2000 cents.
    _write(spark, src, [
        (1, BASE_TS + 1, 1, "purchase", 10.0, "{}"),
        (2, BASE_TS + 2, 1, "purchase", 10.0, "{}"),
        (3, BASE_TS + 3, 2, "view", 5.0, "{}"),
    ])
    _run_stream(spark, src, out, chk, running_balances)

    # batch 2 (separate run, state restored from checkpoint): +30.00.
    _write(spark, src, [(4, BASE_TS + 4, 1, "purchase", 30.0, "{}")])
    _run_stream(spark, src, out, chk, running_balances)

    final = (
        spark.read.parquet(out)
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"),
             F.max("debits_posted_cents").alias("debits"),
             F.max("credits_posted_cents").alias("credits"))
    )
    rows = {r["user_id"]: r for r in final.collect()}
    assert rows[1]["debits"] == 5000  # 1000+1000+3000, carried across runs
    assert rows[1]["n"] == 3
    assert rows[2]["credits"] == 500


def test_rate_limited_counts_throttle_over_limit(spark, dirs):
    src, out, chk = dirs
    # 7 events for user 1 inside ONE 1 s window, limit 5 -> 2 throttled.
    _write(spark, src, [
        (i, BASE_TS + i * 1000, 1, "click", 1.0, "{}") for i in range(7)
    ])
    _run_stream(spark, src, out, chk,
                lambda s: rate_limited_counts(s, limit=5))
    final = spark.read.parquet(out)
    row = final.orderBy(F.col("n_admitted").desc()).first()
    assert row["n_admitted"] == 5
    assert row["n_throttled"] == 2
