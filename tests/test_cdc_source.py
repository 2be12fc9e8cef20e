"""The event store's cursor-range read: Spark's parquet reader under the
type-aware ts bounds of ``operators/scan.py`` (``timestamp_range_filter``
and the ``cdc_incremental_scan`` poll), the reference's
``GetChangeEvents(TimestampMin=last+1)`` over a parquet directory."""

from __future__ import annotations

from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.operators.scan import (
    cdc_incremental_scan,
    timestamp_range_filter,
)

BASE_NS = 1_700_000_000_000_000_000


def _write_events(spark, src, lo, hi, ts_step_ns=1_000_000_000):
    spark.range(lo, hi).select(
        F.col("id").alias("event_id"),
        (F.lit(BASE_NS) + F.col("id") * ts_step_ns).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("transfer").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit('{"k":1}').alias("props"),
    ).coalesce(1).write.mode("append").parquet(src)


def _event_ids(df) -> list[int]:
    return sorted(r[0] for r in df.select("event_id").collect())


def test_start_ts_skips_consumed_prefix(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 50)
    cut = BASE_NS + 29 * 1_000_000_000
    # one poll from the cursor: exactly the 20 later rows, in ts order
    got = cdc_incremental_scan(spark.read.parquet(src), cursor=cut)
    assert [r[0] for r in got.select("event_id").collect()] == (
        list(range(30, 50)))


def test_batch_reader_cursor_range(spark, tmp_path):
    """One-shot (lo, hi] scan over the raw int64-ns column."""
    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 100)
    ev = spark.read.parquet(src)
    lo = BASE_NS + 9 * 1_000_000_000   # exclusive
    hi = BASE_NS + 49 * 1_000_000_000  # inclusive
    assert _event_ids(timestamp_range_filter(ev, lo + 1, hi)) == (
        list(range(10, 50)))
    # full scan with no bounds
    assert timestamp_range_filter(ev, 0).count() == 100
    # empty range still evaluates (no plan-time error)
    assert timestamp_range_filter(ev, hi + 1, hi).count() == 0


def test_stat_ns_handles_tz_aware_timestamps(spark, tmp_path):
    """A store whose ts is a real TIMESTAMP column (written adjusted-to-UTC,
    Spark's default) takes ns cursor bounds as native timestamp literals."""
    src = str(tmp_path / "events_tz")
    spark.range(0, 50).select(
        F.col("id").alias("event_id"),
        F.timestamp_micros(
            F.lit(BASE_NS // 1000) + F.col("id") * 1_000_000).alias("ts"),
        (F.col("id") % 7).alias("user_id"),
        F.lit("transfer").alias("event_type"),
        F.col("id").cast("double").alias("value"),
        F.lit('{"k":1}').alias("props"),
    ).coalesce(1).write.mode("append").parquet(src)
    ev = spark.read.parquet(src)
    assert dict(ev.dtypes)["ts"] == "timestamp"
    end = BASE_NS + 19 * 1_000_000_000
    upto = timestamp_range_filter(ev, 0, end)
    assert upto.count() == 20
    assert upto.agg(F.max(F.unix_micros("ts"))).first()[0] * 1000 == end
    # bounded on both sides: ts in (BASE_NS, end]
    assert _event_ids(timestamp_range_filter(ev, BASE_NS + 1, end)) == (
        list(range(1, 20)))
