"""Strict enum dispatch raises on unknown values (message.go:91-93)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.functions.events import event_type_name


def test_event_type_unknown_raises(spark):
    """Strict mode mirrors message.go:91-93: unknown enum -> hard error."""
    df = spark.range(1).select(F.lit(7).alias("code"))
    out = df.select(event_type_name("code").alias("t"))
    with pytest.raises(Exception, match="unsupported change event type: 7"):
        out.collect()


def test_event_type_lenient_gives_null(spark):
    df = spark.range(1).select(F.lit(7).alias("code"))
    row = df.select(event_type_name("code", strict=False).alias("t")).first()
    assert row["t"] is None


def test_cursor_cannot_advance_past_u64_max(spark):
    """runner.go:726-736: the cursor at u64 max raises instead of
    wrapping to 0 (which would silently replay the entire stream)."""
    import pytest

    from tigerbeetle_cdc_nats_spark.operators.scan import cdc_incremental_scan

    ev = spark.createDataFrame([(1, 10)], "event_id long, ts long")
    with pytest.raises(ValueError, match="cannot continue"):
        cdc_incremental_scan(ev, cursor=2**64 - 1)
