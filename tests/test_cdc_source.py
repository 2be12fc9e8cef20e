"""The tb_cdc_events cursor-range source (sources/cdc_source.py): the
(startTs, endTs] scan with row-group pruning, ts normalization and the
per-partition top-k pushdown."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.sources.cdc_source import (
    CdcEventsBatchReader,
    read_cdc_batch,
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


def test_start_ts_skips_consumed_prefix(spark, tmp_path):
    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 50)
    cut = BASE_NS + 29 * 1_000_000_000
    reader = CdcEventsBatchReader({"path": src, "startts": str(cut)})
    import pyarrow as pa

    tbl = pa.Table.from_batches(
        [b for p in reader.partitions() for b in reader.read(p)])
    assert tbl.num_rows == 20
    assert min(tbl.column("event_id").to_pylist()) == 30
    # the same cut through spark.read: exactly the 20 later rows
    got = read_cdc_batch(spark, src, start_ts=cut).select("event_id")
    assert sorted(r[0] for r in got.collect()) == list(range(30, 50))


def test_missing_path_option_raises():
    with pytest.raises(ValueError, match="path"):
        CdcEventsBatchReader({})


def test_batch_reader_cursor_range(spark, tmp_path):
    """spark.read.format('tb_cdc_events') — one-shot (startTs, endTs]
    scan with ts normalized to int64 nanoseconds."""
    src = str(tmp_path / "events")
    _write_events(spark, src, 0, 100)
    lo = BASE_NS + 9 * 1_000_000_000   # exclusive
    hi = BASE_NS + 49 * 1_000_000_000  # inclusive
    got = read_cdc_batch(spark, src, start_ts=lo, end_ts=hi)
    rows = got.select("event_id", "ts").collect()
    assert len(rows) == 40
    assert {r["event_id"] for r in rows} == set(range(10, 50))
    # full scan with no bounds
    assert read_cdc_batch(spark, src).count() == 100
    # empty range still evaluates (no plan-time error)
    assert read_cdc_batch(spark, src, start_ts=hi, end_ts=hi).count() == 0


def test_batch_reader_agrees_with_load_events(spark, tmp_path):
    """The native source's normalized ts matches the session loader's
    cursor arithmetic on the driver-shaped events table."""
    from tigerbeetle_cdc_nats_spark.session import load_events

    sf = "/root/testdata/sf0.001"
    ref = load_events(spark, sf).select("event_id", "ts")
    lo = ref.agg(F.min("ts")).first()[0]
    got = read_cdc_batch(spark, f"{sf}/events.parquet",
                         start_ts=lo).select("event_id", "ts")
    ref_after = ref.where(F.col("ts") > lo)
    assert got.count() == ref_after.count()
    assert got.exceptAll(ref_after).count() == 0


def test_stat_ns_handles_tz_aware_timestamps(spark, tmp_path):
    """Parquet ts columns written adjusted-to-UTC (Spark's default for
    TIMESTAMP) surface tz-AWARE datetime statistics; the row-group pruning
    must not crash on them (naive-minus-aware raises TypeError)."""
    import datetime

    from tigerbeetle_cdc_nats_spark.sources.cdc_source import _stat_ns

    aware = datetime.datetime(2023, 11, 14, 22, 13, 20,
                              tzinfo=datetime.timezone.utc)
    naive = datetime.datetime(2023, 11, 14, 22, 13, 20)
    assert _stat_ns(aware) == 1_700_000_000_000_000_000
    assert _stat_ns(naive) == 1_700_000_000_000_000_000
    assert _stat_ns(1_700_000_000_000_000_000) == 1_700_000_000_000_000_000

    # end-to-end: a store whose ts is a real TIMESTAMP column (stats are
    # tz-aware datetimes) plans and reads without error
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
    end = BASE_NS + 19 * 1_000_000_000
    reader = CdcEventsBatchReader({"path": src, "endts": str(end)})
    import pyarrow as pa

    tbl = pa.Table.from_batches(
        [b for p in reader.partitions() for b in reader.read(p)])
    assert tbl.num_rows == 20
    assert max(tbl.column("ts").to_pylist()) == end
    # through spark.read, bounded on both sides: ts in (BASE_NS, end]
    got = read_cdc_batch(spark, src, start_ts=BASE_NS, end_ts=end)
    assert sorted(r[0] for r in got.select("event_id").collect()) == (
        list(range(1, 20)))


def test_batch_top_k_prunes_per_partition_not_result(spark, tmp_path):
    """topK pushdown: a multi-row-group file must yield the same global
    ORDER BY ts LIMIT k rows with per-partition pruning on, while each
    partition ships at most k rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    n = 1000
    tbl = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        # interleave timestamps across row groups so the global top-k
        # draws from both partitions
        "ts": pa.array([1_000 + ((i * 7919) % n) * 1_000 for i in range(n)],
                       pa.int64()),
        "user_id": pa.array([i % 10 for i in range(n)], pa.int64()),
        "event_type": pa.array(["t"] * n, pa.string()),
        "value": pa.array([float(i) for i in range(n)], pa.float64()),
        "props": pa.array(["{}"] * n, pa.string()),
    })
    path = os.path.join(tmp_path, "events.parquet")
    pq.write_table(tbl, path, row_group_size=250)  # 4 partitions

    k = 37
    plain = read_cdc_batch(spark, path, start_ts=0)
    pruned = read_cdc_batch(spark, path, start_ts=0, top_k=k)
    want = sorted((r["ts"], r["event_id"])
                  for r in plain.orderBy("ts").limit(k).collect())
    got = sorted((r["ts"], r["event_id"])
                 for r in pruned.orderBy("ts").limit(k).collect())
    assert got == want
    # each of the 4 partitions ships at most k rows
    assert pruned.count() <= 4 * k
