"""Stop/restart resume test — the Spark analogue of the reference's
integration test (/root/reference/integration_test.go:41-243): process batch
1, stop the pipeline, add events while down, restart, and assert the new
events arrive exactly once (total count exact, cursor monotone, no
duplicates or loss — integration_test.go:233-240)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl


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


def _write_events(spark, source_dir: str, start_id: int, n: int,
                  base_ts: int) -> None:
    rows = [
        (start_id + i, base_ts + i * 1_000_000, (start_id + i) % 7,
         "purchase", 10.0 + i, '{"k": 1}')
        for i in range(n)
    ]
    (spark.createDataFrame(rows, EVENTS_SCHEMA)
     .coalesce(1).write.mode("append").parquet(source_dir))


BASE_TS = 1_704_067_200_000_000_000


def test_resume_without_duplication_or_loss(spark, paths):
    cfg = validate(CdcConfig(cluster_id="1"))

    # Phase 1: transfer #1 arrives, pipeline runs, stream has exactly n1
    # messages (integration_test.go:181-201).
    _write_events(spark, paths.source_dir, 0, 50, BASE_TS)
    pl.run_until_caught_up(spark, cfg, paths)

    sink1 = spark.read.parquet(paths.sink_dir)
    assert sink1.count() == 50
    cursor1 = pl.read_progress(spark, paths.cursor_dir)
    assert cursor1 == BASE_TS + 49 * 1_000_000

    # Pipeline is STOPPED (integration_test.go:204); transfer #2 created
    # while down (integration_test.go:206-215).
    _write_events(spark, paths.source_dir, 50, 30, BASE_TS + 10**9)

    # Restart from the same checkpoint (integration_test.go:217).
    pl.run_until_caught_up(spark, cfg, paths)

    # Exactly n1+n2 — resume without duplication or loss
    # (integration_test.go:233-240).
    sink2 = spark.read.parquet(paths.sink_dir)
    assert sink2.count() == 80
    assert sink2.select("msg_id").distinct().count() == 80

    # Timestamps strictly increasing across the resume
    # (integration_test.go:227-229).
    cursor2 = pl.read_progress(spark, paths.cursor_dir)
    assert cursor2 == BASE_TS + 10**9 + 29 * 1_000_000
    assert cursor2 > cursor1

    # Message shape: subject + headers (integration_test.go:559-582).
    row = sink2.orderBy("ts").first()
    assert row["subject"].startswith("tigerbeetle.cdc.")
    assert row["msg_id"] == f"1/{row['ts']}"
    assert row["payload"].startswith('{"timestamp":')
    for h in ("event_type", "ledger", "transfer_code",
              "debit_account_code", "credit_account_code"):
        assert row[h] is not None


def test_replayed_input_is_deduplicated(spark, paths):
    """At-least-once upstream delivery: the same source file content
    appearing twice within the dedupe window collapses by msg_id (ST3,
    runner.go:602 + stream dedupe config runner.go:180)."""
    cfg = validate(CdcConfig(cluster_id="1"))
    _write_events(spark, paths.source_dir, 0, 20, BASE_TS)
    _write_events(spark, paths.source_dir, 0, 20, BASE_TS)  # replay
    pl.run_until_caught_up(spark, cfg, paths)
    sink = spark.read.parquet(paths.sink_dir)
    assert sink.select("msg_id").distinct().count() == 20
    assert sink.count() == 20


def test_timestamp_override_skips_old_events(spark, paths):
    """--timestamp-last override wins over stored progress
    (runner.go:392-398)."""
    cfg = validate(CdcConfig(
        cluster_id="1",
        timestamp_last_override=BASE_TS + 24 * 1_000_000,
    ))
    _write_events(spark, paths.source_dir, 0, 50, BASE_TS)
    pl.run_until_caught_up(spark, cfg, paths)
    sink = spark.read.parquet(paths.sink_dir)
    assert sink.count() == 25  # only ts > override
    assert sink.agg(F.min("ts")).first()[0] == BASE_TS + 25 * 1_000_000


def test_single_writer_lock(paths):
    """Second acquire fails while the lease is live; succeeds after release
    (runner.go:607-643)."""
    lock = pl.acquire_lock(paths, owner="runner-a")
    with pytest.raises(RuntimeError, match="lock held by runner-a"):
        pl.acquire_lock(paths, owner="runner-b")
    pl.release_lock(lock)
    lock2 = pl.acquire_lock(paths, owner="runner-b")
    pl.release_lock(lock2)


def test_lock_acquire_is_atomic_create(paths):
    """Acquire must be create-if-absent, never read-check-write: a file that
    appears between the existence check and the write must NOT be clobbered.
    With O_CREAT|O_EXCL the two steps are one syscall — assert the losing
    side errors even when the dir was empty a moment before."""
    lock = pl.acquire_lock(paths, owner="first")
    # second acquire with an identical view of the world loses atomically
    with pytest.raises(RuntimeError, match="lock held by first"):
        pl.acquire_lock(paths, owner="second")
    pl.release_lock(lock)


def test_lease_refresh_keeps_lock_past_ttl(paths):
    """The background refresher (runner.go:666-724) must keep the lease
    live well past 3x TTL while the holder runs."""
    import time

    ttl = 0.3
    lock = pl.acquire_lock(paths, owner="holder", ttl_s=ttl)
    lock.start_refresh(refresh_s=0.05)
    try:
        deadline = time.time() + 3.5 * ttl
        while time.time() < deadline:
            with pytest.raises(RuntimeError, match="lock held by holder"):
                pl.acquire_lock(paths, owner="thief", ttl_s=ttl)
            time.sleep(0.1)
        lock.check()  # refresher never failed
        assert lock.revision > 0  # it actually refreshed
    finally:
        pl.release_lock(lock)


def test_lease_refresh_failure_surfaces_and_fires_callback(paths):
    """A stolen/destroyed lease must surface through check() and the
    on_failure callback — the reference kills the main loop on refresh
    failure (runner.go:147-151)."""
    import time

    fired = []
    lock = pl.acquire_lock(paths, owner="holder", ttl_s=0.2)
    lock.start_refresh(refresh_s=0.05, on_failure=fired.append)
    # steal the lease out from under the refresher (revision mismatch)
    thief = pl.LockLease(lock.path, "thief", 0.2)
    pl._atomic_write_json(lock.path, thief.record(time.time() + 100))
    deadline = time.time() + 2.0
    while lock.failure is None and time.time() < deadline:
        time.sleep(0.05)
    assert fired and "thief" in fired[0]
    with pytest.raises(RuntimeError, match="lease lost"):
        lock.check()
    lock.stop()


def test_expired_lease_takeover_includes_holder_metadata(paths):
    """After TTL expiry a new owner takes over; while live, the error names
    the holder, host and pid (runner.go:636-641 format)."""
    import json
    import time

    lock = pl.acquire_lock(paths, owner="old-holder", ttl_s=0.1)
    err = None
    try:
        pl.acquire_lock(paths, owner="any", ttl_s=0.1)
    except RuntimeError as e:
        err = str(e)
    assert err and "old-holder" in err and "pid" in err
    time.sleep(0.15)  # let the un-refreshed lease expire
    lock2 = pl.acquire_lock(paths, owner="new-holder", ttl_s=0.1)
    with open(lock2.path) as f:
        rec = json.load(f)
    assert rec["owner"] == "new-holder"
    pl.release_lock(lock2)
