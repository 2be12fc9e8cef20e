"""The two pipeline workloads.

``cdc_drain`` (closed loop, one client): a seeded backlog of large
ts-sorted files is drained once through the calls ``run_cli --once``
makes: lock, ``run_until_caught_up`` over the default file source,
``transform_events`` with its dedup, the parquet publish and the cursor
commit. The first micro-batch compiles everything and the next two are
still a third slower while the JVM compiles hot code, so all three count
as set-up; the timed window runs from their end to the end of the last
data batch, and every later backlog event is due when it opens.

``cdc_tail`` (open loop): the CLI's streaming branch, a live
``build_query(..., trigger_seconds=idle interval)`` query under a
refreshing lease, while a generator thread appends one small ts-sorted
file per tick. Each file's commit lag is timed from when it was due.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from tigerbeetle_cdc_nats_spark.cli import build_parser, config_from_args
from tigerbeetle_cdc_nats_spark.functions.events import (
    msg_id_column,
    subject_column,
)
from tigerbeetle_cdc_nats_spark.functions.json_codec import encode_cdc_json
from tigerbeetle_cdc_nats_spark.operators.cdc_view import with_cdc_event
from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
    NatsSinkConfig,
    drain_partition,
    fake_publisher_factory,
)
from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl

import gen
from mix import mix_layers
from tracing import (
    add_batch_spans,
    data_batches,
    harvest_jobs,
    median,
    progress_end,
)

CLUSTER = "7"
FILES_PER_BATCH = 16        # build_query's maxFilesPerTrigger
DRAIN_ROWS_PER_FILE = 2000  # 32k-row batches
DRAIN_DENSITY = 500         # events per event-second -> ~120k state rows
DRAIN_BATCH_S = 3.0         # warm batch time at the seed; sizes the backlog
DRAIN_WARMUP_BATCHES = 3    # the plan compile, then JIT warm-up (set-up)
# On a 4-vCPU VM two cores drain as fast as four (3.06 s per warm batch
# on both), but with four every vCPU is busy, so CPU the hypervisor steals
# stalls whole stages: runs with 8-14% host steal were 35% slower on
# local[4], while one with 8% was no slower on local[2].
DRAIN_CORES = 2
TAIL_RATE = 1000            # events per second, about half the seed's capacity
TAIL_TICK_S = 0.25          # one file per tick (16 files = 4 s of feed)
TAIL_WARM_FILES = 10        # present before the query starts
MAX_LATENESS_S = 0.5        # a generator later than this invalidates the run


@dataclass
class Result:
    """What a workload hands back to run.py."""

    attempted: int
    failed: int
    correct: bool
    setup_s: float
    events_per_s: float
    batch_ms: list[float]     # triggerExecution of the warm data batches
    lag_ms: list[float]       # commit lag of every timed event
    notes: dict
    layers: dict


def _paths(root: str) -> tuple:
    """CLI flags -> (cfg, StreamPaths), built exactly as run_cli does."""
    ns = build_parser().parse_args([
        "--cluster-id", CLUSTER,
        "--source-dir", os.path.join(root, "source"),
        "--sink-dir", os.path.join(root, "sink"),
        "--checkpoint-dir", os.path.join(root, "checkpoint"),
        "--cursor-dir", os.path.join(root, "cursor"),
        "--lock-dir", os.path.join(root, "lock"),
    ])
    cfg = config_from_args(ns)
    paths = pl.StreamPaths(source_dir=ns.source_dir, sink_dir=ns.sink_dir,
                           checkpoint_dir=ns.checkpoint_dir,
                           cursor_dir=ns.cursor_dir, lock_dir=ns.lock_dir)
    os.makedirs(paths.source_dir, exist_ok=True)
    return cfg, paths


def _write_backlog(feed: gen.Feed, directory: str, count: int) -> None:
    """Write the first ``count`` files with strictly increasing mtimes, so
    the file source takes them in ts order."""
    for i in range(count):
        p = gen.write_file(feed.tables[i], directory, i)
        os.utime(p, (1_600_000_000 + i, 1_600_000_000 + i))


def _dropped(p: dict) -> int:
    return sum(int(s.get("customMetrics", {})
                   .get("numDroppedDuplicateRows", 0))
               for s in p.get("stateOperators", []))


def _late(p: dict) -> int:
    return sum(int(s.get("numRowsDroppedByWatermark", 0))
               for s in p.get("stateOperators", []))


def verify_sink(spark, paths, feed: gen.Feed, progress: list[dict]):
    """Untimed checks: msg_id is unique in the sink, sink rows equal the
    unique events generated, dropped rows equal the planted replays, and
    the stored cursor equals the maximum generated ts. The sink is read
    with pyarrow, independently of Spark.

    Returns (failed events, all checks passed, notes)."""
    msg_ids = pq.read_table(paths.sink_dir, columns=["msg_id"]).column(0)
    rows, ids = len(msg_ids), len(pc.unique(msg_ids))
    missing = max(0, feed.unique_events - ids)
    extra_ids = max(0, ids - feed.unique_events)
    duplicated = rows - ids
    dropped = sum(_dropped(p) for p in progress)
    cursor = pl.read_progress(spark, paths.cursor_dir)
    notes = {"sink_rows": rows, "unique_expected": feed.unique_events,
             "dropped_rows": dropped, "replays": feed.replays,
             "late_rows": sum(_late(p) for p in progress),
             "cursor_ok": cursor == feed.max_ts}
    failed = missing + duplicated + extra_ids
    ok = failed == 0 and dropped == feed.replays and cursor == feed.max_ts
    return failed, ok, notes


def _stream_layers(spark, run_id: str, progress: list[dict],
                   warm: list[dict], source_dir: str) -> dict:
    """Per-layer numbers of one streaming query, from its progress and
    the status store."""
    data = data_batches(progress)
    totals = harvest_jobs(
        spark, lambda g, d: "stream" if g == run_id else None).get("stream")
    jobs_per_batch = [totals.batches.get(p["batchId"], 0) for p in data] \
        if totals else []
    last = data[-1] if data else {}
    ops = last.get("stateOperators", [{}])
    rows_in = sum(p["numInputRows"] for p in data)
    dropped = sum(_dropped(p) for p in progress)
    dm = [p["durationMs"] for p in warm]
    n = max(1, len(data))
    return {
        "scan.latest_offset_ms": median(d.get("latestOffset", 0) for d in dm),
        "scan.get_batch_ms": median(d.get("getBatch", 0) for d in dm),
        "scan.source_files": float(len([f for f in os.listdir(source_dir)
                                        if f.endswith(".parquet")])),
        "dedup.state_rows": float(sum(o.get("numRowsTotal", 0) for o in ops)),
        "dedup.state_mb":
            sum(o.get("memoryUsedBytes", 0) for o in ops) / 2**20,
        "dedup.dropped_rows": float(dropped),
        "dedup.drop_ratio": dropped / rows_in if rows_in else 0.0,
        "dedup.state_update_ms": median(
            sum(o.get("allUpdatesTimeMs", 0) for o in p["stateOperators"])
            for p in warm),
        "dedup.state_commit_ms": median(
            sum(o.get("commitTimeMs", 0) for o in p["stateOperators"])
            for p in warm),
        "sink.add_batch_ms": median(d.get("addBatch", 0) for d in dm),
        "sink.jobs_per_batch": median(jobs_per_batch),
        "batch.query_planning_ms":
            median(d.get("queryPlanning", 0) for d in dm),
        "batch.wal_commit_ms": median(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dm),
        "batch.rows": median(p["numInputRows"] for p in warm),
        "batch.tasks": totals.tasks / n if totals else 0.0,
        "batch.cpu_s": totals.cpu_s / n if totals else 0.0,
    }


def _probe_layers(spark, cfg, files: list[str], probe_root: str,
                  tracer) -> dict:
    """Direct calls into the encode, sink and NATS-sink layers over one
    batch of this workload's size (traced runs only, after timing)."""
    ev = spark.read.schema(EVENTS_SCHEMA).parquet(*files).persist()
    rows = ev.count()

    def encoded():
        e = with_cdc_event(ev)
        ec = F.col("event")
        return e.select(
            msg_id_column(cfg.cluster_id, "ts").alias("msg_id"),
            subject_column(cfg.subject_prefix, ec["ledger"],
                           ec["type"]).alias("subject"),
            encode_cdc_json("event").alias("payload"))

    enc_s = []
    for _ in range(3):
        with tracer.span("probe.encode"):
            t = time.perf_counter()
            encoded().write.format("noop").mode("overwrite").save()
            enc_s.append(time.perf_counter() - t)
    payload = encoded().agg(F.avg(F.octet_length("payload"))).first()[0]

    _, ppaths = _paths(probe_root)
    batch = pl.transform_events(ev, cfg)
    sink = pl.make_batch_sink(spark, ppaths)
    call_s, out_rows = [], 0
    for b in range(3):
        batch = batch.persist()
        out_rows = batch.count()
        with tracer.span("probe.sink_call"):
            t = time.perf_counter()
            sink(batch, b)
            call_s.append(time.perf_counter() - t)
    sink_bytes = sum(os.path.getsize(os.path.join(dp, f))
                     for dp, _, fs in os.walk(
                         os.path.join(ppaths.sink_dir, "batch_id=0"))
                     for f in fs if f.endswith(".parquet"))

    msgs = (pl.transform_events(ev, cfg)
            .select("msg_id", "subject", "payload", "event_type", "ledger",
                    "transfer_code", "debit_account_code",
                    "credit_account_code").collect())
    with tracer.span("probe.nats_sink"):
        t = time.perf_counter()
        published, _dups = drain_partition(
            iter(msgs), fake_publisher_factory(), NatsSinkConfig())
        nats_s = time.perf_counter() - t
    ev.unpersist()
    return {
        "encode.rows_per_s": rows / median(enc_s),
        "encode.payload_bytes": float(payload or 0.0),
        "sink.call_ms": median(call_s) * 1000.0,
        "sink.bytes_per_event": sink_bytes / out_rows if out_rows else 0.0,
        "nats_sink.msgs_per_s": published / nats_s if nats_s > 0 else 0.0,
    }


def _backlog(root: str, feed: gen.Feed, count: int) -> tuple:
    """The CLI's directories under ``root``, with the first ``count`` feed
    files already in the source directory; returns (cfg, paths)."""
    cfg, paths = _paths(root)
    _write_backlog(feed, paths.source_dir, count)
    return cfg, paths


def _drain_once(ctx, spark, cfg, paths):
    """The calls run_cli --once makes; returns the query's run id and
    progress."""
    known = len(ctx.progress.terminated)
    with ctx.tracer.span("lock.acquire"):
        lock = pl.acquire_lock(paths, owner=f"cli-{cfg.cluster_id}",
                               ttl_s=cfg.lock_ttl_s)
    try:
        with ctx.tracer.span("drain") as sp:
            lock.start_refresh(cfg.lock_refresh_s)
            pl.run_until_caught_up(spark, cfg, paths)
            lock.check()
    finally:
        pl.release_lock(lock)
    run_id = ctx.progress.wait_terminated(known, timeout_s=30.0)
    progress = ctx.progress.for_run(run_id)
    if sp is not None:
        add_batch_spans(ctx.tracer, progress, sp.span_id)
    return run_id, progress


def run_drain(ctx) -> Result:
    # an odd count, so the median event's commit falls inside a batch
    # rather than on the boundary between two
    warm_batches = max(3, round(ctx.seconds / DRAIN_BATCH_S)) | 1
    t = time.perf_counter()
    feed = gen.make_feed(gen.FeedSpec(
        ctx.seed, FILES_PER_BATCH * (DRAIN_WARMUP_BATCHES + warm_batches),
        DRAIN_ROWS_PER_FILE, DRAIN_DENSITY))
    cfg, paths = _backlog(os.path.join(ctx.run_dir, "drain"), feed,
                          len(feed.tables))
    ctx.gen_s += time.perf_counter() - t

    spark = ctx.start_session(cores=min(DRAIN_CORES, ctx.cpus))
    run_id, progress = _drain_once(ctx, spark, cfg, paths)

    data = data_batches(progress)
    warm = data[DRAIN_WARMUP_BATCHES:]
    t_first = progress_end(data[DRAIN_WARMUP_BATCHES - 1])
    committed = [p["numInputRows"] - _dropped(p) for p in warm]
    # unique events committed per wall second, per batch interval; the
    # median keeps one batch hit by a host stall from moving the figure
    rates = [n / (progress_end(p) - progress_end(prev))
             for n, prev, p in zip(committed,
                                   data[DRAIN_WARMUP_BATCHES - 1:], warm)]
    lags = np.repeat([(progress_end(p) - t_first) * 1000.0 for p in warm],
                     committed).tolist()
    ctx.mark_timed_end()

    failed, ok, notes = verify_sink(spark, paths, feed, progress)
    notes.update(ctx.notes)
    notes.update(batches=len(data), timed_batches=len(warm),
                 rows_per_batch=FILES_PER_BATCH * DRAIN_ROWS_PER_FILE)
    layers = {}
    if ctx.trace:
        layers = _stream_layers(spark, run_id, progress, warm,
                                paths.source_dir)
        files = sorted(os.path.join(paths.source_dir, f)
                       for f in os.listdir(paths.source_dir)
                       if f.endswith(".parquet"))[:FILES_PER_BATCH]
        layers.update(_probe_layers(spark, cfg, files,
                                    os.path.join(ctx.run_dir, "probe"),
                                    ctx.tracer))
        layers["batch.speedup_vs_1core"] = _speedup_vs_1core(
            ctx, _trigger_ms(warm))
    return Result(
        attempted=feed.unique_events, failed=failed, correct=ok,
        setup_s=ctx.setup_until(t_first), events_per_s=median(rates),
        batch_ms=_trigger_ms(warm), lag_ms=lags, notes=notes, layers=layers)


def _trigger_ms(batches: list[dict]) -> list[float]:
    return [float(p["durationMs"]["triggerExecution"]) for p in batches]


def _speedup_vs_1core(ctx, warm_ms: list[float]) -> float:
    """Drain a smaller backlog of the same batch size on one core (a new
    SparkContext in the same, already warm JVM, local[1]) and compare the
    batches after the warm-up ones."""
    with ctx.tracer.span("probe.single_core"):
        spark = ctx.restart_session(cores=1)
        feed = gen.make_feed(gen.FeedSpec(
            ctx.seed + 1, FILES_PER_BATCH * (DRAIN_WARMUP_BATCHES + 2),
            DRAIN_ROWS_PER_FILE, DRAIN_DENSITY))
        cfg, paths = _backlog(os.path.join(ctx.run_dir, "drain_1core"),
                              feed, len(feed.tables))
        _, progress = _drain_once(ctx, spark, cfg, paths)
    one = _trigger_ms(data_batches(progress)[DRAIN_WARMUP_BATCHES:])
    # same batch positions on both sides, so the dedup state is alike
    return median(one) / median(warm_ms[:len(one)]) if one and warm_ms else 0.0


def run_tail(ctx) -> Result:
    n_files = max(1, round(ctx.seconds / TAIL_TICK_S))
    rows_per_file = int(TAIL_RATE * TAIL_TICK_S)
    t = time.perf_counter()
    feed = gen.make_feed(gen.FeedSpec(
        ctx.seed, TAIL_WARM_FILES + n_files, rows_per_file, TAIL_RATE))
    fed = feed.tables[TAIL_WARM_FILES:]
    # event time runs at wall-clock speed: an event is created
    # (ts - ts0) after the feed starts, and its file is due when the
    # file's last event has been created.
    ts0 = fed[0].column("ts")[0].as_py()
    fed_ts = [np.asarray(t_.column("ts")) for t_ in fed]
    offsets = [float(a[-1] - ts0) / 1e9 for a in fed_ts]
    warm_unique = len(set(np.concatenate(
        [np.asarray(t_.column("ts")) for t_ in feed.tables[:TAIL_WARM_FILES]]
    ).tolist()))
    cfg, paths = _backlog(os.path.join(ctx.run_dir, "tail"), feed,
                          TAIL_WARM_FILES)
    ctx.gen_s += time.perf_counter() - t

    # Spark gets all cores but one; the generator thread gets the last.
    spark = ctx.start_session(cores=max(1, min(4, ctx.cpus) - 1))
    total_rows = sum(t_.num_rows for t_ in feed.tables)

    with ctx.tracer.span("lock.acquire"):
        lock = pl.acquire_lock(paths, owner=f"cli-{cfg.cluster_id}",
                               ttl_s=cfg.lock_ttl_s)
    try:
        with ctx.tracer.span("tail") as sp:
            q = pl.build_query(spark, cfg, paths,
                               trigger_seconds=cfg.idle_interval_s).start()
            lock.start_refresh(cfg.lock_refresh_s,
                               on_failure=lambda _reason: q.stop())
            run_id = str(q.runId)
            log = ctx.progress
            if not log.wait_for(lambda: log.rows_done(run_id) > 0, 120.0):
                raise RuntimeError("tail query produced no first batch")
            t_first = progress_end(data_batches(log.for_run(run_id))[0])

            lateness: list[float] = []
            t_feed0 = time.time() + TAIL_TICK_S

            def generate() -> None:
                for i, table in enumerate(fed):
                    due = t_feed0 + offsets[i]
                    delay = due - time.time()
                    if delay > 0:
                        time.sleep(delay)
                    gen.write_file(table, paths.source_dir,
                                   TAIL_WARM_FILES + i)
                    lateness.append(time.time() - due)

            g = threading.Thread(target=generate, name="feed-generator")
            g.start()
            g.join()
            t_feed_end = time.time()
            done_rows = log.rows_done(run_id, by=t_feed_end)
            caught_up = log.wait_for(
                lambda: log.rows_done(run_id) >= total_rows, 60.0)
            known = len(log.terminated)
            q.stop()
            lock.check()
    finally:
        pl.release_lock(lock)
    log.wait_terminated(known, timeout_s=30.0)
    progress = ctx.progress.for_run(run_id)
    if sp is not None:
        add_batch_spans(ctx.tracer, progress, sp.span_id)

    # commit lag of every fed event: end of the batch whose cursor commit
    # covers its file, minus the event's creation time.
    ends = {p["batchId"]: progress_end(p) for p in progress}
    cursor = sorted((int(r["batch_id"]), int(r["timestamp"])) for r in
                    spark.read.parquet(paths.cursor_dir).collect())
    lags, t_done = [], None
    for a in fed_ts:
        b = next((b for b, ts in cursor if ts >= a[-1]), None)
        if b is not None and b in ends:
            lags.append((ends[b] - t_feed0) * 1000.0 - (a - ts0) / 1e6)
            t_done = ends[b]
    lags = np.concatenate(lags).tolist() if lags else []
    # delivered rate: fed events over the time from the start of the feed
    # to the commit of its last file. It trails the feed rate by the last
    # file's commit lag, and falls further once the pipeline falls behind.
    fed_unique = feed.unique_events - warm_unique
    rate = fed_unique / (t_done - t_feed0) if t_done else 0.0
    ctx.mark_timed_end()

    failed, ok, notes = verify_sink(spark, paths, feed, progress)
    notes.update(ctx.notes)
    late_max = max(lateness) if lateness else 0.0
    backlog = total_rows - done_rows
    notes.update(files=n_files, lag_samples=len(lags), caught_up=caught_up,
                 fed_unique=fed_unique,
                 generator_late_max_ms=round(late_max * 1000.0, 3),
                 backlog_events_at_end=backlog)
    if late_max > MAX_LATENESS_S:
        notes["invalid"] = "generator fell behind its schedule"
        ok = False
    warm = data_batches(progress)[1:]
    layers = {}
    if ctx.trace:
        layers = _stream_layers(spark, run_id, progress, warm,
                                paths.source_dir)
        per_batch = max(1, round(median(p["numInputRows"] for p in warm)
                                 / rows_per_file))
        files = [os.path.join(paths.source_dir, f"events-{i:06d}.parquet")
                 for i in range(TAIL_WARM_FILES,
                                TAIL_WARM_FILES + min(per_batch, n_files))]
        layers.update(_probe_layers(spark, cfg, files,
                                    os.path.join(ctx.run_dir, "probe"),
                                    ctx.tracer))
        layers["tail.generator_late_ms"] = late_max * 1000.0
        layers["tail.backlog_events"] = float(backlog)
        mix, n_queries, wrong = mix_layers(spark, ctx.seed, ctx.tracer)
        layers.update(mix)
        notes.update(mix_queries=n_queries, mix_row_counts_wrong=wrong)
        ok = ok and not wrong
    return Result(
        attempted=feed.unique_events, failed=failed, correct=ok,
        setup_s=ctx.setup_until(t_first), events_per_s=rate,
        batch_ms=_trigger_ms(warm), lag_ms=lags, notes=notes, layers=layers)
