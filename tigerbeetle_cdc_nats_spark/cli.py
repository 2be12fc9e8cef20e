"""CLI entry point mirroring the reference's RunCLI contract
(/root/reference/app.go:13-31): parse flags -> validate -> run; exit code 0
on success/help, 2 on flag/config errors, 1 on runtime errors.

Flag names match the reference flag surface (config.go:180-214) where the
concept carries over; transport-specific flags map to their Spark
equivalents (``--source-dir``/``--sink-dir``/``--checkpoint-dir`` replace
the TigerBeetle addresses + NATS URL for the file-backed pipeline).

Without ``--once`` the pipeline runs as in the reference's poll loop
(runner.go:126-169): micro-batches run back to back while input waits, and
``--idle-interval-ms`` is the sleep after a poll that found nothing
(``spark.sql.streaming.pollingDelay``), not a fixed trigger tick.
``--once`` drains what is there with ``Trigger.AvailableNow`` and exits.

Inert flags: ``--event-count-max``, ``--progress-every-events``,
``--requests-per-second-limit``, ``--provision``, ``--stream-update``,
``--stream-replicas``, ``--kv-replicas``, ``--publish-mode``,
``--publish-ack-timeout`` and ``--publish-async-max-pending`` are parsed
and get the reference's validators, but the pipeline cannot act on them,
so any value other than the default exits 2 with the reason
(``config.INERT_FLAGS``).
"""

from __future__ import annotations

import argparse
import sys

from tigerbeetle_cdc_nats_spark.config import (
    INERT_FLAGS,
    CdcConfig,
    ConfigError,
    validate,
)


def build_parser() -> argparse.ArgumentParser:
    from tigerbeetle_cdc_nats_spark import __version__

    p = argparse.ArgumentParser(
        prog="tb-cdc-spark",
        description="TigerBeetle-style CDC pipeline on PySpark",
    )
    # RunCLI takes a build version and exposes it (app.go:13).
    p.add_argument("--version", action="version", version=__version__)
    # identity / routing (config.go:180-214 names)
    p.add_argument("--cluster-id", "--cluster", dest="cluster_id", default="")
    p.add_argument("--subject-mode", default="structured")
    p.add_argument("--subject-prefix", default="tigerbeetle.cdc")
    p.add_argument("--subject", dest="single_subject", default="tigerbeetle.cdc")
    # resources
    p.add_argument("--stream", dest="event_stream", default="")
    p.add_argument("--progress-bucket", default="")
    p.add_argument("--lock-bucket", default="")
    p.add_argument("--stream-replicas", type=int, default=1)
    p.add_argument("--kv-replicas", type=int, default=1)
    p.add_argument("--provision", type=lambda s: s.lower() != "false",
                   default=True)
    p.add_argument("--stream-update", action="store_true")
    # cadence / limits
    p.add_argument("--event-count-max", type=int, default=4096)
    p.add_argument("--progress-every-events", type=int, default=0)
    p.add_argument("--idle-interval-ms", type=float, default=1000.0)
    p.add_argument("--dedupe-window", type=float, default=120.0,
                   metavar="SECONDS")
    p.add_argument("--lock-ttl", type=float, default=30.0, metavar="SECONDS")
    p.add_argument("--lock-refresh", type=float, default=10.0,
                   metavar="SECONDS")
    p.add_argument("--publish-mode", default="async")
    p.add_argument("--publish-ack-timeout", type=float, default=30.0)
    p.add_argument("--publish-async-max-pending", type=int, default=4096)
    p.add_argument("--requests-per-second-limit", type=int, default=None)
    p.add_argument("--timestamp-last", type=int, default=None)
    # Spark-side transport (replaces --addresses/--nats-url)
    p.add_argument("--source-dir")
    p.add_argument("--sink-dir")
    p.add_argument("--checkpoint-dir")
    p.add_argument("--cursor-dir")
    p.add_argument("--lock-dir")
    p.add_argument("--once", action="store_true",
                   help="process available input then exit "
                        "(Trigger.AvailableNow)")
    return p


def config_from_args(ns: argparse.Namespace) -> CdcConfig:
    return validate(CdcConfig(
        cluster_id=ns.cluster_id,
        event_stream=ns.event_stream,
        progress_bucket=ns.progress_bucket,
        lock_bucket=ns.lock_bucket,
        subject_mode=ns.subject_mode,
        subject_prefix=ns.subject_prefix,
        single_subject=ns.single_subject,
        lock_ttl_s=ns.lock_ttl,
        lock_refresh_s=ns.lock_refresh,
        dedupe_window_s=ns.dedupe_window,
        idle_interval_s=ns.idle_interval_ms / 1000.0,
        timestamp_last_override=ns.timestamp_last,
    ), **{name: getattr(ns, name) for name in INERT_FLAGS})


def run_cli(args: list[str]) -> int:
    """app.go:13-31 semantics: 0 ok/help, 2 flag+config error, 1 runtime."""
    parser = build_parser()
    try:
        ns = parser.parse_args(args)
    except SystemExit as e:
        # argparse exits 0 for --help, 2 for flag errors — same contract.
        return int(e.code or 0)

    try:
        cfg = config_from_args(ns)
    except ConfigError as e:
        print(f"error: {e}", file=sys.stderr)
        return 2

    if not ns.source_dir:
        # config-only invocation: print the resolved config (useful for
        # validation in scripts; the reference logs its resolved names too).
        print(f"resolved: stream={cfg.event_stream} "
              f"progress={cfg.progress_bucket} lock={cfg.lock_bucket}")
        return 0
    for flag, value in (("--sink-dir", ns.sink_dir),
                        ("--checkpoint-dir", ns.checkpoint_dir),
                        ("--cursor-dir", ns.cursor_dir)):
        if not value:
            print(f"error: {flag} is required with --source-dir",
                  file=sys.stderr)
            return 2

    try:
        from tigerbeetle_cdc_nats_spark.session import get_spark
        from tigerbeetle_cdc_nats_spark.streaming import pipeline as pl

        paths = pl.StreamPaths(
            source_dir=ns.source_dir,
            sink_dir=ns.sink_dir,
            checkpoint_dir=ns.checkpoint_dir,
            cursor_dir=ns.cursor_dir,
            lock_dir=ns.lock_dir or (ns.checkpoint_dir + "_lock"),
        )
        spark = get_spark(app_name=f"tb-cdc-spark-{cfg.cluster_id}")
        lock = pl.acquire_lock(paths, owner=f"cli-{cfg.cluster_id}",
                               ttl_s=cfg.lock_ttl_s)

        # refresh failure stops the stream — the reference surfaces refresh
        # errors to the main loop (runner.go:147-151).
        def stop_queries(_reason):
            for q in spark.streams.active:
                q.stop()

        try:
            if ns.once:
                # a long catch-up can outlive the TTL — keep the lease warm.
                lock.start_refresh(cfg.lock_refresh_s,
                                   on_failure=stop_queries)
                pl.run_until_caught_up(spark, cfg, paths)
                lock.check()
            else:
                q = pl.build_query(
                    spark, cfg, paths,
                    trigger_seconds=cfg.idle_interval_s,
                ).start()
                lock.start_refresh(cfg.lock_refresh_s,
                                   on_failure=stop_queries)
                q.awaitTermination()
                lock.check()
        finally:
            pl.release_lock(lock)
        return 0
    except Exception as e:  # runtime failure -> 1 (app.go:26-28)
        print(f"error: {e}", file=sys.stderr)
        return 1


def main() -> None:
    sys.exit(run_cli(sys.argv[1:]))
