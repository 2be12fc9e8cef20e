"""CLI contract tests (app.go:13-31): exit codes and flag surface."""

from __future__ import annotations

import subprocess
import sys

import pytest

from tigerbeetle_cdc_nats_spark.cli import run_cli


def test_help_exits_zero(capsys):
    assert run_cli(["--help"]) == 0


def test_missing_cluster_id_exits_two(capsys):
    assert run_cli([]) == 2
    assert "--cluster-id is required" in capsys.readouterr().err


def test_invalid_config_exits_two(capsys):
    assert run_cli(["--cluster-id", "1", "--lock-refresh", "30",
                    "--lock-ttl", "30"]) == 2
    assert "--lock-refresh must be less than --lock-ttl" in capsys.readouterr().err


def test_config_only_prints_resolved_names(capsys):
    assert run_cli(["--cluster-id", "7"]) == 0
    out = capsys.readouterr().out
    assert "stream=TB_CDC_EVENTS_7" in out
    assert "progress=TB_CDC_PROGRESS_7" in out


def test_cluster_alias_flag(capsys):
    # --cluster is an alias for --cluster-id (config.go:180-181).
    assert run_cli(["--cluster", "9"]) == 0
    assert "TB_CDC_EVENTS_9" in capsys.readouterr().out


def test_module_invocation():
    # python -m tigerbeetle_cdc_nats_spark (cmd/tb-cdc-nats/main.go analogue).
    proc = subprocess.run(
        [sys.executable, "-m", "tigerbeetle_cdc_nats_spark",
         "--cluster-id", "3"],
        capture_output=True, text=True, cwd="/root/repo", timeout=60,
    )
    assert proc.returncode == 0
    assert "TB_CDC_EVENTS_3" in proc.stdout


def test_version_flag_exits_zero(capsys):
    assert run_cli(["--version"]) == 0
    assert "0.1.0" in capsys.readouterr().out


@pytest.mark.parametrize("flag", [
    ["--event-count-max", "100"],
    ["--progress-every-events", "10"],
    ["--requests-per-second-limit", "50"],
    ["--provision", "false"],
    ["--stream-update"],
    ["--stream-replicas", "3"],
    ["--kv-replicas", "3"],
    ["--publish-mode", "sync"],
    ["--publish-ack-timeout", "5"],
    ["--publish-async-max-pending", "64"],
], ids=lambda flag: flag[0])
def test_inert_flag_fails_fast(capsys, flag):
    """A flag the pipeline cannot act on exits 2 with the reason when it is
    set away from its default; the default stays accepted."""
    assert run_cli(["--cluster-id", "1", *flag]) == 2
    assert f"{flag[0]} has no effect here: " in capsys.readouterr().err


def test_inert_flags_at_their_defaults_pass(capsys):
    assert run_cli(["--cluster-id", "1", "--event-count-max", "4096",
                    "--progress-every-events", "0", "--provision", "true",
                    "--stream-replicas", "1", "--kv-replicas", "1",
                    "--publish-mode", "ASYNC", "--publish-ack-timeout", "30",
                    "--publish-async-max-pending", "4096"]) == 0


PIPELINE_DIRS = ("--sink-dir", "--checkpoint-dir", "--cursor-dir")


@pytest.mark.parametrize("missing", PIPELINE_DIRS)
def test_missing_pipeline_dir_exits_two(capsys, monkeypatch, tmp_path,
                                        missing):
    """With --source-dir, each other pipeline dir is required: its absence
    exits 2 and names the flag, before any Spark session starts."""
    from tigerbeetle_cdc_nats_spark import session

    def no_spark(**_kw):
        raise AssertionError("get_spark called")

    monkeypatch.setattr(session, "get_spark", no_spark)
    args = ["--cluster-id", "1", "--source-dir", str(tmp_path / "src"),
            "--once"]
    for flag in PIPELINE_DIRS:
        if flag != missing:
            args += [flag, str(tmp_path / flag[2:])]
    assert run_cli(args) == 2
    assert f"{missing} is required with --source-dir" in capsys.readouterr().err


def test_get_spark_keeps_a_running_sessions_confs(spark):
    """Builder confs apply only when get_spark creates the session: a
    second call (an in-process run_cli) gets the running session with its
    confs as they were."""
    from tigerbeetle_cdc_nats_spark.session import get_spark

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    again = get_spark(app_name="cli", shuffle_partitions=int(before) + 5)
    assert again.sparkContext is spark.sparkContext
    assert again.conf.get(key) == spark.conf.get(key) == before
    assert again.sparkContext.appName == spark.sparkContext.appName


BASE_TS = 1_704_067_200_000_000_000


def _write_file(path, ids):
    """One source file of events ``ids``, 1 ms apart from ``BASE_TS``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = list(ids)
    pq.write_table(pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array([BASE_TS + i * 1_000_000 for i in ids], pa.int64()),
        "user_id": pa.array([i % 7 for i in ids], pa.int64()),
        "event_type": ["purchase"] * len(ids),
        "value": pa.array([float(i) for i in ids], pa.float64()),
        "props": ['{"k": 1}'] * len(ids),
    }), str(path))


def test_once_drains_a_multi_batch_backlog(spark, tmp_path):
    """--once is the reference's poll-until-empty loop (runner.go:126-169):
    one call drains a backlog of more files than one micro-batch admits
    (maxFilesPerTrigger=16), replays included, and commits the cursor at
    the backlog's max ts."""
    import os

    from tigerbeetle_cdc_nats_spark.streaming.pipeline import read_progress

    n_files, per_file = 20, 10
    src = tmp_path / "source"
    os.makedirs(src)
    for f in range(n_files):
        _write_file(src / f"part-{f:03d}.parquet",
                    range(f * per_file, (f + 1) * per_file))
    # at-least-once upstream: two files replay the first file's events
    for f in (n_files, n_files + 1):
        _write_file(src / f"part-{f:03d}.parquet", range(per_file))
    n_unique = n_files * per_file

    sink, cursor = tmp_path / "sink", tmp_path / "cursor"
    assert run_cli(["--cluster-id", "1", "--source-dir", str(src),
                    "--sink-dir", str(sink),
                    "--checkpoint-dir", str(tmp_path / "chk"),
                    "--cursor-dir", str(cursor), "--once"]) == 0

    batches = [d for d in os.listdir(sink) if d.startswith("batch_id=")]
    assert len(batches) >= 2  # 22 files at 16 per micro-batch
    out = spark.read.parquet(str(sink))
    assert out.count() == n_unique
    assert out.select("msg_id").distinct().count() == n_unique
    assert read_progress(spark, str(cursor)) == (
        BASE_TS + (n_unique - 1) * 1_000_000)


def test_once_stops_when_the_lease_is_lost(spark, tmp_path, monkeypatch):
    """A --once drain whose lease refresh fails stops its streaming query
    rather than draining the whole backlog next to the new holder, and
    exits 1 (runner.go:147-151: a refresh error ends the run)."""
    import glob
    import os
    import threading

    import pyarrow.parquet as pq

    from tigerbeetle_cdc_nats_spark.streaming.pipeline import LockLease

    def lose_once_active(self, refresh_s, on_failure=None):
        def loop():
            while not self._stop.wait(0.05):
                if spark.streams.active:
                    self.failure = "lease stolen by test"
                    if on_failure is not None:
                        on_failure(self.failure)
                    return

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    monkeypatch.setattr(LockLease, "start_refresh", lose_once_active)

    n_files, per_file = 80, 10
    src = tmp_path / "source"
    os.makedirs(src)
    for f in range(n_files):  # 5 micro-batches of 16 files
        _write_file(src / f"part-{f:03d}.parquet",
                    range(f * per_file, (f + 1) * per_file))

    sink = tmp_path / "sink"
    assert run_cli(["--cluster-id", "1", "--source-dir", str(src),
                    "--sink-dir", str(sink),
                    "--checkpoint-dir", str(tmp_path / "chk"),
                    "--cursor-dir", str(tmp_path / "cursor"), "--once"]) == 1
    assert not spark.streams.active
    published = sum(pq.read_metadata(p).num_rows for p in glob.glob(
        str(sink / "batch_id=*" / "*.parquet")))
    assert published < n_files * per_file
