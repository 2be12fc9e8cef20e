"""The CDC pipeline as Structured Streaming (SURVEY.md §2.9, §3).

Reference mapping (runner.go:49-170, 425-466):

| reference                                   | here                            |
|---------------------------------------------|---------------------------------|
| poll loop + idle backoff (runner.go:126-169)| back-to-back micro-batches;     |
|                                             | pollingDelay = idle interval    |
|                                             | after an empty poll             |
| cursor recovery (runner.go:388-410)         | checkpointLocation (+ override);|
|                                             | FileSystem-rename commits on a  |
|                                             | local checkpoint; file: modes   |
|                                             | set by java.nio, no chmod       |
|                                             | process (session.LOCAL_FS_CLASS)|
| chunked publish+checkpoint (425-466)        | foreachBatch: one write with    |
|                                             | observed count + max ts, then   |
|                                             | a driver-written cursor record  |
|                                             | (ack-before-commit, no job)     |
| dedupe window (runner.go:180,602)           | withWatermark + dropDuplicates  |
|                                             | on the raw rows, before encode  |
| encodeEventJSON (message.go:96-152)         | envelope: one Spark SQL text    |
|                                             | over the field expressions of   |
|                                             | the dedup survivors; subject    |
|                                             | and headers from the same       |
|                                             | expressions                     |
| single-writer lock (runner.go:607-724)      | one active query per checkpoint |
|                                             | dir (Spark-enforced) + lease    |
|                                             | marker for operator visibility  |
| JetStream publish (484-584)                 | the foreachBatch parquet sink   |
|                                             | above: the one sink, idempotent |
|                                             | per batch id                    |

At-least-once becomes effectively-once: the sink write is idempotent per
micro-batch (overwrite-by-batch-id), and the cursor record is committed only
AFTER the sink write succeeds — the reference's ack-before-checkpoint
invariant (runner.go:442-462). A crash between write and commit replays the
batch into the same batch directory and the same one cursor record.

Scale notes: no global ordering is imposed — the stream is processed
partition-parallel and the cursor is the batch max timestamp (chunk-max
aggregate, runner.go:453-461), which is order-insensitive. State for
dedup is bounded by the watermark (the reference's 2-minute dedupe window).
"""

from __future__ import annotations

import json
import os
import re
import socket
import threading
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from tigerbeetle_cdc_nats_spark.config import CdcConfig
from tigerbeetle_cdc_nats_spark.functions.events import (
    header_columns,
    msg_id_column,
    subject_column,
)
from tigerbeetle_cdc_nats_spark.functions.json_codec import encode_cdc_json
from tigerbeetle_cdc_nats_spark.operators.cdc_view import spark_field, spark_sql
from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA


@dataclass
class StreamPaths:
    source_dir: str
    sink_dir: str
    checkpoint_dir: str
    cursor_dir: str
    lock_dir: str


def transform_events(stream: DataFrame, cfg: CdcConfig) -> DataFrame:
    """events -> publishable messages (runner.go:586-605): dedup the raw
    rows on the deterministic msg id, then encode the survivors — envelope
    JSON payload, subject and routing headers — straight from the field
    expressions (the payload as one Spark SQL text). Streaming-safe.

    The dedup comes first, so its shuffle carries only the raw columns and
    dropped replays are never encoded. The encode reads no ``event`` struct
    column: built from the field expressions, every generated method of the
    encode stage stays under HotSpot's 8,000-byte JIT limit (see
    functions/json_codec.py)."""
    # ST3: bounded-state dedup within the dedupe window. Event time is the
    # ns timestamp (integer division — `/` on ~1.7e18 longs goes through a
    # double and loses ULPs); watermark = the reference's 2-minute window.
    # dropDuplicatesWithinWatermark is the state-BOUNDED form: plain
    # dropDuplicates(['msg_id']) never evicts keys that lack the event-time
    # column in the subset, so its state grows for the stream's lifetime.
    raw = stream.select(
        "event_id", "ts", "user_id", "value",
        msg_id_column(cfg.cluster_id, "ts").alias("msg_id"),
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
    ).withWatermark("event_time", f"{int(cfg.dedupe_window_s)} seconds")
    # batch replay of the same transform (tests, backfills): plain
    # dropDuplicates is equivalent — a batch job's "state" ends with the job.
    deduped = (raw.dropDuplicatesWithinWatermark(["msg_id"])
               if raw.isStreaming else raw.dropDuplicates(["msg_id"]))
    return deduped.select(
        "event_id",
        "ts",
        "msg_id",
        subject_column(
            cfg.subject_prefix, spark_field("ledger"), spark_field("type"),
            single_subject=(cfg.single_subject
                            if cfg.subject_mode == "single" else None),
        ).alias("subject"),
        encode_cdc_json(spark_sql).alias("payload"),
        *header_columns(*map(spark_field, (
            "type", "ledger", "transfer.code", "debit_account.code",
            "credit_account.code"))),
        "event_time",
    )


_PROGRESS_SCHEMA = pa.schema([("timestamp", pa.int64()),
                              ("version", pa.string()),
                              ("batch_id", pa.int64())])
_RECORD_NAME = re.compile(r"part-(\d+)\.parquet")


def _hadoop_fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) of ``path``, over py4j."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _record_name(batch_id: int) -> str:
    return f"part-{int(batch_id):020d}.parquet"


def _progress_records(fs, jdir) -> dict:
    """Visible progress records of a cursor dir: file name -> Path. Hidden
    names (a ``.tmp`` left by a crash mid-commit, checksums) are skipped,
    as Spark's parquet reader skips them."""
    if not fs.exists(jdir):
        return {}
    paths = (s.getPath() for s in fs.listStatus(jdir))
    return {p.getName(): p for p in paths
            if p.getName().startswith("part-")
            and p.getName().endswith(".parquet")}


def read_progress(spark: SparkSession, cursor_dir: str) -> int | None:
    """Stored cursor: max(timestamp) over the visible records, decoded in
    the driver, or None when no record exists (runner.go:388-410). A
    corrupt or unreadable record raises. Runs no Spark job."""
    fs, jdir = _hadoop_fs(spark, cursor_dir)
    ios = spark._jvm.org.apache.commons.io.IOUtils

    def stamp(path) -> int:
        stream = fs.open(path)
        try:
            data = ios.toByteArray(stream)
        finally:
            stream.close()
        table = pq.read_table(pa.BufferReader(data), columns=["timestamp"])
        return pc.max(table["timestamp"]).as_py()

    return max(map(stamp, _progress_records(fs, jdir).values()),
               default=None)


def _write_progress(spark: SparkSession, cursor_dir: str, ts: int,
                    batch_id: int, version: str = "dev") -> None:
    """Progress record {timestamp, version, batch_id} (runner.go:20-23,
    412-423): one parquet row, encoded by pyarrow in the driver and
    written through the Hadoop FileSystem to a hidden temp name, then
    renamed onto ``part-<batch_id>.parquet``. A replay of the batch
    replaces its one record. Runs no Spark job."""
    buf = pa.BufferOutputStream()
    pq.write_table(pa.table([[int(ts)], [version], [int(batch_id)]],
                            schema=_PROGRESS_SCHEMA), buf)
    fs, jdir = _hadoop_fs(spark, cursor_dir)
    Path, name = spark._jvm.org.apache.hadoop.fs.Path, _record_name(batch_id)
    tmp, final = Path(jdir, f".{name}.tmp"), Path(jdir, name)
    out = fs.create(tmp, True)
    try:
        out.write(buf.getvalue().to_pybytes())
    finally:
        out.close()
    fs.delete(final, False)  # not every FileSystem renames onto a file
    if not fs.rename(tmp, final):
        raise OSError(f"progress commit: cannot rename {tmp} to {final}")


class LockLease:
    """A held single-writer lease with an optional background refresh loop.

    Mirrors the reference's JetStream-KV lease (runner.go:607-724): acquire
    is atomic create-if-absent, refresh is CAS on the stored revision every
    ``refresh_s`` from a background thread, and a failed refresh (revision
    stolen, file gone, I/O error) surfaces through :meth:`check` and the
    ``on_failure`` callback so the owning query can be killed rather than
    silently running unlocked.
    """

    def __init__(self, path: str, owner: str, ttl_s: float):
        self.path = path
        self.owner = owner
        self.ttl_s = ttl_s
        self.revision = 0
        self.nonce = f"{os.getpid()}-{id(self)}-{time.monotonic_ns()}"
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.failure: str | None = None

    def record(self, now: float) -> dict:
        return {
            "owner": self.owner,
            "hostname": socket.gethostname(),
            "pid": os.getpid(),
            "version": "dev",
            "nonce": self.nonce,
            "revision": self.revision,
            "acquired_at": getattr(self, "acquired_at", now),
            "refreshed_at": now,
        }

    def refresh(self) -> None:
        """One CAS refresh: verify the stored record is still OUR revision,
        then bump it (runner.go:666-693's Update(revision) semantics)."""
        try:
            with open(self.path) as f:
                held = json.load(f)
        except (FileNotFoundError, ValueError) as e:
            raise RuntimeError(f"lease record lost: {e}") from e
        if held.get("nonce") != self.nonce or held.get("revision") != self.revision:
            raise RuntimeError(
                f"lease stolen by {held.get('owner')} on "
                f"{held.get('hostname')} (pid {held.get('pid')})"
            )
        self.revision += 1
        _atomic_write_json(self.path, self.record(time.time()))

    def start_refresh(self, refresh_s: float,
                      on_failure=None) -> None:
        """Background refresher (the reference's refresh goroutine,
        runner.go:666-724). A refresh failure records the reason and calls
        ``on_failure(reason)`` — wire that to ``query.stop()``."""

        def loop() -> None:
            while not self._stop.wait(refresh_s):
                try:
                    self.refresh()
                except Exception as e:  # surfaces via check()/on_failure
                    self.failure = str(e)
                    if on_failure is not None:
                        try:
                            on_failure(self.failure)
                        except Exception:
                            pass
                    return

        self._thread = threading.Thread(target=loop, daemon=True,
                                        name="lock-lease-refresh")
        self._thread.start()

    def check(self) -> None:
        """Raise if the background refresher has failed — the main loop's
        view of the reference's refresh-error channel (runner.go:147-151)."""
        if self.failure is not None:
            raise RuntimeError(f"lock lease lost: {self.failure}")

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5.0)


def _atomic_write_json(path: str, record: dict) -> None:
    tmp = f"{path}.tmp.{os.getpid()}.{time.monotonic_ns()}"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, path)


def acquire_lock(paths: StreamPaths, owner: str,
                 ttl_s: float = 30.0) -> LockLease:
    """Single-writer lease (runner.go:607-643). Spark already enforces one
    active query per checkpoint dir; this lease carries the holder metadata
    the reference exposes in errors (runner.go:25-31) and fails fast when a
    live lock exists.

    Acquisition is ATOMIC: create-if-absent via O_CREAT|O_EXCL (the
    JetStream ``Create`` analogue) — never read-check-write. Takeover of an
    EXPIRED lease re-verifies after the atomic replace that our nonce won,
    so two racing takeovers cannot both believe they hold it.
    """
    os.makedirs(paths.lock_dir, exist_ok=True)
    lock_path = os.path.join(paths.lock_dir, "lock.json")
    lease = LockLease(lock_path, owner, ttl_s)
    now = time.time()
    lease.acquired_at = now
    try:
        fd = os.open(lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as f:
            json.dump(lease.record(now), f)
        return lease
    except FileExistsError:
        pass
    try:
        with open(lock_path) as f:
            held = json.load(f)
    except (FileNotFoundError, ValueError):
        held = None  # released or torn mid-race; retry the atomic create
    if held is not None and now - held.get("refreshed_at",
                                           held.get("acquired_at", 0)) < ttl_s:
        # live lease — the reference's "already held" error with holder
        # metadata (runner.go:636-641).
        raise RuntimeError(
            f"lock held by {held['owner']} on {held['hostname']} "
            f"(pid {held['pid']})"
        )
    # expired (or vanished): atomic replace, then verify we won the race.
    _atomic_write_json(lock_path, lease.record(now))
    with open(lock_path) as f:
        winner = json.load(f)
    if winner.get("nonce") != lease.nonce:
        raise RuntimeError(
            f"lock held by {winner.get('owner')} on {winner.get('hostname')} "
            f"(pid {winner.get('pid')})"
        )
    return lease


def release_lock(lease: LockLease) -> None:
    lease.stop()
    try:
        os.remove(lease.path)
    except FileNotFoundError:
        pass


def _write_error(batch_id: int, err: Py4JJavaError) -> RuntimeError:
    """A short stand-in for the Py4J error of a failed sink write.

    The Py4J error's text chains the whole Java stack trace, and Spark
    4.1's StreamExecution tells a stop from a failure by matching that
    text against a regex that recurses once per character: a stop that
    lands during the write then kills the stream thread with a
    StackOverflowError. This error names the batch, keeps the Py4J head
    (``py4j.protocol.Py4JJavaError: An error occurred while calling``)
    and gives the class and first message line of each exception in the
    Java cause chain. An interruption class or a cancelled job group in
    that chain still reads as a stop; anything else fails the query."""
    chain = []
    t = err.java_exception
    while t is not None and len(chain) < 8:
        first = (t.getMessage() or "").split("\n", 1)[0][:300]
        chain.append(f"{t.getClass().getName()}: {first}")
        t = t.getCause()
    return RuntimeError(
        f"batch {batch_id}: py4j.protocol.Py4JJavaError: "
        f"{err.errmsg.strip()}\n: " + "\ncaused by: ".join(chain))


def make_batch_sink(spark: SparkSession, paths: StreamPaths):
    """foreachBatch body: idempotent publish (overwrite-by-batch-id) THEN
    cursor commit — the at-least-once ordering of runner.go:442-462.

    One Spark job per non-empty batch: the write carries the batch's row
    count and max ``ts`` as observed metrics (side outputs of the same
    job); the progress record is written by the driver. Each record holds
    the running max (the batch max ``ts`` and the cursor read when the
    sink was made), so trimming old records never lowers the cursor.
    A failed write raises ``_write_error``'s short error instead of the
    Py4J one."""
    retain = int(spark.conf.get("spark.sql.streaming.minBatchesToRetain"))
    cursor = read_progress(spark, paths.cursor_dir)
    fs, jdir = _hadoop_fs(spark, paths.cursor_dir)
    kept = {int(m[1]) for m in map(_RECORD_NAME.fullmatch,
                                   _progress_records(fs, jdir)) if m}

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal cursor
        out = os.path.join(paths.sink_dir, f"batch_id={batch_id}")
        obs = Observation()
        try:
            (batch_df.drop("event_time")
             .observe(obs, F.count(F.lit(1)).alias("rows"),
                      F.max("ts").alias("max_ts"))
             .write.mode("overwrite").parquet(out))
        except Py4JJavaError as err:
            raise _write_error(batch_id, err) from None
        # read only after the write returned: a failed publish raises
        # above and commits nothing
        metrics = obs.get
        if metrics["rows"] == 0:
            # e.g. the no-data batch that evicts watermark state: nothing
            # published, so no batch directory and no cursor record
            out_fs, jout = _hadoop_fs(spark, out)
            out_fs.delete(jout, True)
            return
        # chunk-max checkpoint AFTER successful publish (runner.go:453-461).
        ts = (metrics["max_ts"] if cursor is None
              else max(metrics["max_ts"], cursor))
        _write_progress(spark, paths.cursor_dir, ts, batch_id)
        cursor = ts
        # bounded like the checkpoint's offset and commit logs
        kept.add(batch_id)
        for old in [b for b in kept if b <= batch_id - retain]:
            kept.discard(old)
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(
                jdir, _record_name(old)), False)

    return sink


#: Spark's checkpoint file manager over the Hadoop FileSystem API: it
#: commits by ``FileSystem.rename`` (``File.renameTo`` on the local
#: filesystem, atomic on POSIX). Spark's default goes through FileContext,
#: whose local rename starts a ``readlink`` process per call when Hadoop's
#: native library is absent.
FS_CHECKPOINT_MANAGER = ("org.apache.spark.sql.execution.streaming."
                         "checkpointing.FileSystemBasedCheckpointFileManager")
_CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"


def build_query(spark: SparkSession, cfg: CdcConfig, paths: StreamPaths,
                *, trigger_available_now: bool = False,
                trigger_seconds: float | None = None):
    """Assemble the streaming query: source -> transform -> foreachBatch.

    The source is Spark's parquet file source over ``paths.source_dir``;
    its offset and commit logs in the checkpoint carry resume, and
    ``maxFilesPerTrigger`` bounds a micro-batch.

    ``cfg.timestamp_last_override`` mirrors --timestamp-last: when set, rows
    at or below the override are filtered at the source (runner.go:392-398);
    otherwise the checkpoint resumes exactly where it stopped.

    Two streaming confs are set on ``spark``'s session; ``start()`` reads
    them, so they hold for the query from then on:

    - ``spark.sql.streaming.checkpointFileManagerClass`` is
      ``FS_CHECKPOINT_MANAGER`` when the checkpoint dir is on the local
      filesystem. The offset, commit and source logs and the state store's
      delta and checksum files then commit by ``FileSystem.rename`` instead
      of a FileContext rename that starts a ``readlink`` process each time.
      Any other scheme keeps Spark's FileContext default, which gives
      atomic overwrite on HDFS-like stores.
    - ``spark.sql.streaming.pollingDelay`` is ``trigger_seconds`` when it is
      set and the trigger is not AvailableNow. The query runs on the default
      trigger: a micro-batch starts as soon as the previous one commits
      while data is waiting, and the query sleeps ``trigger_seconds`` only
      after a poll that found nothing (the reference's idle backoff,
      runner.go:156-164).
    """
    fs, _ = _hadoop_fs(spark, paths.checkpoint_dir)
    if fs.getScheme() == "file":
        spark.conf.set(_CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    elif spark.conf.get(_CHECKPOINT_MANAGER_CONF, None) == FS_CHECKPOINT_MANAGER:
        spark.conf.unset(_CHECKPOINT_MANAGER_CONF)
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "16")  # batching ~ event-count-max
        .parquet(paths.source_dir)
    )
    if cfg.timestamp_last_override is not None:
        stream = stream.where(
            F.col("ts") > F.lit(cfg.timestamp_last_override))

    transformed = transform_events(stream, cfg)
    writer = (
        transformed.writeStream
        .foreachBatch(make_batch_sink(spark, paths))
        .option("checkpointLocation", paths.checkpoint_dir)
        .outputMode("update")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        spark.conf.set("spark.sql.streaming.pollingDelay",
                       f"{round(trigger_seconds * 1000)}ms")
    return writer


def run_until_caught_up(spark: SparkSession, cfg: CdcConfig,
                        paths: StreamPaths) -> None:
    """One catch-up cycle (Trigger.AvailableNow): process everything
    currently in the source, then stop — the batch-mode analogue of the
    reference's poll-until-empty loop. Waits with no time cap, however
    large the backlog; a stopped query returns, a failed one raises."""
    q = build_query(spark, cfg, paths, trigger_available_now=True).start()
    q.awaitTermination()
    if q.exception() is not None:
        raise q.exception()
