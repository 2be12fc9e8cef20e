"""NATS JetStream sink adapter (transport layer).

The reference publishes each event to JetStream with a deterministic
``Nats-Msg-Id`` and bounded async pipelining: up to ``--publish-async-max-
pending`` publishes are in flight at once, acks are awaited IN ORDER, and
duplicate acks (JetStream's msg-id dedup) are counted (runner.go:484-584,
duplicate counting runner.go:542-555).

The pipeline's own sink writes parquet (streaming/pipeline.py); THIS
module is the broker path: the ``tb_cdc_publish`` streaming writer, a
Python DataSource sink whose tasks drain their partitions through
:func:`drain_partition` (the pure, Spark-free pipelining core: subject,
msg id, headers, bounded in-flight window, ordered ack awaits, duplicate
counting). The connection is built on the executor by a
``publisherFactory`` — ``nats_live.jetstream_publisher_factory`` for a
live JetStream, :func:`fake_publisher_factory` without a broker.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

#: (subject, msg_id, headers, payload) -> ack | future-of-ack.
#: A *sync* publisher returns the ack directly (or None). An *async*
#: publisher returns a future — anything with ``.result(timeout)`` — the
#: JetStream ``PublishAsync`` shape. The ack itself may be None, an object
#: with a ``duplicate`` attribute, or a mapping with a ``"duplicate"`` key
#: (JetStream's PubAck.Duplicate, counted at runner.go:542-555).
PublishFn = Callable[[str, str, dict[str, str], bytes], Any]

HEADER_COLS = ("event_type", "ledger", "transfer_code",
               "debit_account_code", "credit_account_code")


@dataclass
class NatsSinkConfig:
    max_pending: int = 4096        # --publish-async-max-pending, config.go:47
    ack_timeout_s: float = 30.0    # --publish-ack-timeout, config.go:46


def _settle(fut: Any, timeout_s: float) -> bool:
    """Await one ack (future or immediate) -> True when it was a duplicate."""
    ack = fut.result(timeout_s) if hasattr(fut, "result") else fut
    if ack is None:
        return False
    if isinstance(ack, dict):
        return bool(ack.get("duplicate"))
    return bool(getattr(ack, "duplicate", False))


def drain_partition(rows, publish: PublishFn,
                    cfg: NatsSinkConfig) -> tuple[int, int]:
    """Publish every row with a bounded in-flight window and ORDERED ack
    processing — the reference's async pipelining loop (runner.go:510-584):
    queue up to ``max_pending`` futures; once full, await the OLDEST before
    publishing the next; drain the remainder in publish order at the end.

    Returns ``(published, duplicates)`` for the partition. Pure Python over
    an iterator — unit-testable without Spark; each ``tb_cdc_publish``
    task calls this on its partition.
    """
    pending: deque[Any] = deque()
    published = 0
    duplicates = 0
    for row in rows:
        headers = {h: row[h] for h in HEADER_COLS}
        headers["Nats-Msg-Id"] = row["msg_id"]
        fut = publish(row["subject"], row["msg_id"], headers,
                      row["payload"].encode())
        published += 1
        pending.append(fut)
        if len(pending) >= cfg.max_pending:
            duplicates += _settle(pending.popleft(), cfg.ack_timeout_s)
    while pending:
        duplicates += _settle(pending.popleft(), cfg.ack_timeout_s)
    return published, duplicates


# ---------------------------------------------------------------------------
# First-class streaming writer (Spark 4 Python DataSource sink)
# ---------------------------------------------------------------------------

def _resolve_publisher_factory(spec: str) -> Callable[[], PublishFn]:
    """Resolve "package.module:callable" to the factory that builds a
    PublishFn ON THE EXECUTOR (a JetStream connection is not picklable, so
    deployments ship a factory path instead of a connection object)."""
    import importlib

    mod_name, _, attr = spec.partition(":")
    if not mod_name or not attr:
        raise ValueError(
            f"publisherFactory must be 'module.path:callable', got {spec!r}")
    factory = getattr(importlib.import_module(mod_name), attr)
    if not callable(factory):
        raise TypeError(f"publisherFactory {spec!r} is not callable")
    return factory


def fake_publisher_factory() -> PublishFn:
    """Deterministic sandbox publisher (no broker in this environment):
    acks every message, flagging repeats of a msg_id WITHIN the partition
    as duplicates — the JetStream msg-id dedup surface, minus the broker's
    cross-partition window."""
    seen: set[str] = set()

    def publish(subject: str, msg_id: str, headers: dict, payload: bytes):
        dup = msg_id in seen
        seen.add(msg_id)
        return {"duplicate": dup}

    return publish


class NatsPublishWriter:
    """DataSourceStreamWriter: the publish sink as a NATIVE streaming
    sink. Each task drains its partition through the bounded in-flight
    window (drain_partition — the runner.go:510-584 pipelining), returns
    its (published, duplicates) counts as the commit message, and the
    driver-side commit() appends one metrics record per micro-batch — the
    reference's per-chunk publish log (runner.go:580-583) as a queryable
    artifact."""

    def __init__(self, options: dict):
        spec = options.get("publisherfactory")
        if not spec:
            raise ValueError(
                "tb_cdc_publish: 'publisherFactory' option is required "
                "('module.path:callable' building the publish function "
                "on the executor)")
        self._spec = spec
        self._cfg = NatsSinkConfig(
            max_pending=int(options.get("maxpending", 4096)),
            ack_timeout_s=float(options.get("acktimeout", 30.0)))
        self._metrics_dir = options.get("metricsdir")

    def write(self, iterator):
        from pyspark.sql.datasource import WriterCommitMessage

        @dataclass
        class PubCommit(WriterCommitMessage):
            published: int = 0
            duplicates: int = 0

        publish = _resolve_publisher_factory(self._spec)()
        n, d = drain_partition(iterator, publish, self._cfg)
        return PubCommit(published=n, duplicates=d)

    def commit(self, messages, batchId: int) -> None:
        if not self._metrics_dir:
            return
        import json
        import os

        os.makedirs(self._metrics_dir, exist_ok=True)
        out = os.path.join(self._metrics_dir, f"batch-{batchId}.json")
        rec = {
            "batch_id": int(batchId),
            "published": sum(getattr(m, "published", 0)
                             for m in messages if m is not None),
            "duplicates": sum(getattr(m, "duplicates", 0)
                              for m in messages if m is not None),
        }
        tmp = out + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(rec, fh)
        os.replace(tmp, out)  # atomic: a replayed batch rewrites in place

    def abort(self, messages, batchId: int) -> None:
        pass  # at-least-once: no acks to roll back; replay re-publishes


def make_publish_datasource():
    """The registrable ``tb_cdc_publish`` DataSource class — options:
    ``publisherFactory`` (module:callable building the PublishFn on the
    executor), ``maxPending`` / ``ackTimeout`` (runner.go:46-47 flags),
    ``metricsDir`` (per-batch publish/duplicate counts). Built lazily so
    the Spark-free unit tests of drain_partition never import pyspark."""
    from pyspark.sql.datasource import DataSource, DataSourceStreamWriter

    class _Writer(NatsPublishWriter, DataSourceStreamWriter):
        pass

    class _Source(DataSource):
        @classmethod
        def name(cls) -> str:
            return "tb_cdc_publish"

        def streamWriter(self, schema, overwrite):
            return _Writer(self.options)

    return _Source
