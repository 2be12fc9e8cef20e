"""NATS JetStream publish core (transport layer).

The reference publishes each event to JetStream with a deterministic
``Nats-Msg-Id`` and bounded async pipelining: up to ``--publish-async-max-
pending`` publishes are in flight at once, acks are awaited IN ORDER, and
duplicate acks (JetStream's msg-id dedup) are counted (runner.go:484-584,
duplicate counting runner.go:542-555).

The pipeline's one sink writes parquet (streaming/pipeline.py). This
module keeps the broker step's pure-Python core,
:func:`drain_partition`: subject, msg id, headers, bounded in-flight
window, ordered ack awaits and duplicate counting over any
:data:`PublishFn`. :func:`fake_publisher_factory` is the in-process
publisher it runs against without a broker.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

from tigerbeetle_cdc_nats_spark.functions.events import HEADER_COLS

#: (subject, msg_id, headers, payload) -> ack | future-of-ack.
#: A *sync* publisher returns the ack directly (or None). An *async*
#: publisher returns a future — anything with ``.result(timeout)`` — the
#: JetStream ``PublishAsync`` shape. The ack itself may be None, an object
#: with a ``duplicate`` attribute, or a mapping with a ``"duplicate"`` key
#: (JetStream's PubAck.Duplicate, counted at runner.go:542-555).
PublishFn = Callable[[str, str, dict[str, str], bytes], Any]


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
    an iterator — unit-testable without Spark.
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
