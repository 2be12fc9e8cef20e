"""Async-publish pipelining semantics of the NATS sink adapter
(runner.go:510-584): bounded in-flight window, ORDERED ack awaits, and
duplicate-ack counting (runner.go:542-555; the integration test asserts
header + duplicate behavior at integration_test.go:195-201).

``drain_partition`` is pure Python, so the fake broker lives in-process —
no executor round-trip needed to observe window/order invariants.
"""

from __future__ import annotations

import pytest

from tigerbeetle_cdc_nats_spark.sources.nats_sink import (
    NatsSinkConfig,
    drain_partition,
)


class FakeBroker:
    """Future-returning fake JetStream: tracks the in-flight window and the
    order acks are awaited; repeated msg ids ack as duplicates."""

    def __init__(self):
        self.seen_ids: set[str] = set()
        self.publish_order: list[str] = []
        self.settle_order: list[str] = []
        self.outstanding = 0
        self.max_outstanding = 0

    def publish(self, subject, msg_id, headers, payload):
        assert headers["Nats-Msg-Id"] == msg_id
        self.publish_order.append(msg_id)
        self.outstanding += 1
        self.max_outstanding = max(self.max_outstanding, self.outstanding)
        dup = msg_id in self.seen_ids
        self.seen_ids.add(msg_id)
        return FakeFuture(self, msg_id, dup)


class FakeFuture:
    def __init__(self, broker: FakeBroker, msg_id: str, dup: bool):
        self.broker = broker
        self.msg_id = msg_id
        self.dup = dup

    def result(self, timeout=None):
        self.broker.outstanding -= 1
        self.broker.settle_order.append(self.msg_id)
        return {"duplicate": self.dup}


def _rows(ids):
    return [
        {
            "subject": f"s.{i}", "msg_id": i, "payload": "x" * 8,
            "event_type": "t", "ledger": "1", "transfer_code": "0",
            "debit_account_code": "0", "credit_account_code": "0",
        }
        for i in ids
    ]


def test_bounded_in_flight_window():
    """At most max_pending publishes are outstanding at any moment."""
    broker = FakeBroker()
    n, d = drain_partition(iter(_rows([f"m{i}" for i in range(100)])),
                           broker.publish, NatsSinkConfig(max_pending=8))
    assert n == 100 and d == 0
    assert broker.max_outstanding <= 8
    assert broker.outstanding == 0  # every ack awaited by the end


def test_acks_awaited_in_publish_order():
    """Acks are processed in publish order (the reference iterates its
    pending slice head-first, runner.go:531-556) — never out of order."""
    broker = FakeBroker()
    ids = [f"m{i}" for i in range(50)]
    drain_partition(iter(_rows(ids)), broker.publish,
                    NatsSinkConfig(max_pending=4))
    assert broker.settle_order == ids == broker.publish_order


def test_duplicate_acks_counted():
    """Replayed msg ids come back as duplicate acks and are counted, not
    republished as new messages (runner.go:542-555)."""
    broker = FakeBroker()
    ids = ["a", "b", "c", "a", "b", "d", "a"]
    n, d = drain_partition(iter(_rows(ids)), broker.publish,
                           NatsSinkConfig(max_pending=2))
    assert n == 7
    assert d == 3  # a(x2 extra) + b(x1 extra)


def test_sync_publish_still_works():
    """A sync PublishFn (returns the ack directly, no future) is valid —
    the window then degrades to sequential publish+ack."""
    acked = []

    def publish(subject, msg_id, headers, payload):
        acked.append(msg_id)
        return None

    n, d = drain_partition(iter(_rows(["x", "y"])), publish,
                           NatsSinkConfig(max_pending=8))
    assert (n, d) == (2, 0) and acked == ["x", "y"]


def test_ack_timeout_propagates():
    """A future that times out must raise (the reference fails the batch on
    ack timeout, runner.go:559-565) — not be silently dropped."""

    class NeverAcks:
        def result(self, timeout=None):
            raise TimeoutError("no ack")

    def publish(subject, msg_id, headers, payload):
        return NeverAcks()

    with pytest.raises(TimeoutError):
        drain_partition(iter(_rows(["x"])), publish,
                        NatsSinkConfig(max_pending=8, ack_timeout_s=0.01))

