"""Custom stateful streaming operators via ``applyInPandasWithState``
(north star: "applyInPandasWithState for custom stateful operators").

Two operators the reference's domain implies but Spark has no built-in for:

- ``running_balances``: per-account running debit/credit totals carried
  across micro-batches — the streaming re-derivation of the balance fields
  TigerBeetle embeds in every account snapshot
  (/root/reference/message.go:56-68).
- ``rate_limited_counts``: per-key fixed-window event admission with a
  carried window counter — the streaming generalization of the reference's
  fixed 1 s rate limiter (runner.go:750-793).

State is one small tuple per key (GroupState), so state size is bounded by
key cardinality, not event volume; timeouts evict idle keys.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

BALANCE_STATE_SCHEMA = "debits_cents LONG, credits_cents LONG, n_events LONG"
BALANCE_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("debits_posted_cents", T.LongType()),
    T.StructField("credits_posted_cents", T.LongType()),
    T.StructField("n_events", T.LongType()),
])

RATE_STATE_SCHEMA = "window_start LONG, admitted LONG"
RATE_OUTPUT_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("window_start", T.LongType()),
    T.StructField("n_admitted", T.LongType()),
    T.StructField("n_throttled", T.LongType()),
])

NS_PER_SECOND = 1_000_000_000


def _balance_fn(key, pdfs: Iterator, state: GroupState) -> Iterator:
    import pandas as pd

    debits, credits, n = state.get if state.exists else (0, 0, 0)
    for pdf in pdfs:
        cents = (pdf["value"] * 100).apply(lambda v: int(v // 1))
        debits += int(cents[pdf["event_type"] == "purchase"].sum())
        credits += int(cents[pdf["event_type"] == "view"].sum())
        n += len(pdf)
    state.update((debits, credits, n))
    yield pd.DataFrame({
        "user_id": [key[0]],
        "debits_posted_cents": [debits],
        "credits_posted_cents": [credits],
        "n_events": [n],
    })


def running_balances(events: DataFrame) -> DataFrame:
    """Streaming per-account balance accumulator. Input: the raw events
    stream (event_id, ts, user_id, event_type, value, props)."""
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _balance_fn,
            outputStructType=BALANCE_OUTPUT_SCHEMA,
            stateStructType=BALANCE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _rate_fn(key, pdfs: Iterator, state: GroupState, limit: int,
             window_ns: int) -> Iterator:
    import pandas as pd

    window_start, admitted = state.get if state.exists else (-1, 0)
    out: dict[str, list] = {k: [] for k in
                            ("user_id", "window_start", "n_admitted",
                             "n_throttled")}
    throttled = 0
    for pdf in pdfs:
        for ts in sorted(int(t) for t in pdf["ts"]):
            w = ts - ts % window_ns
            if w != window_start:
                if window_start >= 0:
                    out["user_id"].append(key[0])
                    out["window_start"].append(window_start)
                    out["n_admitted"].append(admitted)
                    out["n_throttled"].append(throttled)
                window_start, admitted, throttled = w, 0, 0
            if admitted < limit:
                admitted += 1
            else:
                throttled += 1
    state.update((window_start, admitted))
    out["user_id"].append(key[0])
    out["window_start"].append(window_start)
    out["n_admitted"].append(admitted)
    out["n_throttled"].append(throttled)
    yield pd.DataFrame(out)


def rate_limited_counts(events: DataFrame, limit: int = 4096,
                        window_ns: int = NS_PER_SECOND) -> DataFrame:
    """Streaming per-key fixed-window admission counter (the reference's
    limiter semantics, runner.go:750-793, generalized per key)."""

    def fn(key, pdfs, state):
        return _rate_fn(key, pdfs, state, limit, window_ns)

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=RATE_OUTPUT_SCHEMA,
            stateStructType=RATE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
