"""Source-side operators: incremental cursor scan and range filter.

Reference semantics:
- Incremental scan: poll ``GetChangeEvents(timestamp_min=last+1,
  timestamp_max, limit)`` — /root/reference/runner.go:142-164; cursor
  arithmetic runner.go:726-736; default limit 4096 (config.go:40).
- Range filter: ``timestamp_max = 0`` means unbounded (runner.go:147-151).

Scale notes: the ts predicate is a plain comparison on a long column, so it
pushes down to the parquet scan (row-group min/max pruning — on a
ts-partitioned 100 TB event store this prunes to the tail files). The
``orderBy().limit()`` pair compiles to TakeOrderedAndProject: each task keeps
a k-row heap and only k rows per partition reach the driver-side merge — no
global sort, no full shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from tigerbeetle_cdc_nats_spark.config import DEFAULT_EVENT_COUNT_MAX


def _ns_bound_literal(ts_type: str, ns: int, *, ceil: bool) -> Column:
    """A foldable literal of the column's native type for an ns-cursor bound.

    The cursor is u64 nanoseconds (runner.go:726-736) but the driver's parquet
    ships ``ts`` as µs-precision TIMESTAMP(_NTZ). ``ts_ns >= lo`` on µs data is
    exactly ``ts_us >= ceil(lo/1000)`` (and ``<= hi`` is ``<= floor(hi/1000)``),
    so the comparison can run on the RAW column — the whole expression constant-
    folds to one literal, which keeps the predicate pushable to the parquet
    scan for row-group min/max pruning.
    """
    us = -(-ns // 1000) if ceil else ns // 1000
    expr = f"timestamp_micros({us})"
    if ts_type == "timestamp_ntz":
        # Session tz is pinned to UTC (session.configure), so this cast is a
        # pure re-tag, not a wall-clock shift.
        expr = f"CAST({expr} AS TIMESTAMP_NTZ)"
    return F.expr(expr)


def timestamp_range_filter(events: DataFrame, ts_min: int, ts_max: int = 0,
                           ts_col: str = "ts") -> DataFrame:
    """Rows with ``ts >= ts_min`` and (when ts_max != 0) ``ts <= ts_max``,
    where the bounds are ns cursors (u64 nanos, runner.go:147-151).

    ts_max=0 means unbounded, mirroring ChangeEventsFilter. Works on both the
    engine's BIGINT-ns representation and the raw parquet TIMESTAMP(_NTZ)
    column — in the latter case the ns bounds are converted to native
    timestamp literals so the predicate still reaches the scan.
    """
    ts_type = dict(events.dtypes).get(ts_col, "bigint")
    if ts_type in ("timestamp", "timestamp_ntz"):
        lo: Column = _ns_bound_literal(ts_type, ts_min, ceil=True)
        out = events.where(F.col(ts_col) >= lo)
        if ts_max:
            out = out.where(
                F.col(ts_col) <= _ns_bound_literal(ts_type, ts_max, ceil=False))
        return out
    out = events.where(F.col(ts_col) >= F.lit(ts_min))
    if ts_max:
        out = out.where(F.col(ts_col) <= F.lit(ts_max))
    return out


def cdc_incremental_scan(events: DataFrame, cursor: int = 0, ts_max: int = 0,
                         limit: int = DEFAULT_EVENT_COUNT_MAX,
                         ts_col: str = "ts") -> DataFrame:
    """One poll of the CDC source: everything after the cursor, in timestamp
    order, capped at ``limit`` (runner.go:142-164).

    ``cursor`` is the last processed timestamp; the scan starts at cursor+1
    (runner.go:726-736), with the same end-of-domain guard: a cursor at
    u64 max cannot advance and raises rather than wrapping. Timestamps
    are unique by contract (integration_test.go:227-229), so the result
    is deterministic.
    """
    if cursor >= 2**64 - 1:
        raise ValueError(f"cannot continue from timestamp {cursor}")
    return (
        timestamp_range_filter(events, cursor + 1, ts_max, ts_col)
        .orderBy(ts_col)
        .limit(limit)
    )
