"""First-class incremental CDC streaming source (Spark 4 Python DataSource).

The reference's source loop (runner.go:126-169) polls the change-event API
with a timestamp cursor: ``GetChangeEvents(TimestampMin=last+1,
Limit=eventCountMax)``, sleeps when idle, and recovers the cursor from the
progress record on restart (runner.go:388-410). Earlier rounds reproduced
those semantics as a batch-analogue wrapper over the parquet events table;
this module makes the poll loop a *real* Structured Streaming source, so
progress recovery flows through genuine source offsets in the checkpoint
log instead of a side-channel cursor table.

Offset model (identical to the reference's cursor arithmetic):
``{"ts_ns": X}`` means "every event with ts <= X has been emitted". Batch
planning advances the cursor by at most ``event_count_max`` events — the
reference's Limit — always cutting at a timestamp BOUNDARY (ties at the
cut timestamp are included in full), because a ts-cursor cannot represent
a half-emitted timestamp. The u64-max guard (runner.go:726-736): a cursor
at int64 max cannot advance and raises instead of wrapping.

Scale shape: ``partitions()`` prunes at the parquet ROW-GROUP level using
footer min/max stats — a batch over a ts-sorted event store touches only
the row groups overlapping (start, end], and each row group is one Spark
task reading Arrow batches. ``latestOffset()`` reads only the ``ts``
column of row groups past the cursor (stats-pruned) to find the rate-limit
cut. Against a real TigerBeetle cluster the poll would call the client
API; the parquet poller is the sandbox stand-in with the same offset
algebra.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

#: int64 max — the Python-side analogue of the reference's u64-max cursor
#: guard (runner.go:726-736): a cursor here can never advance again.
_TS_MAX = (1 << 63) - 1

# Reference default batch limit: --event-count-max = 4096 (config.go:40,
# flag config.go:210). MUST stay equal to config.DEFAULT_EVENT_COUNT_MAX —
# pinned by tests/test_cdc_source.py so a standalone `tb_cdc_events` read
# with no eventCountMax option cuts batches exactly like the reference.
from tigerbeetle_cdc_nats_spark.config import DEFAULT_EVENT_COUNT_MAX

_DEFAULT_EVENT_COUNT_MAX = DEFAULT_EVENT_COUNT_MAX


def _events_files(path: str) -> list[str]:
    """The parquet file set behind ``path`` (a file, a ``.parquet``
    directory-table, or a directory of files)."""
    if os.path.isfile(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(os.path.join(root, f))
    return sorted(out)


def _ts_to_ns(arr):
    """Normalize a parquet ts column (timestamp us/ns or raw int64 ns) to
    int64 nanoseconds at the file's native precision — the same value
    session.load_events exposes to batch queries."""
    import pyarrow as pa
    import pyarrow.compute as pc

    t = arr.type
    if pa.types.is_timestamp(t):
        ns = pc.cast(arr, pa.int64())
        if t.unit == "us":
            ns = pc.multiply(ns, 1000)
        elif t.unit == "ms":
            ns = pc.multiply(ns, 1_000_000)
        elif t.unit == "s":
            ns = pc.multiply(ns, 1_000_000_000)
        return ns
    return pc.cast(arr, pa.int64())


def _stat_ns(stat_value) -> int:
    """Row-group min/max statistic -> int64 ns (datetime for timestamp
    physical types, int for int64). Parquet columns written
    adjusted-to-UTC (Spark's default ``isAdjustedToUTC=true``) surface as
    tz-AWARE datetimes; naive-minus-aware subtraction raises, so the epoch
    must carry the statistic's own tzinfo."""
    import datetime

    if isinstance(stat_value, datetime.datetime):
        epoch = datetime.datetime(1970, 1, 1, tzinfo=stat_value.tzinfo)
        return int((stat_value - epoch) / datetime.timedelta(
            microseconds=1)) * 1000
    return int(stat_value)


@dataclass
class _RowGroupPartition(InputPartition):
    file: str
    row_group: int
    lo_ns: int  # exclusive
    hi_ns: int  # inclusive


class CdcEventsStreamReader(DataSourceStreamReader):
    """Timestamp-cursor stream reader over the events store."""

    def __init__(self, options: dict):
        path = options.get("path")
        if not path:
            raise ValueError("tb_cdc_events: 'path' option is required "
                             "(events parquet file or directory)")
        self._path = path
        self._start_ts = int(options.get("startts", 0) or 0)
        self._limit = int(options.get("eventcountmax",
                                      _DEFAULT_EVENT_COUNT_MAX))
        if self._limit < 1:
            raise ValueError("eventCountMax must be >= 1")

    # -- offset management -------------------------------------------------
    def initialOffset(self) -> dict:
        return {"ts_ns": self._start_ts}

    def _row_groups(self):
        import pyarrow.parquet as pq

        for f in _events_files(self._path):
            pf = pq.ParquetFile(f)
            ts_idx = pf.schema_arrow.get_field_index("ts")
            for rg in range(pf.metadata.num_row_groups):
                col = pf.metadata.row_group(rg).column(ts_idx)
                st = col.statistics
                if st is not None and st.has_min_max:
                    lo, hi = _stat_ns(st.min), _stat_ns(st.max)
                else:  # no stats: assume the row group may contain anything
                    lo, hi = 0, _TS_MAX
                yield f, pf, rg, lo, hi

    def latestOffset(self) -> dict:
        return self._advance(self._floor)

    @property
    def _floor(self) -> int:
        """Highest cursor this reader instance has observed — seeded by
        every ``partitions``/``commit`` call, so after a restart the first
        replanned or committed batch re-anchors the cursor and
        ``latestOffset`` can never rewind behind the checkpoint log."""
        return getattr(self, "_floor_ns", self._start_ts)

    def _observe(self, ts: int) -> None:
        if ts > self._floor:
            self._floor_ns = ts

    def _check_sorted(self, pending) -> None:
        """Enforce the cost model, don't assume it: the early-exit below
        only bounds a poll to its own batch's row groups when the backlog
        is ts-sorted ACROSS row groups. Overlapping [min, max] stat ranges
        mean an unsorted store — every poll then reads the ``ts`` column
        of the whole backlog past the cursor. Warn once per reader so the
        O(backlog)-per-poll behavior is visible, not silent."""
        if getattr(self, "_warned_unsorted", False):
            return
        max_hi = None
        for lo, hi, _pf, _rg in pending:
            if max_hi is not None and lo < max_hi:
                self._warned_unsorted = True
                import warnings

                warnings.warn(
                    "tb_cdc_events: row-group ts ranges overlap (unsorted "
                    "event store); each poll will scan the ts column of "
                    "the ENTIRE backlog past the cursor instead of one "
                    "batch's row groups. Sort/compact the store by ts to "
                    "restore O(batch) polls.",
                    RuntimeWarning, stacklevel=3)
                return
            max_hi = hi if max_hi is None else max(max_hi, hi)

    def _advance(self, cur: int) -> dict:
        """Next cursor: at most ``event_count_max`` events past ``cur``,
        cut at a timestamp boundary (ties included)."""
        if cur >= _TS_MAX:
            raise RuntimeError(
                "CDC cursor reached int64 max and cannot advance "
                "(reference runner.go:726-736 u64-max guard)")
        import numpy as np

        # Row groups in ascending min-ts order with an early exit: once
        # >= limit new events are in hand AND the next group's min lies
        # past the provisional cut, later groups cannot lower it — on a
        # ts-sorted event store (the CDC layout) one poll reads only the
        # row groups of its own batch, not the whole backlog.
        pending = sorted(
            ((lo, hi, pf, rg) for _f, pf, rg, lo, hi in self._row_groups()
             if hi > cur), key=lambda t: t[0])
        self._check_sorted(pending)
        candidates: list = []
        n_new = 0
        for i, (lo, _hi, pf, rg) in enumerate(pending):
            if n_new >= self._limit:
                cut = int(np.partition(
                    np.concatenate(candidates),
                    self._limit - 1)[self._limit - 1])
                if lo > cut:
                    break
            ts = _ts_to_ns(pf.read_row_group(rg, columns=["ts"])
                           .column("ts").combine_chunks())
            vals = ts.to_numpy(zero_copy_only=False)
            vals = vals[vals > cur]
            if len(vals):
                candidates.append(vals)
                n_new += len(vals)
        if not candidates:
            return {"ts_ns": cur}
        new = np.concatenate(candidates)
        if len(new) <= self._limit:
            end = int(new.max())
        else:
            # rate limit: cursor of the limit-th smallest new event;
            # ties at that timestamp ride along (cursor granularity).
            end = int(np.partition(new, self._limit - 1)[self._limit - 1])
        self._observe(end)
        return {"ts_ns": end}

    # -- batch planning / reading -----------------------------------------
    def partitions(self, start: dict, end: dict):
        lo, hi = int(start["ts_ns"]), int(end["ts_ns"])
        self._observe(max(lo, hi))
        if hi <= lo:
            return []
        parts = [
            _RowGroupPartition(file=f, row_group=rg, lo_ns=lo, hi_ns=hi)
            for f, _pf, rg, rg_lo, rg_hi in self._row_groups()
            if rg_hi > lo and rg_lo <= hi
        ]
        return parts  # may be empty: nothing overlaps the range

    def read(self, partition: _RowGroupPartition):
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(partition.file)
        tbl = pf.read_row_group(partition.row_group)
        ns = _ts_to_ns(tbl.column("ts").combine_chunks())
        mask = pc.and_(pc.greater(ns, partition.lo_ns),
                       pc.less_equal(ns, partition.hi_ns))
        cols = []
        for name, typ in (("event_id", pa.int64()), ("ts", pa.int64()),
                          ("user_id", pa.int64()),
                          ("event_type", pa.string()),
                          ("value", pa.float64()), ("props", pa.string())):
            col = (ns if name == "ts"
                   else tbl.column(name).combine_chunks())
            cols.append(pc.cast(col.filter(mask), typ))
        batch_tbl = pa.table(cols, names=["event_id", "ts", "user_id",
                                          "event_type", "value", "props"])
        yield from batch_tbl.to_batches()

    def commit(self, end: dict) -> None:
        # the checkpoint offset log IS the progress record; observing the
        # committed end re-anchors the cursor floor after a restart
        self._observe(int(end["ts_ns"]))

    def stop(self) -> None:
        pass


class CdcEventsBatchReader(DataSourceReader):
    """Batch form of the cursor scan: one shot over (startTs, endTs] with
    the same row-group stats pruning — the backfill/replay path
    (reference --timestamp-last override, runner.go:392-398)."""

    def __init__(self, options: dict):
        self._stream = CdcEventsStreamReader(options)
        self._lo = int(options.get("startts", 0) or 0)
        self._hi = int(options.get("endts", _TS_MAX) or _TS_MAX)
        # optional per-partition ts-ascending top-k (limit pushdown for
        # ORDER BY ts LIMIT k consumers — see read_cdc_batch)
        self._top_k = int(options.get("topk", 0) or 0)

    def partitions(self):
        parts = self._stream.partitions({"ts_ns": self._lo},
                                        {"ts_ns": self._hi})
        # batch contract: always at least one split (empty result is a
        # partition that reads nothing, not a plan-time error)
        return parts or [_RowGroupPartition(file="", row_group=-1,
                                            lo_ns=0, hi_ns=0)]

    def read(self, partition: _RowGroupPartition):
        if partition.row_group < 0:
            return iter(())
        if not self._top_k:
            return self._stream.read(partition)
        return self._read_top_k(partition)

    def _read_top_k(self, partition: _RowGroupPartition):
        """The partition's k smallest-ts rows: a global ts-ascending
        LIMIT k over the scan takes its ts values from the union of
        per-partition top-k sets, so the consumer's TakeOrdered result has
        the same ts multiset while only k rows per row group cross the
        Arrow boundary. Which rows survive a tie at the k-th ts can differ
        from an unpushed scan (the sort key is ts alone)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        batches = list(self._stream.read(partition))
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        if tbl.num_rows > self._top_k:
            idx = pc.sort_indices(
                tbl, sort_keys=[("ts", "ascending")])[: self._top_k]
            tbl = tbl.take(idx)
        yield from tbl.to_batches()


class CdcEventsDataSource(DataSource):
    """``spark.read[Stream].format("tb_cdc_events")`` — the CDC cursor
    scan as a native source. Options: ``path`` (events parquet),
    ``startTs`` (cursor, exclusive, ns), ``eventCountMax`` (per-batch
    event limit, reference runner.go:149; streaming only), ``endTs``
    (inclusive upper bound; batch only)."""

    @classmethod
    def name(cls) -> str:
        return "tb_cdc_events"

    def schema(self) -> StructType:
        from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA

        return EVENTS_SCHEMA

    def reader(self, schema: StructType) -> CdcEventsBatchReader:
        return CdcEventsBatchReader(self.options)

    def streamReader(self, schema: StructType) -> CdcEventsStreamReader:
        return CdcEventsStreamReader(self.options)


#: Sessions that already registered the source: registration pickles and
#: ships the DataSource class through py4j on EVERY call (measured 6-10 ms
#: warm, 1.4 s on the session's first touch) — pure driver overhead when
#: re-registering the same class. WeakSet so stopped sessions don't pin
#: JVM references (same discipline as session._CONFIGURED).
import weakref

_REGISTERED: "weakref.WeakSet" = weakref.WeakSet()


def _register_once(spark) -> None:
    if spark in _REGISTERED:
        return
    spark.dataSource.register(CdcEventsDataSource)
    _REGISTERED.add(spark)


def read_cdc_stream(spark, events_path: str, *, start_ts: int | None = None,
                    event_count_max: int = _DEFAULT_EVENT_COUNT_MAX):
    """Register the source (idempotent) and open the event stream."""
    _register_once(spark)
    reader = (spark.readStream.format("tb_cdc_events")
              .option("path", events_path)
              .option("eventCountMax", str(event_count_max)))
    if start_ts is not None:
        reader = reader.option("startTs", str(start_ts))
    return reader.load()


def read_cdc_batch(spark, events_path: str, *, start_ts: int = 0,
                   end_ts: int | None = None, top_k: int | None = None):
    """One-shot cursor-range scan (startTs, endTs] through the same
    source — backfills and replays with row-group pruning.

    ``top_k`` is the manual limit-pushdown channel (the Python DataSource
    API exposes no SupportsPushDownLimit): each PARTITION emits only its
    k smallest-ts rows, so a consumer that applies a global
    ``ORDER BY ts LIMIT k`` gets the same ts multiset while the
    Python->JVM Arrow transfer carries k rows per row group instead of
    the whole pending backlog. Which rows survive a tie at the cut can
    differ from an unpushed scan. Only valid when the consumer really is
    a ts-ascending top-k."""
    _register_once(spark)
    reader = (spark.read.format("tb_cdc_events")
              .option("path", events_path)
              .option("startTs", str(start_ts)))
    if end_ts is not None:
        reader = reader.option("endTs", str(end_ts))
    if top_k is not None:
        reader = reader.option("topK", str(top_k))
    return reader.load()
