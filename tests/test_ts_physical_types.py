"""Regression: the events loader must normalize ``ts`` identically for every
parquet physical type the driver's generator has shipped (raw int64
nanoseconds, and TIMESTAMP(MICROS)/TIMESTAMP_NTZ). A generator change from
one round to the next must not break the engine."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from tigerbeetle_cdc_nats_spark.session import load_events

SRC = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def variant_dirs(tmp_path_factory):
    """Copies of sf0.001 events: TIMESTAMP(MICROS) (the round-2+ physical
    type), raw int64 nanoseconds (the round-1 type), TIMESTAMP(NANOS), and
    raw int64 nanoseconds with sub-µs digits (``+ 500``), which the loader
    truncates to the µs variant's values."""
    t = pq.read_table(SRC)
    ts = t.column("ts")
    if pa.types.is_timestamp(ts.type):
        us = pc.cast(ts, pa.timestamp("us"))
        ns_int = pc.multiply(pc.cast(us, pa.int64()), 1000)
    else:  # already int64 ns
        ns_int = pc.cast(ts, pa.int64())
        us = pc.cast(pc.divide(ns_int, 1000), pa.timestamp("us"))
    ns_ts = pc.cast(us, pa.timestamp("ns"))  # TIMESTAMP(NANOS) logical type
    i = t.schema.get_field_index("ts")
    dirs = {}
    ns_sub = pc.add(ns_int, 500)
    for name, col in (("us", us), ("ns", ns_int), ("ns_ts", ns_ts),
                      ("ns_sub", ns_sub)):
        d = tmp_path_factory.mktemp(f"events_{name}")
        pq.write_table(t.set_column(i, "ts", col),
                       os.path.join(d, "events.parquet"))
        dirs[name] = str(d)
    return dirs


def test_both_physical_types_normalize_identically(spark, variant_dirs):
    a = load_events(spark, variant_dirs["us"]).select("event_id", "ts")
    b = load_events(spark, variant_dirs["ns"]).select("event_id", "ts")
    assert dict(a.dtypes)["ts"] == "bigint"
    assert dict(b.dtypes)["ts"] == "bigint"
    # TIMESTAMP(NANOS): Spark reads it as raw long only via the
    # nanosAsLong conf session.configure sets — the round-1 physical type
    c = load_events(spark, variant_dirs["ns_ts"]).select("event_id", "ts")
    assert dict(c.dtypes)["ts"] == "bigint"
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    rows_c = sorted(map(tuple, c.collect()))
    d = load_events(spark, variant_dirs["ns_sub"]).select("event_id", "ts")
    rows_d = sorted(map(tuple, d.collect()))
    assert rows_a == rows_b == rows_c == rows_d
    # values are ns at µs precision (DuckDB's epoch_ns view of the data)
    assert all(ts % 1000 == 0 for _, ts in rows_a[:100])


def test_cursor_bounds_match_across_physical_types(spark, variant_dirs):
    lo = load_events(spark, variant_dirs["us"]).agg(
        {"ts": "min"}).first()[0]
    hi = load_events(spark, variant_dirs["us"]).agg(
        {"ts": "max"}).first()[0]
    mid = (lo + hi) // 2
    n_us = load_events(spark, variant_dirs["us"], lo_ns=mid).count()
    n_ns = load_events(spark, variant_dirs["ns"], lo_ns=mid).count()
    assert n_us == n_ns > 0

    # bounds off the µs grid over a store with sub-µs digits: a row whose
    # raw ts is past a bound but whose µs-truncated ts is not must follow
    # its truncated ts, as in the µs store
    tss = sorted(r[0] for r in load_events(
        spark, variant_dirs["us"]).select("ts").collect())
    b_lo, b_hi = tss[len(tss) // 4] + 1, tss[3 * len(tss) // 4] + 100

    def rows(name):
        df = load_events(spark, variant_dirs[name], lo_ns=b_lo, hi_ns=b_hi)
        return sorted(map(tuple, df.select("event_id", "ts").collect()))

    want = rows("us")
    assert want and all(b_lo <= ts <= b_hi for _, ts in want)
    assert rows("ns_sub") == want
