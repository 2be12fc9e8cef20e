"""Property-based tests (hypothesis) — coverage the reference lacks
(SURVEY.md §5: "no property-based tests").

The portable-number contract (message.go:12-41) is checked against an
independent Python model over the full u128 domain (digit strings) and the
DECIMAL(38,0) domain (typed values), both with boundary bias; the
config validator is checked for idempotence (resolving a resolved config is
a no-op).
"""

from __future__ import annotations

import json
from decimal import Decimal

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F, types as T

from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
from tigerbeetle_cdc_nats_spark.functions.portable import (
    MAX_PORTABLE_JSON_INT,
    portable_uint_spark_sql,
)

BOUNDARY = [0, 1, MAX_PORTABLE_JSON_INT - 1, MAX_PORTABLE_JSON_INT,
            MAX_PORTABLE_JSON_INT + 1, 2**63 - 1, 2**64 - 1, 2**127, 2**128 - 1]


def model_portable(v: int) -> str:
    """Independent model of message.go:12-41."""
    return json.dumps(str(v)) if v > MAX_PORTABLE_JSON_INT else str(v)


#: The typed path's boundaries, each with its neighbours: 2^53-1, 2^53,
#: 2^53+1, the long and u64 maxima and the DECIMAL(38,0) range ends. Every
#: example encodes all of them, then the drawn values.
DECIMAL_MAX = 10**38 - 1
DECIMAL_BOUNDARY = sorted({min(max(p + d, 0), DECIMAL_MAX)
                           for p in (0, 2**53, 2**63 - 1, 2**64 - 1,
                                     DECIMAL_MAX)
                           for d in (-1, 0, 1)})


@settings(max_examples=5, deadline=None)
@given(
    st.lists(st.one_of(st.sampled_from(BOUNDARY), st.integers(0, 2**128 - 1)),
             min_size=1, max_size=64),
    st.lists(st.integers(0, DECIMAL_MAX), max_size=64),
)
def test_portable_encoding_matches_model(spark, values, decimals):
    """Both inputs of the one Spark portable function: canonical-digit
    strings over the full u128 domain (the lossless path) and
    DECIMAL(38,0) values (the typed path the pipeline runs)."""
    schema = T.StructType([T.StructField("v", T.StringType())])
    df = spark.createDataFrame([{"v": str(v)} for v in values], schema)
    got = [r["j"] for r in df.select(F.expr(
        portable_uint_spark_sql("v", from_strings=True)).alias("j")).collect()]
    assert got == [model_portable(v) for v in values]

    schema = T.StructType([T.StructField("v", T.DecimalType(38, 0))])
    decimals = DECIMAL_BOUNDARY + decimals
    df = spark.createDataFrame([(Decimal(v),) for v in decimals], schema)
    got = [r["j"] for r in df.select(
        F.expr(portable_uint_spark_sql("v")).alias("j")).collect()]
    assert got == [model_portable(v) for v in decimals]


@settings(max_examples=50, deadline=None)
@given(
    cluster=st.integers(0, 2**128 - 1),
    ttl=st.floats(1.0, 1e6),
    prefix=st.text(
        alphabet=st.characters(whitelist_categories=("Ll", "Nd")),
        min_size=1, max_size=20,
    ),
)
def test_validate_idempotent(cluster, ttl, prefix):
    cfg = CdcConfig(cluster_id=str(cluster), lock_ttl_s=ttl,
                    lock_refresh_s=ttl / 2, subject_prefix=prefix)
    once = validate(cfg)
    assert validate(once) == once


def test_portable_json_values_roundtrip_via_spark_json(spark):
    """Encoded envelopes must be parseable JSON whose big ints survive as
    exact strings (the reason the portable rule exists)."""
    from tigerbeetle_cdc_nats_spark.operators.cdc_view import with_cdc_event
    from tigerbeetle_cdc_nats_spark.functions.json_codec import encode_cdc_json
    from tigerbeetle_cdc_nats_spark.registry import events_table

    df = with_cdc_event(events_table(spark, "/root/testdata/sf0.001")).limit(20)
    payloads = df.select(encode_cdc_json("event").alias("p"),
                         F.col("ts")).collect()
    for row in payloads:
        doc = json.loads(row["p"])
        # ts > 2^53 -> encoded as string, exact round trip
        assert doc["timestamp"] == str(row["ts"])
        assert isinstance(doc["ledger"], int)


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_asof_join_matches_bruteforce_model(spark, data):
    """The union-merge as-of join must agree with the obvious O(n*m) model
    on arbitrary small inputs (ties, missing snapshots, interleavings)."""
    from tigerbeetle_cdc_nats_spark.operators.joins import asof_join

    keys = st.integers(0, 3)
    ts = st.integers(0, 30)
    facts = data.draw(st.lists(st.tuples(keys, ts), min_size=1, max_size=12))
    snaps = data.draw(st.lists(st.tuples(keys, ts), max_size=12))

    facts_rows = [(i, k, t) for i, (k, t) in enumerate(facts)]
    # unique (key, ts) snapshots so "the latest" is well-defined
    snap_rows = [(k, t, float(k * 100 + t))
                 for k, t in sorted(set(snaps))]

    fdf = spark.createDataFrame(facts_rows, "fact_id long, k long, ts long")
    sdf = spark.createDataFrame(snap_rows, "k long, snap_ts long, sv double")
    out = asof_join(fdf, sdf, key="k", fact_ts="ts", snap_ts="snap_ts",
                    snap_cols={"sv": "sv"})
    got = {r["fact_id"]: (r["asof_ts"], r["sv"]) for r in out.collect()}

    assert set(got) == {fid for fid, _, _ in facts_rows}
    for fid, k, t in facts_rows:
        eligible = [(st_, sv) for (sk, st_, sv) in snap_rows
                    if sk == k and st_ <= t]
        expect = max(eligible) if eligible else (None, None)
        assert got[fid] == expect, (fid, k, t, got[fid], expect)


def _model_encode(event: dict) -> str:
    """Independent Python model of encodeEventJSON (message.go:96-152),
    built from the shared field specs."""
    from tigerbeetle_cdc_nats_spark.functions.json_codec import (
        ACCOUNT_SPEC, ENVELOPE_SPEC, TRANSFER_SPEC)

    def enc(kind, v):
        if kind == "s":
            return f'"{v}"'
        n = int(v)
        if kind == "p" and n > MAX_PORTABLE_JSON_INT:
            return f'"{n}"'
        return str(n)

    def obj(spec, values):
        return "{" + ",".join(
            f'"{name}":{enc(kind, values[name])}' for name, kind in spec
        ) + "}"

    parts = [f'"{n}":{enc(k, event[n])}' for n, k in ENVELOPE_SPEC]
    for nested, spec in (("transfer", TRANSFER_SPEC),
                         ("debit_account", ACCOUNT_SPEC),
                         ("credit_account", ACCOUNT_SPEC)):
        parts.append(f'"{nested}":{obj(spec, event[nested])}')
    return "{" + ",".join(parts) + "}"


@settings(max_examples=5, deadline=None)
@given(st.data())
def test_cdc_encoder_matches_model_on_random_events(spark, data):
    """Fuzz the Spark encoder against the independent model over random
    u128/u64/u32/u16 field values (boundary-biased)."""
    from pyspark.sql import types as T
    from tigerbeetle_cdc_nats_spark.functions.json_codec import (
        ACCOUNT_SPEC, TRANSFER_SPEC, encode_cdc_json)

    u128 = st.one_of(st.sampled_from(BOUNDARY), st.integers(0, 2**128 - 1))
    u64 = st.integers(0, 2**64 - 1)
    small = st.integers(0, 2**16 - 1)
    types_ = st.sampled_from(
        ["single_phase", "two_phase_pending", "two_phase_posted"])

    def draw_fields(spec):
        out = {}
        for name, kind in spec:
            if kind == "p":
                out[name] = str(data.draw(
                    u64 if name in ("user_data_64", "timestamp") else u128))
            else:
                out[name] = str(data.draw(small))
        return out

    events = []
    for _ in range(data.draw(st.integers(1, 8))):
        events.append({
            "timestamp": str(data.draw(u64)),
            "type": data.draw(types_),
            "ledger": str(data.draw(small)),
            "transfer": draw_fields(TRANSFER_SPEC),
            "debit_account": draw_fields(ACCOUNT_SPEC),
            "credit_account": draw_fields(ACCOUNT_SPEC),
        })

    from tests.test_json_codec import _string_struct_type
    schema = T.StructType([T.StructField("event", _string_struct_type())])
    df = spark.createDataFrame([{"event": e} for e in events], schema)
    got = [r["j"] for r in df.select(
        encode_cdc_json("event", from_strings=True).alias("j")).collect()]
    assert got == [_model_encode(e) for e in events]
