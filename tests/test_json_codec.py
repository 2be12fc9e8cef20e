"""Golden-output tests for the CDC JSON encoder.

The two golden literals are the reference's canonical fixtures
(/root/reference/message_test.go:22 — all-zero, 564 bytes — and
message_test.go:88 — all-max, 1425 bytes). Byte-for-byte parity here is the
highest-fidelity behavioral check available (SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import functions as F, types as T

from tests.conftest import SF_SMOKE
from tigerbeetle_cdc_nats_spark.functions.json_codec import (
    ACCOUNT_SPEC,
    ENVELOPE_SPEC,
    TRANSFER_SPEC,
    encode_cdc_json,
)

U128_MAX = "340282366920938463463374607431768211455"
U64_MAX = "18446744073709551615"
U32_MAX = "4294967295"
U16_MAX = "65535"

GOLDEN_ZERO = (
    '{"timestamp":0,"type":"single_phase","ledger":0,"transfer":{"id":0,'
    '"amount":0,"pending_id":0,"user_data_128":0,"user_data_64":0,'
    '"user_data_32":0,"timeout":0,"code":0,"flags":0,"timestamp":0},'
    '"debit_account":{"id":0,"debits_pending":0,"debits_posted":0,'
    '"credits_pending":0,"credits_posted":0,"user_data_128":0,'
    '"user_data_64":0,"user_data_32":0,"code":0,"flags":0,"timestamp":0},'
    '"credit_account":{"id":0,"debits_pending":0,"debits_posted":0,'
    '"credits_pending":0,"credits_posted":0,"user_data_128":0,'
    '"user_data_64":0,"user_data_32":0,"code":0,"flags":0,"timestamp":0}}'
)


def _account_max() -> dict:
    vals = {}
    for name, kind in ACCOUNT_SPEC:
        if kind == "p":
            vals[name] = U128_MAX if name not in ("user_data_64", "timestamp") else U64_MAX
        else:
            vals[name] = U32_MAX if name == "user_data_32" else U16_MAX
    return vals


def _golden_max() -> str:
    # Reconstruct the expected literal from the spec (matches
    # message_test.go:88 verbatim; length asserted below).
    def obj(pairs):
        return "{" + ",".join(f'"{k}":{v}' for k, v in pairs) + "}"

    def enc(kind, raw):
        if kind == "s":
            return f'"{raw}"'
        if kind == "n":
            return raw
        return f'"{raw}"' if int(raw) > 9007199254740991 else raw

    transfer = []
    for name, kind in TRANSFER_SPEC:
        if kind == "p":
            raw = U64_MAX if name in ("user_data_64", "timestamp") else U128_MAX
        else:
            raw = U32_MAX if name in ("user_data_32", "timeout") else U16_MAX
        transfer.append((name, enc(kind, raw)))
    account = [
        (name, enc(kind, _account_max()[name])) for name, kind in ACCOUNT_SPEC
    ]
    envelope = [
        ("timestamp", enc("p", U64_MAX)),
        ("type", enc("s", "two_phase_pending")),
        ("ledger", enc("n", U32_MAX)),
        ("transfer", obj(transfer)),
        ("debit_account", obj(account)),
        ("credit_account", obj(account)),
    ]
    return obj(envelope)


def _string_struct_type() -> T.StructType:
    def s(fields):
        return T.StructType([T.StructField(n, T.StringType()) for n, _ in fields])

    return T.StructType([
        T.StructField("timestamp", T.StringType()),
        T.StructField("type", T.StringType()),
        T.StructField("ledger", T.StringType()),
        T.StructField("transfer", s(TRANSFER_SPEC)),
        T.StructField("debit_account", s(ACCOUNT_SPEC)),
        T.StructField("credit_account", s(ACCOUNT_SPEC)),
    ])


def _encode_one(spark, event_dict: dict) -> str:
    schema = T.StructType([T.StructField("event", _string_struct_type())])
    df = spark.createDataFrame([{"event": event_dict}], schema=schema)
    return df.select(
        encode_cdc_json("event", from_strings=True).alias("j")
    ).first()["j"]


def test_golden_zero(spark):
    zero_t = {n: "0" for n, _ in TRANSFER_SPEC}
    zero_a = {n: "0" for n, _ in ACCOUNT_SPEC}
    event = {
        "timestamp": "0", "type": "single_phase", "ledger": "0",
        "transfer": zero_t, "debit_account": zero_a, "credit_account": zero_a,
    }
    got = _encode_one(spark, event)
    assert got == GOLDEN_ZERO
    assert len(got.encode()) == 564  # message_test.go:28


def test_golden_max(spark):
    max_t = {}
    for name, kind in TRANSFER_SPEC:
        if kind == "p":
            max_t[name] = U64_MAX if name in ("user_data_64", "timestamp") else U128_MAX
        else:
            max_t[name] = U32_MAX if name in ("user_data_32", "timeout") else U16_MAX
    max_a = _account_max()
    event = {
        "timestamp": U64_MAX, "type": "two_phase_pending", "ledger": U32_MAX,
        "transfer": max_t, "debit_account": max_a, "credit_account": max_a,
    }
    got = _encode_one(spark, event)
    expected = _golden_max()
    assert len(expected.encode()) == 1425  # message_test.go:94
    assert got == expected


def test_decimal_path_matches_string_path(spark):
    """The typed (decimal) encoder and the lossless string encoder agree on
    values inside the decimal(38,0) range: every sf0.001 event, encoded
    once from its typed struct and once from that struct cast to digit
    strings, gives the same bytes. Some payloads carry a quoted number
    (a value above 2^53-1), so both branches of the portable rule run."""
    from tigerbeetle_cdc_nats_spark.operators.cdc_view import with_cdc_event
    from tigerbeetle_cdc_nats_spark.session import load_events

    ev = with_cdc_event(load_events(spark, SF_SMOKE))
    df = ev.select(
        encode_cdc_json("event").alias("a"),
        F.col("event").cast(_string_struct_type()).alias("s"),
    ).select("a", encode_cdc_json("s", from_strings=True).alias("b"))
    counts = df.agg(
        F.count("*").alias("n"),
        F.sum((~F.col("a").eqNullSafe(F.col("b"))).cast("int"))
        .alias("n_diff"),
        F.sum(F.col("a").rlike(':"[0-9]+"').cast("int")).alias("n_quoted"),
    ).first()
    assert counts["n"] > 0
    assert counts["n_diff"] == 0
    assert counts["n_quoted"] > 0


def _column_encoder(event: str):
    """The envelope built through the Column API (``F.when``/``F.concat``
    over struct fields) instead of one parsed Spark SQL text: an
    independent construction of the typed path's bytes."""
    from tigerbeetle_cdc_nats_spark.functions.json_codec import NESTED_SPECS
    from tigerbeetle_cdc_nats_spark.functions.portable import (
        MAX_PORTABLE_JSON_INT,
    )

    def enc(kind, c):
        if kind == "s":
            return F.concat(F.lit('"'), c, F.lit('"'))
        digits = c.cast("decimal(38,0)").cast("string")
        if kind == "n":
            return digits
        return (F.when(c.isNull(), F.lit("null"))
                .when(c > F.lit(MAX_PORTABLE_JSON_INT),
                      F.concat(F.lit('"'), digits, F.lit('"')))
                .otherwise(digits))

    def obj(items):
        parts = []
        for key, val in items:
            parts += [F.lit(("," if parts else "{") + f'"{key}":'), val]
        return F.concat(*parts, F.lit("}"))

    ev = F.col(event)
    items = [(n, enc(k, ev[n])) for n, k in ENVELOPE_SPEC]
    for nested, spec in NESTED_SPECS:
        items.append((nested, obj([(n, enc(k, ev[nested][n]))
                                   for n, k in spec])))
    return obj(items)


def test_spark_sql_encoder_matches_column_encoder(spark):
    """The single-F.expr envelope encoder stays byte-identical to a
    Column-built form of the same envelope on real event data."""
    from tigerbeetle_cdc_nats_spark.operators.cdc_view import with_cdc_event
    from tigerbeetle_cdc_nats_spark.session import load_events

    ev = with_cdc_event(load_events(spark, SF_SMOKE))
    df = ev.select(
        _column_encoder("event").alias("a"),
        encode_cdc_json("event").alias("b"),
    )
    assert df.count() > 0
    assert df.where(~F.col("a").eqNullSafe(F.col("b"))).count() == 0


def test_field_encoder_matches_struct_encoder(spark):
    """The encoder over the materialized ``event`` struct (by name) is
    byte-equal to the pipeline's form over ``cdc_view.spark_sql``."""
    from tigerbeetle_cdc_nats_spark.operators.cdc_view import (
        spark_sql,
        with_cdc_event,
    )
    from tigerbeetle_cdc_nats_spark.session import load_events

    ev = with_cdc_event(load_events(spark, SF_SMOKE))
    df = ev.select(
        encode_cdc_json("event").alias("a"),
        encode_cdc_json(spark_sql).alias("b"),
    )
    assert df.count() > 0
    assert df.where(~F.col("a").eqNullSafe(F.col("b"))).count() == 0


def _struct_transform(events, cfg):
    """The pipeline transform as it was before the dedup moved ahead of
    the encode: encode every row from the ``event`` struct, then dedup."""
    from tigerbeetle_cdc_nats_spark.functions.events import (
        msg_id_column,
        subject_column,
    )
    from tigerbeetle_cdc_nats_spark.operators.cdc_view import with_cdc_event

    e = F.col("event")
    out = with_cdc_event(events).select(
        "event_id", "ts",
        msg_id_column(cfg.cluster_id, "ts").alias("msg_id"),
        subject_column(cfg.subject_prefix, e["ledger"], e["type"])
        .alias("subject"),
        encode_cdc_json("event").alias("payload"),
        e["type"].cast("string").alias("event_type"),
        e["ledger"].cast("string").alias("ledger"),
        e["transfer"]["code"].cast("string").alias("transfer_code"),
        e["debit_account"]["code"].cast("string").alias("debit_account_code"),
        e["credit_account"]["code"].cast("string")
        .alias("credit_account_code"),
    )
    return (out.withColumn("event_time",
                           F.timestamp_micros(F.expr("ts div 1000")))
            .dropDuplicates(["msg_id"]))


def test_transform_matches_struct_path_with_replays(spark):
    """transform_events (dedup first, encode from the field expressions)
    returns the rows, columns and column order of the struct path on a
    batch with planted replays."""
    from tigerbeetle_cdc_nats_spark.config import CdcConfig, validate
    from tigerbeetle_cdc_nats_spark.session import load_events
    from tigerbeetle_cdc_nats_spark.streaming.pipeline import transform_events

    events = load_events(spark, SF_SMOKE)
    replays = events.where(F.col("event_id") % 7 == 3)
    batch = events.unionByName(replays)
    cfg = validate(CdcConfig(cluster_id="9"))
    got, want = transform_events(batch, cfg), _struct_transform(batch, cfg)
    assert got.columns == want.columns and got.columns[-1] == "event_time"
    n_events, n_replays = events.count(), replays.count()
    assert n_replays > 0
    rows = sorted(got.collect())
    assert len(rows) == n_events
    assert rows == sorted(want.collect())
