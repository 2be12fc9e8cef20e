"""Byte-exact CDC event JSON encoding (the reference's core projection).

Reference: encodeEventJSON at /root/reference/message.go:96-152. The output
contract is exact bytes — golden tests pin a 564-byte all-zero encoding and a
1425-byte all-max encoding (message_test.go:22,88), with fixed field order
and the portable-number rule (number <= 2^53-1, decimal string above).

Spark's ``to_json`` cannot express "number or string per value", so the JSON
is assembled with ``||`` of literal fragments and per-field encodings — no
UDF, no Python in the hot path. One spec walker (``_walk``) emits both
forms as SQL text: Spark SQL for :func:`encode_cdc_json` and the equivalent
DuckDB SQL for :func:`encode_cdc_json_sql`, so the DuckDB oracle produces
identical strings. Its input is a field accessor (path -> SQL), so the
envelope can be read from a struct column or built straight from the
per-field expressions (``operators/cdc_view.spark_sql``).

The Spark form is one text and one ``F.expr`` for two reasons:
- Build cost. The encode is ~500 expression nodes. Built as Columns, each
  node is a py4j call; as text, it is parsed once in the JVM.
- The JIT limit. HotSpot never JIT-compiles a method over 8,000 bytes of
  bytecode (``HugeMethodLimit``); such a method runs in the bytecode
  interpreter for every row. When the encode reads a materialized struct,
  the optimizer keeps two Projects (the struct, then the encode) and every
  field access carries struct-extraction code, which puts the fused
  stage's largest method over that limit. Encoded from the field
  expressions, the largest method stays under it.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from tigerbeetle_cdc_nats_spark.functions.portable import (
    portable_uint_spark_sql,
    portable_uint_sql,
)

# Field kinds: "p" portable uint (u128/u64), "n" plain JSON number (u32/u16),
# "s" JSON string (enum names — no escaping needed, values are [a-z_] only).
TRANSFER_SPEC = (
    ("id", "p"), ("amount", "p"), ("pending_id", "p"), ("user_data_128", "p"),
    ("user_data_64", "p"), ("user_data_32", "n"), ("timeout", "n"),
    ("code", "n"), ("flags", "n"), ("timestamp", "p"),
)  # message.go:43-54

ACCOUNT_SPEC = (
    ("id", "p"), ("debits_pending", "p"), ("debits_posted", "p"),
    ("credits_pending", "p"), ("credits_posted", "p"), ("user_data_128", "p"),
    ("user_data_64", "p"), ("user_data_32", "n"), ("code", "n"),
    ("flags", "n"), ("timestamp", "p"),
)  # message.go:56-68

ENVELOPE_SPEC = (
    ("timestamp", "p"), ("type", "s"), ("ledger", "n"),
)  # message.go:70-77 scalar head; then transfer/debit_account/credit_account


NESTED_SPECS = (
    ("transfer", TRANSFER_SPEC),
    ("debit_account", ACCOUNT_SPEC),
    ("credit_account", ACCOUNT_SPEC),
)  # message.go:70-77 nested objects, in envelope order


def _encode_field_sql(kind: str, expr: str) -> str:
    if kind == "p":
        return portable_uint_sql(expr)
    if kind == "n":
        return f"CAST({expr} AS VARCHAR)"
    return f"'\"' || {expr} || '\"'"


def _encode_field_spark_sql(kind: str, expr: str, from_strings: bool) -> str:
    if kind == "p":
        return portable_uint_spark_sql(expr, from_strings=from_strings)
    if kind == "n":
        if from_strings:
            return expr
        return f"CAST(CAST({expr} AS DECIMAL(38,0)) AS STRING)"
    return f"concat('\"', {expr}, '\"')"


def json_object_sql(items: list[tuple[str, str]]) -> str:
    parts: list[str] = []
    for key, val in items:
        prefix = f"""'{"," if parts else "{"}"{key}":'"""
        parts.append(f"{prefix} || {val}")
    return "(" + " || ".join(parts) + " || '}')"


def _walk(field, encode, obj):
    """The envelope in the reference's field order (message.go:96-152):
    ``field(path)`` reads one field by its path (``"ledger"``,
    ``"transfer.id"``), ``encode(kind, value)`` turns it into a JSON
    fragment and ``obj(items)`` joins ``(key, fragment)`` pairs into an
    object."""
    items = [(n, encode(k, field(n))) for n, k in ENVELOPE_SPEC]
    for nested, spec in NESTED_SPECS:
        inner = [(n, encode(k, field(f"{nested}.{n}"))) for n, k in spec]
        items.append((nested, obj(inner)))
    return obj(items)


def encode_cdc_json(event, *, from_strings: bool = False) -> Column:
    """The reference's exact JSON bytes (message.go:96-152) as one Spark
    ``F.expr``. ``event`` is the name of a struct column shaped like
    ``schemas.CDC_EVENT_SCHEMA`` or a ``path -> Spark SQL`` function such
    as ``cdc_view.spark_sql``, which reads each field straight from the
    raw event columns.

    ``from_strings=True`` treats every numeric field as a canonical-digit
    string — the lossless u128 path needed for the all-max golden
    (message_test.go:88); the decimal-typed path covers the realistic range.
    """
    field = (lambda path: f"{event}.{path}") if isinstance(event, str) else event
    return F.expr(_walk(
        field, lambda k, e: _encode_field_spark_sql(k, e, from_strings),
        json_object_sql))


def encode_cdc_json_sql(field_expr) -> str:
    """DuckDB SQL producing the identical JSON string. ``field_expr(path)``
    maps a field path like ``"transfer.id"`` to an integer (or, for
    ``"type"``, string) SQL expression."""
    return _walk(field_expr, _encode_field_sql, json_object_sql)
