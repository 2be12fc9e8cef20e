"""Derived CDC event envelope over the driver's ``events`` table.

The reference consumes pre-joined TigerBeetle change events (SURVEY.md §1.1).
The driver's testdata has a flat ``events`` table instead, so this module
derives a deterministic, fully-populated CDC envelope (schemas.CDC_EVENT_SCHEMA)
from it — the same arithmetic is emitted both as Spark SQL (``spark_sql``,
``spark_field``) and as DuckDB SQL (``duck_field``) so the oracle sees
identical values.

Every expression is integer-exact (no float summation): amounts are derived
via ``FLOOR(value*100)`` (cents), u128s via exact integer multiplication
(HUGEINT in DuckDB, DECIMAL(38,0) in Spark).

Mapping summary (events -> envelope):
- ``ts``       -> event/transfer/account timestamps (u64 nanos; > 2^53 so it
                  exercises the portable-string branch, message.go:16-24)
- ``event_id`` -> transfer id / enum code (event_id % 5 -> message.go:79-94)
- ``user_id``  -> debit account id (credit = user_id+1), ledger = user_id % 10
- ``value``    -> transfer amount in cents
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

#: Exercises the portable-number string branch: 2^53 + 1.
_U128_FACTOR = "9007199254740993"

_AMOUNT = "CAST(FLOOR(value * 100) AS BIGINT)"

#: field path -> (spark SQL expr, duckdb SQL expr); single entry where equal.
#: Expressions reference columns event_id, ts (BIGINT nanos), user_id,
#: event_type, value, props.
_TYPE_CASE = (
    "CASE CAST(event_id % 5 AS INT) "
    "WHEN 0 THEN 'single_phase' WHEN 1 THEN 'two_phase_pending' "
    "WHEN 2 THEN 'two_phase_posted' WHEN 3 THEN 'two_phase_voided' "
    "ELSE 'two_phase_expired' END"
)

FIELD_EXPRS: dict[str, tuple[str, str]] = {
    "timestamp": ("ts", "ts"),
    "type": (_TYPE_CASE, _TYPE_CASE),
    "ledger": ("user_id % 10", "user_id % 10"),
    "transfer.id": ("event_id", "event_id"),
    "transfer.amount": (_AMOUNT, _AMOUNT),
    "transfer.pending_id": (
        "CASE WHEN event_id % 5 = 0 THEN 0 ELSE event_id + 1000000 END",) * 2,
    "transfer.user_data_128": (
        f"CAST(event_id AS DECIMAL(38,0)) * {_U128_FACTOR}",
        f"CAST(event_id AS HUGEINT) * {_U128_FACTOR}",
    ),
    "transfer.user_data_64": ("ts", "ts"),
    "transfer.user_data_32": ("user_id", "user_id"),
    "transfer.timeout": ("0", "0"),
    "transfer.code": ("event_id % 100 + 1", "event_id % 100 + 1"),
    "transfer.flags": ("event_id % 5", "event_id % 5"),
    "transfer.timestamp": ("ts", "ts"),
    "debit_account.id": ("user_id", "user_id"),
    "debit_account.debits_pending": ("0", "0"),
    "debit_account.debits_posted": (_AMOUNT, _AMOUNT),
    "debit_account.credits_pending": ("0", "0"),
    "debit_account.credits_posted": ("0", "0"),
    "debit_account.user_data_128": ("0", "0"),
    "debit_account.user_data_64": ("ts", "ts"),
    "debit_account.user_data_32": ("user_id", "user_id"),
    "debit_account.code": ("user_id % 50 + 1", "user_id % 50 + 1"),
    "debit_account.flags": ("0", "0"),
    "debit_account.timestamp": ("ts", "ts"),
    "credit_account.id": ("user_id + 1", "user_id + 1"),
    "credit_account.debits_pending": ("0", "0"),
    "credit_account.debits_posted": ("0", "0"),
    "credit_account.credits_pending": ("0", "0"),
    "credit_account.credits_posted": (_AMOUNT, _AMOUNT),
    "credit_account.user_data_128": ("0", "0"),
    "credit_account.user_data_64": ("ts", "ts"),
    "credit_account.user_data_32": ("user_id + 1", "user_id + 1"),
    "credit_account.code": ("(user_id + 1) % 50 + 1", "(user_id + 1) % 50 + 1"),
    "credit_account.flags": ("0", "0"),
    "credit_account.timestamp": ("ts", "ts"),
}

#: DuckDB CTE exposing the same column shapes Spark sees (ts as BIGINT nanos).
EVENTS_CTE = (
    "SELECT event_id, epoch_ns(ts) AS ts, user_id, event_type, value, props "
    "FROM events"
)


def spark_sql(path: str) -> str:
    return "(" + FIELD_EXPRS[path][0] + ")"


def spark_field(path: str) -> Column:
    return F.expr(spark_sql(path))


def duck_field(path: str) -> str:
    return "(" + FIELD_EXPRS[path][1] + ")"


def with_cdc_event(events: DataFrame) -> DataFrame:
    """Attach an ``event`` struct column (CDC_EVENT_SCHEMA-shaped) to the raw
    events DataFrame. Pure Column expressions — fully codegen'd."""
    def nested(prefix: str) -> Column:
        fields = [
            spark_field(p).alias(p.split(".", 1)[1])
            for p in FIELD_EXPRS if p.startswith(prefix + ".")
        ]
        return F.struct(*fields)

    event = F.struct(
        spark_field("timestamp").alias("timestamp"),
        spark_field("type").alias("type"),
        spark_field("ledger").alias("ledger"),
        nested("transfer").alias("transfer"),
        nested("debit_account").alias("debit_account"),
        nested("credit_account").alias("credit_account"),
    )
    return events.withColumn("event", event)
