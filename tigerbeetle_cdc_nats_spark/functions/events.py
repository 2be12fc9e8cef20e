"""Event-type dispatch, subject routing, msg-id, and header projection.

Reference semantics:
- enum -> name: /root/reference/message.go:79-94 (unknown value = hard error).
- subject: ``<prefix>.<ledger>.<event_type>`` or a single constant subject
  (config.go:157-162).
- msg id: ``<cluster>/<timestamp>`` — the deterministic dedup key
  (runner.go:602).
- headers: 5 routing attributes per event (runner.go:586-605).

All pure Column expressions.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

from tigerbeetle_cdc_nats_spark.schemas import EVENT_TYPE_NAMES


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def event_type_name(code: Column | str, *, strict: bool = True) -> Column:
    """Map the integer change-event enum to its wire name.

    ``strict=True`` mirrors message.go:91-93: an unknown enum value raises at
    execution time (F.raise_error) instead of silently passing through.
    """
    code = _col(code)
    expr = F.when(code == 0, F.lit(EVENT_TYPE_NAMES[0]))
    for i, name in enumerate(EVENT_TYPE_NAMES[1:], start=1):
        expr = expr.when(code == i, F.lit(name))
    if strict:
        return expr.otherwise(
            F.raise_error(
                F.concat(F.lit("unsupported change event type: "), code.cast("string"))
            )
        )
    return expr  # unknown -> NULL


def subject_column(prefix: str, ledger: Column | str, event_type: Column | str,
                   *, single_subject: str | None = None) -> Column:
    """NATS subject for an event (config.go:157-162).

    ``single_subject`` mirrors ``--subject-mode=single`` where every event is
    published to one constant subject.
    """
    if single_subject is not None:
        return F.lit(single_subject)
    return F.concat_ws(
        ".", F.lit(prefix), _col(ledger).cast("string"), _col(event_type)
    )


def msg_id_column(cluster_id: str | int, ts: Column | str) -> Column:
    """Deterministic dedup message id ``<cluster>/<timestamp>`` (runner.go:602)."""
    return F.concat_ws("/", F.lit(str(cluster_id)), _col(ts).cast("string"))


#: The 5 routing header names (runner.go:586-605), in header order.
HEADER_COLS = ("event_type", "ledger", "transfer_code",
               "debit_account_code", "credit_account_code")


def header_columns(event_type: Column | str, ledger: Column | str,
                   transfer_code: Column | str, debit_code: Column | str,
                   credit_code: Column | str) -> list[Column]:
    """The 5 per-event routing headers (runner.go:586-605), as string columns
    aliased with their header names."""
    cols = (event_type, ledger, transfer_code, debit_code, credit_code)
    return [_col(c).cast("string").alias(name)
            for c, name in zip(cols, HEADER_COLS)]
