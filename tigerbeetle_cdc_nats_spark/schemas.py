"""Fixed schemas for the CDC event envelope and the testdata tables.

The CDC envelope mirrors the reference's wire contract exactly — struct tags
at /root/reference/message.go:43-77 define both the field set and the field
ORDER (the golden unit tests at message_test.go:22,88 assert exact bytes, so
order is part of the contract). Spark `StructType` preserves declaration
order, which `functions.json_codec` relies on.

Type mapping (see SURVEY.md §1.2):
- u128 -> DecimalType(38,0) for arithmetic (covers 2^127; true u128 max has
  39 digits — the lossless path for encoding parity is the string shadow
  column produced by json_codec, never the decimal).
- u64  -> DecimalType(20,0) when full range must round-trip (ids,
  timestamps may exceed Long.MAX); plain LongType for TB timestamps in the
  testdata (nanos since epoch fit signed 64 until year 2262).
- u32  -> LongType (no unsigned in Spark; int would overflow at 2^31).
- u16  -> IntegerType.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# CDC event envelope (message.go:43-77)
# ---------------------------------------------------------------------------

U128 = T.DecimalType(38, 0)
U64 = T.DecimalType(20, 0)
U32 = T.LongType()
U16 = T.IntegerType()

#: message.go:79-94 — enum value -> wire name; unknown values are a hard error.
EVENT_TYPE_NAMES = (
    "single_phase",        # 0 ChangeEventSinglePhase
    "two_phase_pending",   # 1
    "two_phase_posted",    # 2
    "two_phase_voided",    # 3
    "two_phase_expired",   # 4
)

#: transferMessage (message.go:43-54) — order matters.
TRANSFER_FIELDS = (
    ("id", U128),
    ("amount", U128),
    ("pending_id", U128),
    ("user_data_128", U128),
    ("user_data_64", U64),
    ("user_data_32", U32),
    ("timeout", U32),
    ("code", U16),
    ("flags", U16),
    ("timestamp", U64),
)

#: accountMessage (message.go:56-68) — identical shape for debit/credit side.
ACCOUNT_FIELDS = (
    ("id", U128),
    ("debits_pending", U128),
    ("debits_posted", U128),
    ("credits_pending", U128),
    ("credits_posted", U128),
    ("user_data_128", U128),
    ("user_data_64", U64),
    ("user_data_32", U32),
    ("code", U16),
    ("flags", U16),
    ("timestamp", U64),
)


def _struct(fields) -> T.StructType:
    return T.StructType([T.StructField(n, t, True) for n, t in fields])


TRANSFER_SCHEMA = _struct(TRANSFER_FIELDS)
ACCOUNT_SCHEMA = _struct(ACCOUNT_FIELDS)

#: cdcMessage envelope (message.go:70-77).
CDC_EVENT_SCHEMA = T.StructType([
    T.StructField("timestamp", U64, True),
    T.StructField("type", T.StringType(), True),
    T.StructField("ledger", U32, True),
    T.StructField("transfer", TRANSFER_SCHEMA, True),
    T.StructField("debit_account", ACCOUNT_SCHEMA, True),
    T.StructField("credit_account", ACCOUNT_SCHEMA, True),
])

# ---------------------------------------------------------------------------
# Testdata tables (/root/testdata/sf*/ — TESTDATA.md). `events.ts` is read as
# long nanos via session.NANOS_AS_LONG.
# ---------------------------------------------------------------------------

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.LongType(), True),            # ns since epoch
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),       # JSON object text
])

#: Schema of the JSON in events.props (a flat {"k": int} object in testdata).
PROPS_SCHEMA = T.StructType([T.StructField("k", T.LongType(), True)])
