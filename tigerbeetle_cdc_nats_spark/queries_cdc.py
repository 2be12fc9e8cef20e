"""CDC pipeline operators as driver queries (SURVEY.md §2.1, §2.2, §2.8,
§2.9 keys), each with its DuckDB oracle.

All queries read the ``events`` table (ts = BIGINT nanos on both engines:
Spark via session.NANOS_AS_LONG, DuckDB via epoch_ns()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from tigerbeetle_cdc_nats_spark.functions.events import (
    event_type_name,
    header_columns,
    msg_id_column,
    subject_column,
)
from tigerbeetle_cdc_nats_spark.functions.json_codec import (
    encode_cdc_json,
    encode_cdc_json_sql,
)
from tigerbeetle_cdc_nats_spark.functions.portable import (
    portable_uint_spark_sql,
    portable_uint_sql,
)
from tigerbeetle_cdc_nats_spark.operators import cdc_view
from tigerbeetle_cdc_nats_spark.operators.scan import (
    cdc_incremental_scan,
    timestamp_range_filter,
)
from tigerbeetle_cdc_nats_spark.registry import events_table, register

#: Deterministic mid-stream cursor (2024-01-11T...Z in ns); testdata events
#: span 2024-01-01..2024-01-31.
CURSOR_NS = 1705000000000000000
RANGE_LO_NS = 1704500000000000000
RANGE_HI_NS = 1705500000000000000
SUBJECT_PREFIX = "tigerbeetle.cdc"  # config.go default prefix semantics
CLUSTER_ID = "1"

_EV = cdc_view.EVENTS_CTE


# --- S1: incremental cursor scan (runner.go:142-164) -----------------------

@register(
    "cdc_incremental_scan",
    f"""WITH ev AS ({_EV})
SELECT event_id, ts, user_id, event_type, value, props
FROM ev WHERE ts >= {CURSOR_NS + 1} ORDER BY ts LIMIT 4096""",
    doc="One CDC poll: ts > cursor, ordered, limit 4096 (runner.go:142-164)",
)
def q_cdc_incremental_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lo_ns bound on the RAW column (pushes to the scan); the operator's own
    # cursor filter on the normalized ns column is then a residual no-op.
    ev = events_table(spark, sf_dir, lo_ns=CURSOR_NS + 1)
    return cdc_incremental_scan(ev, cursor=CURSOR_NS).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# --- P4: timestamp range filter (runner.go:147-151) ------------------------

@register(
    "timestamp_range_filter",
    f"""WITH ev AS ({_EV})
SELECT event_id, ts, user_id, event_type, value, props
FROM ev WHERE ts >= {RANGE_LO_NS} AND ts <= {RANGE_HI_NS}""",
    doc="Bounded ts window; hi=0 would mean unbounded (runner.go:147-151)",
)
def q_timestamp_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir, lo_ns=RANGE_LO_NS, hi_ns=RANGE_HI_NS)
    return timestamp_range_filter(ev, RANGE_LO_NS, RANGE_HI_NS).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


# --- S2: progress recovery (runner.go:388-410) -----------------------------

@register(
    "progress_recovery",
    f"""WITH ev AS ({_EV})
SELECT COALESCE(MAX(ts), 0) + 1 AS resume_from,
       COALESCE(CAST(NULL AS BIGINT), MAX(ts), 0) + 1 AS resume_stored,
       {CURSOR_NS} + 1 AS resume_override
FROM ev""",
    doc="override > stored > 0, +1 cursor advance (runner.go:388-410,726-736)",
)
def q_progress_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    return ev.agg(
        (F.coalesce(F.max("ts"), F.lit(0)) + 1).alias("resume_from"),
        (F.coalesce(F.lit(None).cast("long"), F.max("ts"), F.lit(0)) + 1)
        .alias("resume_stored"),
        F.lit(CURSOR_NS + 1).alias("resume_override"),
    )


# --- P1: event -> document projection (message.go:96-152) ------------------

@register(
    "event_projection",
    f"""WITH ev AS ({_EV})
SELECT event_id, {encode_cdc_json_sql(cdc_view.duck_field)} AS payload
FROM ev""",
    doc="Full nested-envelope JSON encoding, byte-exact (message.go:96-152)",
)
def q_event_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.session import ensure_parallelism

    ev = ensure_parallelism(events_table(spark, sf_dir))
    return ev.select("event_id",
                     encode_cdc_json(cdc_view.spark_sql).alias("payload"))


# --- P2: portable number encoding (message.go:12-41) -----------------------

_BIG = "CAST(event_id AS HUGEINT) * 9007199254740993"

@register(
    "portable_number_encode",
    f"""WITH ev AS ({_EV})
SELECT event_id,
       {portable_uint_sql('ts')} AS ts_json,
       {portable_uint_sql('event_id')} AS id_json,
       {portable_uint_sql(f'({_BIG})')} AS big_json
FROM ev""",
    doc="number if <= 2^53-1 else decimal string (message.go:12-41)",
)
def q_portable_number_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    big = ("(CAST(event_id AS DECIMAL(38,0))"
           " * CAST(9007199254740993 AS DECIMAL(38,0)))")
    return ev.select(
        "event_id",
        F.expr(portable_uint_spark_sql("ts")).alias("ts_json"),
        F.expr(portable_uint_spark_sql("event_id")).alias("id_json"),
        F.expr(portable_uint_spark_sql(big)).alias("big_json"),
    )


# --- P3: event type dispatch (message.go:79-94) ----------------------------

@register(
    "event_type_encode",
    f"""WITH ev AS ({_EV})
SELECT event_id, {cdc_view.duck_field('type')} AS type_name FROM ev""",
    doc="int enum -> wire name; unknown raises (message.go:79-94)",
)
def q_event_type_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    code = (F.col("event_id") % 5).cast("int")
    return ev.select("event_id", event_type_name(code).alias("type_name"))


# --- P5: header projection (runner.go:586-605) -----------------------------

@register(
    "header_projection",
    f"""WITH ev AS ({_EV})
SELECT event_id,
       CAST({cdc_view.duck_field('type')} AS VARCHAR) AS event_type,
       CAST({cdc_view.duck_field('ledger')} AS VARCHAR) AS ledger,
       CAST({cdc_view.duck_field('transfer.code')} AS VARCHAR) AS transfer_code,
       CAST({cdc_view.duck_field('debit_account.code')} AS VARCHAR) AS debit_account_code,
       CAST({cdc_view.duck_field('credit_account.code')} AS VARCHAR) AS credit_account_code
FROM ev""",
    doc="5 routing headers per event, as strings (runner.go:586-605)",
)
def q_header_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    return ev.select(
        "event_id",
        *header_columns(*map(cdc_view.spark_field, (
            "type", "ledger", "transfer.code", "debit_account.code",
            "credit_account.code"))),
    )


# --- F1: subject routing (config.go:157-162) -------------------------------

@register(
    "subject_routing",
    f"""WITH ev AS ({_EV})
SELECT event_id,
       '{SUBJECT_PREFIX}' || '.' || CAST({cdc_view.duck_field('ledger')} AS VARCHAR)
           || '.' || {cdc_view.duck_field('type')} AS subject
FROM ev""",
    doc="<prefix>.<ledger>.<event_type> (config.go:157-162)",
)
def q_subject_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    return ev.select(
        "event_id",
        subject_column(
            SUBJECT_PREFIX,
            cdc_view.spark_field("ledger"),
            cdc_view.spark_field("type"),
        ).alias("subject"),
    )


# --- ST3/F2: dedup by deterministic msg id (runner.go:602) -----------------

@register(
    "dedupe_msgid",
    f"""WITH ev AS ({_EV}),
doubled AS (SELECT * FROM ev UNION ALL SELECT * FROM ev),
dedup AS (
  SELECT DISTINCT '{CLUSTER_ID}' || '/' || CAST(ts AS VARCHAR) AS msg_id, ts
  FROM doubled
)
SELECT COUNT(*) AS n_events, MIN(ts) AS min_ts, MAX(ts) AS max_ts FROM dedup""",
    doc="replayed stream collapses to unique <cluster>/<ts> ids "
        "(runner.go:602; dedupe window runner.go:180)",
)
def q_dedupe_msgid(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir).select("ts")
    doubled = ev.unionByName(ev)  # simulate at-least-once replay
    deduped = doubled.withColumn(
        "msg_id", msg_id_column(CLUSTER_ID, "ts")
    ).dropDuplicates(["msg_id"])
    return deduped.agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
    )


# --- decode path: parse the CDC wire JSON back into the typed envelope ----

@register(
    "event_json_decode",
    f"""WITH ev AS ({_EV})
SELECT event_id,
       ts AS dec_timestamp,
       {cdc_view.duck_field('type')} AS dec_type,
       {cdc_view.duck_field('ledger')} AS dec_ledger,
       {cdc_view.duck_field('transfer.amount')} AS dec_amount,
       CAST({cdc_view.duck_field('transfer.user_data_128')} AS VARCHAR)
         AS dec_user_data_128
FROM ev""",
    doc="decode path: from_json(wire payload) -> typed envelope; both "
        "portable forms (bare number, quoted string) coerce into the "
        "decimal schema. Oracle derives the same fields directly, proving "
        "the encode->decode round trip is lossless",
)
def q_event_json_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tigerbeetle_cdc_nats_spark.schemas import CDC_EVENT_SCHEMA
    from tigerbeetle_cdc_nats_spark.session import ensure_parallelism

    ev = ensure_parallelism(events_table(spark, sf_dir))
    payload = ev.select("event_id",
                        encode_cdc_json(cdc_view.spark_sql).alias("payload"))
    d = F.from_json("payload", CDC_EVENT_SCHEMA)
    return payload.select(
        "event_id",
        d["timestamp"].cast("long").alias("dec_timestamp"),
        d["type"].alias("dec_type"),
        d["ledger"].cast("long").alias("dec_ledger"),
        d["transfer"]["amount"].cast("long").alias("dec_amount"),
        d["transfer"]["user_data_128"].cast("string").alias("dec_user_data_128"),
    )


@register(
    "props_json_stats",
    f"""WITH ev AS ({_EV}),
x AS (
  SELECT event_type,
         CAST(json_extract(props, '$.k') AS BIGINT) AS k
  FROM ev
)
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing,
       CAST(MIN(k) AS BIGINT) AS min_k,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k,
       COUNT(DISTINCT k) AS n_distinct_k
FROM x GROUP BY event_type""",
    doc="semi-structured payload profiling: the raw event props JSON "
        "parsed engine-side (get_json_object / json_extract — never a "
        "Python JSON loop) and profiled per event type, with missing-key "
        "accounting. The JSON parse is a per-row codegen'd expression "
        "that pipelines with the scan; one |event_types|-sized rollup.",
)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = events_table(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("bigint")
    x = ev.select("event_type", k.alias("k"))
    return (x.groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum(F.when(F.col("k").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_missing"),
                 F.min("k").alias("min_k"),
                 F.max("k").alias("max_k"),
                 F.sum(F.coalesce(F.col("k"), F.lit(0))).cast("bigint")
                 .alias("sum_k"),
                 F.countDistinct("k").alias("n_distinct_k")))


@register(
    "cdc_backlog_stats",
    f"""WITH ev AS ({_EV})
SELECT CAST(COUNT(*) AS BIGINT) AS n_pending,
       CAST((COUNT(*) + 4095) // 4096 AS BIGINT) AS n_batches,
       MIN(ts) AS min_pending_ts,
       MAX(ts) AS max_pending_ts
FROM ev WHERE ts > {CURSOR_NS}""",
    doc="consumer-lag observability for the CDC poll loop: events pending "
        "past the cursor, polls needed to drain them at the reference "
        "batch limit (--event-count-max 4096, config.go:40), and the "
        "pending ts range — the backlog dashboard a CDC deployment "
        "watches to size idle-interval and rate limits",
)
def q_cdc_backlog_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One aggregation over the cursor-pruned scan.

    Scale shape: the ts > cursor predicate pushes to the parquet scan
    (row groups before the cursor are never read), and the result is a
    single map-side-combined global aggregate.
    """
    from tigerbeetle_cdc_nats_spark.config import DEFAULT_EVENT_COUNT_MAX

    ev = events_table(spark, sf_dir, lo_ns=CURSOR_NS + 1)
    agg = ev.where(F.col("ts") > CURSOR_NS).agg(
        F.count("*").cast("bigint").alias("n_pending"),
        F.min("ts").alias("min_pending_ts"),
        F.max("ts").alias("max_pending_ts"))
    return agg.select(
        "n_pending",
        F.expr(f"(n_pending + {DEFAULT_EVENT_COUNT_MAX - 1}) "
               f"div {DEFAULT_EVENT_COUNT_MAX}").alias("n_batches"),
        "min_pending_ts", "max_pending_ts")
