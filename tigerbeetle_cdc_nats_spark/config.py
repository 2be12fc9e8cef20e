"""Typed pipeline configuration mirroring the reference's flag surface.

Reference: parseConfig at /root/reference/config.go:164-371 — same defaults
(config.go:30-51), same validation rules and rejection messages
(config.go:220-347), same derived resource naming (config.go:330-343,
clusterScopedResourceName config.go:431-433) and subject routing
(config.go:157-162). NATS-specific transport options map onto their Spark
equivalents (checkpoint dir = progress bucket, streaming-query ownership =
single-writer lock) but the *validation semantics* are preserved so config
tests port 1:1 (config_test.go:9-108).
"""

from __future__ import annotations

from dataclasses import dataclass, replace

# Defaults — config.go:30-51.
DEFAULT_EVENT_STREAM_BASE = "TB_CDC_EVENTS"
DEFAULT_PROGRESS_BUCKET_BASE = "TB_CDC_PROGRESS"
DEFAULT_LOCK_BUCKET_BASE = "TB_CDC_LOCK"
DEFAULT_SUBJECT_PREFIX = "tigerbeetle.cdc"
DEFAULT_SINGLE_SUBJECT = "tigerbeetle.cdc"
DEFAULT_LOCK_TTL_S = 30.0
DEFAULT_LOCK_REFRESH_S = 10.0
DEFAULT_DEDUPE_WINDOW_S = 120.0
DEFAULT_EVENT_COUNT_MAX = 4096
DEFAULT_IDLE_INTERVAL_S = 1.0
DEFAULT_PUBLISH_ACK_TIMEOUT_S = 30.0
DEFAULT_PUBLISH_ASYNC_MAX_PENDING = 4096
MAX_REPLICA_COUNT = 5
MAX_U32 = 2**32 - 1
MAX_U128 = 2**128 - 1

SUBJECT_MODE_STRUCTURED = "structured"
SUBJECT_MODE_SINGLE = "single"
PUBLISH_MODE_ASYNC = "async"
PUBLISH_MODE_SYNC = "sync"


class ConfigError(ValueError):
    """Mirrors parseConfig's error returns (exit code 2 path, app.go:13-21)."""


def cluster_scoped_resource_name(base: str, cluster_decimal: str) -> str:
    """``<base>_<clusterDecimal>`` — config.go:431-433."""
    return f"{base}_{cluster_decimal}"


def parse_uint128_decimal(raw: str) -> str:
    """Validate a base-10 u128 (config.go:392-407); returns canonical form."""
    s = raw.strip()
    if not s or not s.isdigit():
        raise ConfigError(f"invalid --cluster-id: not a decimal integer: {raw!r}")
    v = int(s)
    if v > MAX_U128:
        raise ConfigError("invalid --cluster-id: exceeds 128 bits")
    return str(v)


@dataclass(frozen=True)
class CdcConfig:
    cluster_id: str = ""
    event_stream: str = ""
    progress_bucket: str = ""
    lock_bucket: str = ""
    subject_mode: str = SUBJECT_MODE_STRUCTURED
    subject_prefix: str = DEFAULT_SUBJECT_PREFIX
    single_subject: str = DEFAULT_SINGLE_SUBJECT
    lock_ttl_s: float = DEFAULT_LOCK_TTL_S
    lock_refresh_s: float = DEFAULT_LOCK_REFRESH_S
    dedupe_window_s: float = DEFAULT_DEDUPE_WINDOW_S
    idle_interval_s: float = DEFAULT_IDLE_INTERVAL_S
    timestamp_last_override: int | None = None

    def subject_for_event(self, ledger: int, event_type: str) -> str:
        """config.go:157-162."""
        if self.subject_mode == SUBJECT_MODE_SINGLE:
            return self.single_subject
        return f"{self.subject_prefix}.{ledger}.{event_type}"

    def msg_id(self, timestamp: int) -> str:
        """``<cluster>/<timestamp>`` — runner.go:602."""
        return f"{self.cluster_id}/{timestamp}"


_NATS_ONLY = ("the pipeline provisions no JetStream stream or KV bucket: "
              "its sink, checkpoint and cursor are directories")
_NO_BROKER = ("the pipeline publishes to a parquet sink and holds no broker "
              "connection")
#: Reference flags this pipeline parses and validates but cannot act on:
#: flag -> (default, why it has no effect). A non-default value is
#: rejected, so a setting nothing reads never looks accepted.
INERT_FLAGS = {
    "event_count_max": (
        DEFAULT_EVENT_COUNT_MAX,
        "the parquet file source batches by maxFilesPerTrigger=16; a row "
        "bound needs a source with admission control, which Python "
        "DataSources lack in Spark 4.1"),
    "progress_every_events": (
        0, "the cursor is committed once per micro-batch, after its publish"),
    "requests_per_second_limit": (
        None, "the source reads files and sends no requests to limit"),
    "provision": (True, _NATS_ONLY),
    "stream_update": (False, _NATS_ONLY),
    "stream_replicas": (1, _NATS_ONLY),
    "kv_replicas": (1, _NATS_ONLY),
    "publish_mode": (PUBLISH_MODE_ASYNC, _NO_BROKER),
    "publish_ack_timeout": (DEFAULT_PUBLISH_ACK_TIMEOUT_S, _NO_BROKER),
    "publish_async_max_pending": (DEFAULT_PUBLISH_ASYNC_MAX_PENDING,
                                  _NO_BROKER),
}


def validate(cfg: CdcConfig, **inert) -> CdcConfig:
    """Apply parseConfig's validation + derivation (config.go:220-347).
    Returns the resolved config; raises ConfigError with the reference's
    message on the same inputs the reference rejects.

    ``inert`` takes values of the ``INERT_FLAGS`` (absent ones are their
    defaults): they get the reference's validators, and then a value other
    than the default is rejected with the reason it would have no effect."""
    flags = {name: default for name, (default, _) in INERT_FLAGS.items()}
    unknown = inert.keys() - flags.keys()
    if unknown:
        raise TypeError(f"not an inert flag: {sorted(unknown)}")
    flags.update(inert)

    if not cfg.cluster_id:
        raise ConfigError("--cluster-id is required")
    cluster_decimal = parse_uint128_decimal(cfg.cluster_id)

    if not (1 <= flags["event_count_max"] <= MAX_U32):
        raise ConfigError(f"--event-count-max must be in [1, {MAX_U32}]")
    if not (0 <= flags["progress_every_events"] <= MAX_U32):
        raise ConfigError(f"--progress-every-events must be in [0, {MAX_U32}]")
    if cfg.idle_interval_s <= 0:
        raise ConfigError("--idle-interval-ms must be greater than zero")
    if not (1 <= flags["stream_replicas"] <= MAX_REPLICA_COUNT):
        raise ConfigError(f"--stream-replicas must be in [1, {MAX_REPLICA_COUNT}]")
    if not (1 <= flags["kv_replicas"] <= MAX_REPLICA_COUNT):
        raise ConfigError(f"--kv-replicas must be in [1, {MAX_REPLICA_COUNT}]")
    if cfg.lock_ttl_s <= 0:
        raise ConfigError("--lock-ttl must be greater than zero")
    if cfg.lock_refresh_s <= 0:
        raise ConfigError("--lock-refresh must be greater than zero")
    if cfg.lock_refresh_s >= cfg.lock_ttl_s:
        raise ConfigError("--lock-refresh must be less than --lock-ttl")
    if cfg.dedupe_window_s <= 0:
        raise ConfigError("--dedupe-window must be greater than zero")
    if flags["publish_ack_timeout"] <= 0:
        raise ConfigError("--publish-ack-timeout must be greater than zero")
    if flags["publish_async_max_pending"] <= 0:
        raise ConfigError("--publish-async-max-pending must be greater than zero")
    if not flags["provision"] and flags["stream_update"]:
        raise ConfigError("--stream-update requires --provision=true")

    mode = cfg.subject_mode.strip().lower()
    if mode == SUBJECT_MODE_STRUCTURED:
        # TrimSuffix semantics: strip exactly ONE trailing dot
        # (config.go:296) — 'a..' resolves to 'a.', not 'a'.
        prefix = cfg.subject_prefix.strip().removesuffix(".")
        if not prefix:
            raise ConfigError("--subject-prefix cannot be empty in structured mode")
        cfg = replace(cfg, subject_prefix=prefix)
    elif mode == SUBJECT_MODE_SINGLE:
        single = cfg.single_subject.strip()
        if not single:
            raise ConfigError("--subject cannot be empty in single mode")
        cfg = replace(cfg, single_subject=single)
    else:
        raise ConfigError("--subject-mode must be one of: structured, single")

    flags["publish_mode"] = flags["publish_mode"].strip().lower()
    if flags["publish_mode"] not in (PUBLISH_MODE_ASYNC, PUBLISH_MODE_SYNC):
        raise ConfigError("--publish-mode must be one of: async, sync")

    rps = flags["requests_per_second_limit"]
    if rps is not None and rps <= 0:
        # the reference parses this as uint32, so negatives are rejected at
        # flag-parse time; zero is rejected by its own validation.
        raise ConfigError("--requests-per-second-limit must be a positive integer")
    for name, (default, why) in INERT_FLAGS.items():
        if flags[name] != default:
            raise ConfigError(
                f"--{name.replace('_', '-')} has no effect here: {why}")

    # Derived resource names (config.go:330-343).
    derived = {}
    if not cfg.event_stream.strip():
        derived["event_stream"] = cluster_scoped_resource_name(
            DEFAULT_EVENT_STREAM_BASE, cluster_decimal)
    if not cfg.progress_bucket.strip():
        derived["progress_bucket"] = cluster_scoped_resource_name(
            DEFAULT_PROGRESS_BUCKET_BASE, cluster_decimal)
    if not cfg.lock_bucket.strip():
        derived["lock_bucket"] = cluster_scoped_resource_name(
            DEFAULT_LOCK_BUCKET_BASE, cluster_decimal)
    return replace(cfg, cluster_id=cluster_decimal,
                   subject_mode=mode, **derived)
