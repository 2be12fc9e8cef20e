"""Config validation parity with the reference's parseConfig tests
(/root/reference/config_test.go:9-108)."""

from __future__ import annotations

import pytest

from tigerbeetle_cdc_nats_spark.config import (
    DEFAULT_EVENT_COUNT_MAX,
    CdcConfig,
    ConfigError,
    validate,
)


def test_defaults_and_derived_names():
    # config_test.go:9-47: defaults + cluster-scoped resource names.
    cfg = validate(CdcConfig(cluster_id="7"))
    assert cfg.event_stream == "TB_CDC_EVENTS_7"
    assert cfg.progress_bucket == "TB_CDC_PROGRESS_7"
    assert cfg.lock_bucket == "TB_CDC_LOCK_7"
    assert DEFAULT_EVENT_COUNT_MAX == 4096
    assert cfg.dedupe_window_s == 120.0
    assert cfg.lock_ttl_s == 30.0 and cfg.lock_refresh_s == 10.0
    # subject: tigerbeetle.cdc.7.single_phase (config_test.go:44)
    assert cfg.subject_for_event(7, "single_phase") == "tigerbeetle.cdc.7.single_phase"
    assert cfg.msg_id(123) == "7/123"


def test_explicit_overrides_and_single_mode():
    # config_test.go:49-95.
    cfg = validate(CdcConfig(
        cluster_id="42", event_stream="MY_STREAM",
        subject_mode="single", single_subject="events.all",
    ))
    assert cfg.event_stream == "MY_STREAM"
    assert cfg.subject_for_event(9, "two_phase_posted") == "events.all"


def test_subject_prefix_trailing_dot_trimmed():
    cfg = validate(CdcConfig(cluster_id="1", subject_prefix="pfx."))
    assert cfg.subject_for_event(2, "single_phase") == "pfx.2.single_phase"


def test_subject_prefix_strips_exactly_one_trailing_dot():
    # strings.TrimSuffix semantics (config.go:296): 'a..' -> 'a.', not 'a'.
    cfg = validate(CdcConfig(cluster_id="1", subject_prefix="a.."))
    assert cfg.subject_prefix == "a."


@pytest.mark.parametrize("bad,msg", [
    (CdcConfig(), "--cluster-id is required"),
    (CdcConfig(cluster_id="abc"), "invalid --cluster-id"),
    (CdcConfig(cluster_id=str(2**128)), "exceeds 128 bits"),
    ((CdcConfig(cluster_id="1"), {"event_count_max": 0}), "--event-count-max"),
    (CdcConfig(cluster_id="1", idle_interval_s=0), "--idle-interval-ms"),
    ((CdcConfig(cluster_id="1"), {"stream_replicas": 6}), "--stream-replicas"),
    ((CdcConfig(cluster_id="1"), {"kv_replicas": 0}), "--kv-replicas"),
    (CdcConfig(cluster_id="1", lock_ttl_s=0), "--lock-ttl"),
    (CdcConfig(cluster_id="1", lock_refresh_s=0), "--lock-refresh"),
    # refresh >= ttl rejected (config.go:273-275)
    (CdcConfig(cluster_id="1", lock_refresh_s=30, lock_ttl_s=30),
     "--lock-refresh must be less than --lock-ttl"),
    (CdcConfig(cluster_id="1", dedupe_window_s=0), "--dedupe-window"),
    ((CdcConfig(cluster_id="1"), {"publish_ack_timeout": 0}),
     "--publish-ack-timeout"),
    ((CdcConfig(cluster_id="1"), {"publish_async_max_pending": 0}),
     "--publish-async-max-pending"),
    ((CdcConfig(cluster_id="1"), {"provision": False, "stream_update": True}),
     "--stream-update requires --provision=true"),
    (CdcConfig(cluster_id="1", subject_prefix="  "),
     "--subject-prefix cannot be empty"),
    (CdcConfig(cluster_id="1", subject_mode="single", single_subject=" "),
     "--subject cannot be empty"),
    # invalid mode rejection (config_test.go:97-108)
    (CdcConfig(cluster_id="1", subject_mode="bogus"), "--subject-mode"),
    ((CdcConfig(cluster_id="1"), {"publish_mode": "bogus"}), "--publish-mode"),
    # a valid non-default value of an inert flag has no effect: rejected
    ((CdcConfig(cluster_id="1"), {"publish_mode": "sync"}),
     "--publish-mode has no effect here"),
    ((CdcConfig(cluster_id="1"), {"requests_per_second_limit": 0}),
     "--requests-per-second-limit"),
    # negatives rejected too (the reference's uint32 flag parse)
    ((CdcConfig(cluster_id="1"), {"requests_per_second_limit": -5}),
     "--requests-per-second-limit"),
])
def test_rejections(bad, msg):
    # a (config, inert flags) pair: the inert flags are validate's keywords
    cfg, inert = bad if isinstance(bad, tuple) else (bad, {})
    with pytest.raises(ConfigError, match=msg.replace("[", r"\[")):
        validate(cfg, **inert)

