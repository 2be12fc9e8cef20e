"""Resource provisioning + config-diff tests, porting the reference's pure
diff tests (/root/reference/runner_test.go:10-61) and the
create/validate/update flow (runner.go:207-291)."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from tigerbeetle_cdc_nats_spark.schemas import EVENTS_SCHEMA
from tigerbeetle_cdc_nats_spark.sources.provision import (
    ResourceMismatchError,
    SinkResourceConfig,
    config_mismatches,
    ensure_resource,
    schema_to_json,
)


def _cfg(**kw) -> SinkResourceConfig:
    base = dict(
        name="TB_CDC_EVENTS_7",
        schema_json=schema_to_json(EVENTS_SCHEMA),
        subjects=("tigerbeetle.cdc.>",),
    )
    base.update(kw)
    return SinkResourceConfig(**base)


def test_no_mismatch_for_equal_configs():
    assert config_mismatches(_cfg(), _cfg()) == []


def test_mismatch_messages_name_each_field():
    # runner_test.go's diff expectations: every differing field is listed
    # in "field=actual (expected desired)" form.
    actual = _cfg(replicas=3, storage="memory", max_bytes=100)
    got = config_mismatches(actual, _cfg())
    assert any(m.startswith("replicas=3 (expected 1)") for m in got)
    assert any(m.startswith("storage=memory (expected file)") for m in got)
    assert any(m.startswith("max_bytes=100 (expected -1)") for m in got)
    assert len(got) == 3


def test_unlimited_bytes_normalized():
    # normalizeUnlimitedBytes: 0 and -1 both mean unlimited.
    assert config_mismatches(_cfg(max_bytes=0), _cfg(max_bytes=-1)) == []


def test_schema_diff_detected():
    cursor = T.StructType([T.StructField("timestamp", T.LongType(), False),
                           T.StructField("version", T.StringType(), True)])
    other = _cfg(schema_json=schema_to_json(cursor))
    assert any("schema differs" in m for m in config_mismatches(other, _cfg()))


def test_ensure_create_then_idempotent(tmp_path):
    d = str(tmp_path / "stream")
    ensure_resource(d, _cfg())
    ensure_resource(d, _cfg())  # second call: exists + equal -> no-op


def test_ensure_fails_fast_on_mismatch(tmp_path):
    d = str(tmp_path / "stream")
    ensure_resource(d, _cfg())
    with pytest.raises(ResourceMismatchError, match=r"config mismatch: replicas=1 \(expected 2\)"):
        ensure_resource(d, _cfg(replicas=2))


def test_ensure_update_applies_new_config(tmp_path):
    # --stream-update path (runner.go:241-246).
    d = str(tmp_path / "stream")
    ensure_resource(d, _cfg())
    out = ensure_resource(d, _cfg(replicas=2), update=True)
    assert out.replicas == 2
    ensure_resource(d, _cfg(replicas=2))  # now matches
