"""errors.expected_index_env_error classification (round-11 advice):
JVM payloads are matched by the exception CLASS carrying the message,
not free-text fragments anywhere in the stack."""

from __future__ import annotations

from tigerbeetle_cdc_nats_spark.errors import expected_index_env_error


class _Fake(Exception):
    pass


def test_python_oserrors_are_env():
    assert expected_index_env_error(PermissionError("denied"))
    assert expected_index_env_error(OSError(28, "No space left on device"))


def test_ownership_refusal_is_env():
    assert expected_index_env_error(_Fake(
        "index cache /tmp/x is owned by uid 0, not 1; refusing to "
        "trust or write it"))


def test_jvm_env_classes_match():
    assert expected_index_env_error(_Fake(
        "An error occurred while calling o123.parquet.\n"
        ": java.nio.file.AccessDeniedException: /scratch/idx"))
    assert expected_index_env_error(_Fake(
        "org.apache.spark.SparkException: Job aborted.\n"
        "Caused by: java.io.IOException: No space left on device"))
    assert expected_index_env_error(_Fake(
        "Caused by: java.io.IOException: Mkdirs failed to create "
        "file:/readonly/idx/v1"))


def test_corruption_with_quoted_os_string_propagates():
    # a corruption error whose cause chain merely QUOTES an OS string
    # (not as an IO exception's own message) must NOT degrade
    assert not expected_index_env_error(_Fake(
        "java.lang.RuntimeException: snapshot checksum mismatch "
        "(previous compaction logged 'Permission denied' upstream)\n"
        "at org.apache.parquet.hadoop.ParquetFileReader"))


def test_parquet_corruption_propagates():
    assert not expected_index_env_error(_Fake(
        "org.apache.spark.SparkException: "
        "[FAILED_READ_FILE.NO_HINT] Encountered error while reading "
        "file. java.lang.RuntimeException: file:/idx/part-0.parquet "
        "is not a Parquet file"))


def test_bare_os_string_without_class_context_is_env():
    # plain wrapped messages with no exception-class markers keep the
    # last-resort string match
    assert expected_index_env_error(_Fake("Read-only file system"))
    assert not expected_index_env_error(_Fake("some other failure"))


def test_serve_stored_degrades_only_on_env_errors():
    # the one caller of the classifier: an environment error degrades,
    # once and visibly; anything else propagates without a recompute
    import pytest

    from tigerbeetle_cdc_nats_spark import queries_dedup as qd

    calls = []

    def computed():
        calls.append(1)
        return "computed rows"

    def unwritable():
        raise OSError("Read-only file system")

    assert qd.serve_stored("t_env", unwritable, computed) == "computed rows"
    assert calls == [1] and qd.SERVED["t_env"] == "computed"
    assert qd.serve_stored("t_env", lambda: "stored rows",
                           computed) == "stored rows"
    assert calls == [1] and qd.SERVED["t_env"] == "stored"

    def corrupt():
        raise RuntimeError("corrupt snapshot")

    with pytest.raises(RuntimeError, match="corrupt snapshot"):
        qd.serve_stored("t_bug", corrupt, computed)
    assert calls == [1] and "t_bug" not in qd.SERVED
