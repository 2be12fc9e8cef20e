"""The local filesystem ``get_spark`` installs for ``file:``
(jvm/NioLocalFileSystem.java): Hadoop's checksummed LocalFileSystem whose
raw layer sets permissions through java.nio instead of a ``chmod``
process, with Hive's ProxyLocalFileSystem rename rule."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from tigerbeetle_cdc_nats_spark.session import LOCAL_FS_CLASS, LOCAL_FS_JAR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fs(spark):
    jvm = spark._jvm
    return jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"),
        spark.sparkContext._jsc.hadoopConfiguration())


def _path(spark, p):
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _write(spark, p, data: bytes) -> None:
    out = _fs(spark).create(_path(spark, p))
    out.write(bytearray(data))
    out.close()


def _mode(p) -> int:
    return stat.S_IMODE(os.stat(p).st_mode)


def test_get_spark_resolves_file_to_the_shim(spark):
    assert _fs(spark).getClass().getName() == LOCAL_FS_CLASS
    assert spark.conf.get("spark.hadoop.fs.file.impl") == LOCAL_FS_CLASS


def test_modes_are_the_ones_hadoop_requests(spark, tmp_path):
    """Hadoop's default umask 022 applied to 0666 files and 0777
    directories."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    assert conf.get("fs.permissions.umask-mode", "022") == "022"
    _write(spark, tmp_path / "f", b"x")
    assert _fs(spark).mkdirs(_path(spark, tmp_path / "d" / "e"))
    assert _mode(tmp_path / "f") == 0o644
    assert _mode(tmp_path / "d") == 0o755
    assert _mode(tmp_path / "d" / "e") == 0o755


def test_each_file_gets_its_crc_sibling(spark, tmp_path):
    for name in ("a", "b.parquet"):
        _write(spark, tmp_path / name, b"payload")
    assert sorted(os.listdir(tmp_path)) == [".a.crc", ".b.parquet.crc",
                                            "a", "b.parquet"]


def test_a_flipped_byte_fails_the_read(spark, tmp_path):
    f = tmp_path / "f"
    _write(spark, f, bytes(range(256)) * 8)
    data = bytearray(f.read_bytes())
    data[1000] ^= 1
    f.write_bytes(bytes(data))
    with pytest.raises(Py4JJavaError) as exc:
        _fs(spark).open(_path(spark, f)).readAllBytes()
    assert (exc.value.java_exception.getClass().getName()
            == "org.apache.hadoop.fs.ChecksumException")


def test_sticky_mode_takes_hadoops_path(spark, tmp_path):
    """java.nio cannot set the sticky bit; Hadoop's own setPermission
    does."""
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission
    d = tmp_path / "d"
    d.mkdir()
    _fs(spark).setPermission(_path(spark, d), perm("1777"))
    assert _mode(d) == 0o1777
    _fs(spark).setPermission(_path(spark, d), perm("750"))
    assert _mode(d) == 0o750


def test_rename_onto_an_existing_file_returns_false(spark, tmp_path):
    _write(spark, tmp_path / "a", b"a")
    _write(spark, tmp_path / "b", b"b")
    fs = _fs(spark)
    assert not fs.rename(_path(spark, tmp_path / "a"),
                         _path(spark, tmp_path / "b"))
    assert (tmp_path / "a").read_bytes() == b"a"
    assert (tmp_path / "b").read_bytes() == b"b"
    assert fs.rename(_path(spark, tmp_path / "a"),
                     _path(spark, tmp_path / "c"))
    assert sorted(os.listdir(tmp_path)) == [".b.crc", ".c.crc", "b", "c"]


def test_a_replaced_driver_class_path_fails_fast(tmp_path):
    """A --driver-class-path in PYSPARK_SUBMIT_ARGS drops the jar from the
    driver class path: get_spark raises one line and leaves no session."""
    code = (
        "from pyspark import SparkContext\n"
        "from tigerbeetle_cdc_nats_spark.session import get_spark\n"
        "try:\n"
        "    get_spark(app_name='no-jar')\n"
        "except RuntimeError as e:\n"
        "    print('RAISED', e)\n"
        "print('ACTIVE', SparkContext._active_spark_context is not None)\n")
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="1",
               SPARK_DRIVER_MEM="512m",
               PYSPARK_SUBMIT_ARGS=(f"--driver-class-path {tmp_path}"
                                    " pyspark-shell"))
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, timeout=300)
    lines = out.stdout.splitlines()
    raised = [ln for ln in lines if ln.startswith("RAISED ")]
    assert len(raised) == 1, out.stdout + out.stderr
    assert "ClassNotFoundException" in raised[0]
    assert "--driver-class-path" in raised[0]
    assert "ACTIVE False" in lines


@pytest.mark.skipif(shutil.which("javac") is None, reason="no javac")
def test_jar_is_built_from_its_source(tmp_path):
    """The committed jar's class entries are what scripts/build_jvm.py
    compiles from the committed source (entries, not zip bytes)."""
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    try:
        import build_jvm
    finally:
        sys.path.pop(0)
    fresh = build_jvm.build(str(tmp_path / "local-fs.jar"))
    with zipfile.ZipFile(LOCAL_FS_JAR) as zf:
        committed = {n: zf.read(n) for n in zf.namelist()
                     if n.endswith(".class")}
    assert sorted(fresh) == sorted(committed)
    for name, data in fresh.items():
        assert committed[name] == data, name
