#!/usr/bin/env python
"""Compile the package's JVM classes and write their jar.

``tigerbeetle_cdc_nats_spark/jvm/NioLocalFileSystem.java`` is compiled
with ``javac --release 17`` against the Hadoop client jar bundled with
pyspark, and its class files are written to
``tigerbeetle_cdc_nats_spark/jvm/local-fs.jar`` (or ``--out``). Entries
are sorted and stamped with a fixed time, so the same class bytes give
the same jar.

Usage:
    python scripts/build_jvm.py [--out PATH]

Needs a JDK 17+ ``javac`` on PATH.
"""

from __future__ import annotations

import argparse
import glob
import os
import subprocess
import sys
import tempfile
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_DIR = os.path.join(REPO, "tigerbeetle_cdc_nats_spark", "jvm")
SOURCE = os.path.join(JVM_DIR, "NioLocalFileSystem.java")
JAR = os.path.join(JVM_DIR, "local-fs.jar")


def hadoop_classpath() -> str:
    """The Hadoop client API jar(s) pyspark ships."""
    import pyspark

    jars = glob.glob(os.path.join(os.path.dirname(pyspark.__file__),
                                  "jars", "hadoop-client-api-*.jar"))
    if not jars:
        raise FileNotFoundError("no hadoop-client-api jar under pyspark/jars")
    return os.pathsep.join(sorted(jars))


def compile_classes(out_dir: str) -> dict[str, bytes]:
    """``javac --release 17`` of the source into ``out_dir``; returns
    {jar entry name: class bytes}."""
    subprocess.run(["javac", "--release", "17",
                    "-cp", hadoop_classpath(), "-d", out_dir, SOURCE],
                   check=True)
    classes = {}
    for root, _dirs, names in os.walk(out_dir):
        for name in names:
            if name.endswith(".class"):
                full = os.path.join(root, name)
                entry = os.path.relpath(full, out_dir).replace(os.sep, "/")
                with open(full, "rb") as fh:
                    classes[entry] = fh.read()
    return classes


def write_jar(classes: dict[str, bytes], jar: str) -> None:
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as zf:
        for entry in sorted(classes):
            info = zipfile.ZipInfo(entry, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, classes[entry])


def build(jar: str = JAR) -> dict[str, bytes]:
    """Compile and write ``jar``; returns its class entries."""
    with tempfile.TemporaryDirectory(prefix="build_jvm-") as out_dir:
        classes = compile_classes(out_dir)
    write_jar(classes, jar)
    return classes


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", default=JAR, help="jar to write")
    args = ap.parse_args()
    classes = build(args.out)
    print(f"wrote {args.out}: {', '.join(sorted(classes))} "
          f"({os.path.getsize(args.out)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
