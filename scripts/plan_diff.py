#!/usr/bin/env python
"""Write or compare the formatted physical plan of every registered query.

Usage:
    python scripts/plan_diff.py OUT_DIR        # write one file per query
    python scripts/plan_diff.py DIR_A DIR_B    # diff two such dirs

Writing builds each query's plan (no action beyond what plan building
itself runs) on a bare ``local[2]`` session at sf0.001, in registry
order, and stores ``<query>.txt``. Stored indexes are built into a
fresh temporary directory that is removed afterwards. Expression ids,
plan ids, RDD ids, the runtime statistics of stages that already ran
and that directory's path are masked, so two checkouts' plans compare
equal when only ids differ. A query whose plan
fails to build gets its error's first line instead.

Comparing exits 1 when a query is missing on either side or its plan
text differs (printing a unified diff per query), 0 when all are equal.
"""

from __future__ import annotations

import difflib
import os
import re
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
MASKS = (
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    # AQE's runtime statistics of a stage that already ran (a persisted
    # memo's): partial-aggregate row counts vary with file splits
    (re.compile(r"Statistics\(sizeInBytes=[^)]*\)"), "Statistics(N)"),
)


def mask(text: str, tmp: str) -> str:
    text = text.replace(tmp, "<tmp>")
    for pattern, repl in MASKS:
        text = pattern.sub(repl, text)
    return text


def write_plans(out_dir: str, sf_dir: str) -> int:
    from pyspark.sql import SparkSession

    from tigerbeetle_cdc_nats_spark.plans.inspect import physical_plan
    from tigerbeetle_cdc_nats_spark.registry import all_queries

    os.makedirs(out_dir, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="plan_diff_")
    tempfile.tempdir = tmp  # stored indexes land here
    spark = (SparkSession.builder.master("local[2]").appName("plan-diff")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    failed = 0
    try:
        queries = all_queries()
        for name, q in queries.items():
            try:
                text = physical_plan(q.fn(spark, sf_dir))
            except Exception as exc:  # recorded, so a diff shows it
                failed += 1
                first = (str(exc).splitlines() or [""])[0]
                text = f"ERROR {type(exc).__name__}: {first}\n"
            with open(os.path.join(out_dir, f"{name}.txt"), "w",
                      encoding="utf-8") as fh:
                fh.write(mask(text, tmp))
        print(f"{len(queries)} plans written to {out_dir}, "
              f"{failed} failed to build")
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)
    return 0


def diff_plans(a: str, b: str) -> int:
    names_a, names_b = set(os.listdir(a)), set(os.listdir(b))
    bad = sorted(names_a ^ names_b)
    for name in bad:
        print(f"only in {a if name in names_a else b}: {name}")
    same = 0
    for name in sorted(names_a & names_b):
        with open(os.path.join(a, name), encoding="utf-8") as fh:
            left = fh.read().splitlines(keepends=True)
        with open(os.path.join(b, name), encoding="utf-8") as fh:
            right = fh.read().splitlines(keepends=True)
        if left == right:
            same += 1
            continue
        bad.append(name)
        sys.stdout.writelines(difflib.unified_diff(
            left, right, os.path.join(a, name), os.path.join(b, name)))
    print(f"{same} identical, {len(bad)} differ or missing")
    return 1 if bad else 0


def main(argv: list[str]) -> int:
    if len(argv) == 2:
        return diff_plans(*argv)
    if len(argv) == 1:
        return write_plans(argv[0], SF_DIR)
    print(__doc__)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
