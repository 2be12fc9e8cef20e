"""Query-mix probe: the registry, ``queries_*`` and ``sources.prebuild``
layers, measured in the traced ``cdc_tail`` run after its timed window.

The mix (``mix.json``) is two of ROADMAP item 4's stored-index probes,
their computed twins and the two CDC queries that share the pipeline's
envelope encoder, over a copy of the sf0.01 testdata in ``data/sf0.01``.
First the prebuild entry points build the stored indexes and session
memos into the run's fresh, so cold, stored-index cache. One warm pass
then checks each query's row count against the count recorded at the
seed, and one timed pass follows, noop-materialized like ``bench.py``,
with each query's plan build and execution under their own job group.
"""

from __future__ import annotations

import json
import os
import random
import time
import traceback
from collections import defaultdict

from pyspark.sql import Observation, functions as F

from tigerbeetle_cdc_nats_spark import registry
from tigerbeetle_cdc_nats_spark.sources.prebuild import (
    ensure_indexes,
    ensure_session_memos,
)

from tracing import harvest_jobs

HERE = os.path.dirname(os.path.abspath(__file__))
SF_DIR = os.path.join(HERE, "data", "sf0.01")


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def mix_layers(spark, seed: int, tracer) -> tuple[dict, int, list[str]]:
    """Returns (per-layer metrics, queries attempted, failed queries)."""
    with open(os.path.join(HERE, "mix.json"), encoding="utf-8") as fh:
        expected: dict[str, int] = json.load(fh)["queries"]
    order = random.Random(seed).sample(sorted(expected), len(expected))
    queries = registry.all_queries()
    sc = spark.sparkContext
    # the codegen gate bench.py runs under: a janino fallback is an error
    spark.conf.set("spark.sql.codegen.fallback", "false")

    with tracer.span("prebuild"):
        idx = ensure_indexes(spark, SF_DIR)
        memos = ensure_session_memos(spark, SF_DIR)
    layers = {
        "prebuild.index_build_s": sum(
            v for k, v in idx.items() if k != "list_warm" and v > 0),
        "prebuild.list_warm_s": sum(
            v for v in idx["list_warm"].values() if v > 0),
        "prebuild.memo_build_s": sum(v for v in memos.values() if v > 0),
    }

    failed: list[str] = []
    for name in order:
        obs = Observation(name)
        try:
            with tracer.span("query.warm", query=name):
                df = queries[name].fn(spark, SF_DIR)
                _materialize(df.observe(obs, F.count(F.lit(1)).alias("n")))
            rows = int(obs.get["n"])
        except Exception:  # a broken query is reported, not fatal
            traceback.print_exc()
            rows = -1
        if rows != expected[name]:
            failed.append(name)

    split: dict[str, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for name in (n for n in order if n not in failed):
        module = queries[name].fn.__module__.rsplit(".", 1)[-1]
        sc.setJobGroup(f"bench:{name}:build", name)
        with tracer.span("query.build", query=name):
            t0 = time.perf_counter()
            df = queries[name].fn(spark, SF_DIR)
            t1 = time.perf_counter()
        sc.setJobGroup(f"bench:{name}:exec", name)
        with tracer.span("query.exec", query=name):
            _materialize(df)
            t2 = time.perf_counter()
        split[module][0] += t1 - t0
        split[module][1] += t2 - t1
    sc.setJobGroup("bench:other", "")

    def group(g, _desc):
        if g and g.startswith("bench:") and g != "bench:other":
            return g.rsplit(":", 1)[1]
        return None

    totals = harvest_jobs(spark, group)
    both = [t for t in totals.values()]

    def total(attr: str, scale: float = 1.0) -> float:
        return sum(getattr(t, attr) for t in both) / scale

    layers.update({f"{m}.{k}": v for m, (b, e) in split.items()
                   for k, v in (("build_s", b), ("exec_s", e))})
    layers.update({
        "mix.build_jobs": float(totals["build"].jobs if "build" in totals
                                else 0),
        "mix.jobs": total("jobs"),
        "mix.stages": total("stages"),
        "mix.tasks": total("tasks"),
        "mix.cpu_s": total("cpu_s"),
        "mix.gc_s": total("gc_s"),
        "mix.input_mb": total("input_b", 2**20),
        "mix.shuffle_read_mb": total("shuffle_read_b", 2**20),
        "mix.shuffle_write_mb": total("shuffle_write_b", 2**20),
        "mix.spill_mb": total("spill_b", 2**20),
    })
    return layers, len(expected), failed
