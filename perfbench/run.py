#!/usr/bin/env python3
"""CDC pipeline benchmark.

    python3 perfbench/run.py --workload cdc_drain --seed 1 --trace 0

Workloads (see BENCHMARK.json for why each was chosen):

- ``cdc_drain``: drain a seeded backlog through the ``run_cli --once``
  calls (closed loop, Spark on 2 cores);
- ``cdc_tail``: follow a live feed through the CLI's streaming branch
  (open loop, 1,000 events/s, Spark on 3 cores).

The registry, ``queries_*`` and prebuild layers are measured by a
query-mix probe (``mix.py``) in the traced ``cdc_tail`` run.

Every run uses fresh temp, Spark-local, sink, checkpoint, cursor and lock
directories under ``.perfbench/`` in the working directory, and removes
them at the end. The run prints a summary line (the end-to-end figures
plus ``commit_lag_p95_ms``, ``failed_frac``, peak RSS, checks, generator
lateness, host CPU steal), then one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, including tracing overhead against the untraced runs of
the same workload and the same code, recorded in ``.perfbench/untraced/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import tigerbeetle_cdc_nats_spark  # noqa: E402,F401  (fail fast without it)

from tracing import (  # noqa: E402
    ProgressLog,
    RssSampler,
    Tracer,
    alive,
    cpu_ticks,
    descendants,
    median,
    percentile,
)

WORKLOADS = ("cdc_drain", "cdc_tail")
END_TO_END = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "batch_p50_ms": "ms",
    "commit_lag_p50_ms": "ms",
}
#: Span name(s) whose self time each ``self.*`` metric sums.
SELF_TIME = {
    "self.session_s": ("session.start",),
    "self.lock_s": ("lock.acquire",),
    "self.query_lifecycle_s": ("drain", "tail"),
    "self.trigger_s": ("batch",),
    "self.scan_s": ("batch.latestOffset", "batch.getBatch"),
    "self.planning_s": ("batch.queryPlanning",),
    "self.add_batch_s": ("batch.addBatch",),
    "self.commit_s": ("batch.walCommit", "batch.commitOffsets"),
    "self.mix_warm_s": ("query.warm",),
    "self.mix_build_s": ("query.build",),
    "self.mix_exec_s": ("query.exec",),
    "self.prebuild_s": ("prebuild",),
}
MIX_MODULES = ("queries_cdc", "queries_similarity", "queries_corpus")
PER_LAYER = (
    ["session.start_s", "memory.peak_rss_mb",
     "prebuild.index_build_s", "prebuild.list_warm_s", "prebuild.memo_build_s",
     "scan.latest_offset_ms", "scan.get_batch_ms", "scan.source_files",
     "encode.rows_per_s", "encode.payload_bytes",
     "dedup.state_rows", "dedup.state_mb", "dedup.dropped_rows",
     "dedup.drop_ratio", "dedup.state_update_ms", "dedup.state_commit_ms",
     "sink.add_batch_ms", "sink.call_ms", "sink.jobs_per_batch",
     "sink.bytes_per_event",
     "batch.query_planning_ms", "batch.wal_commit_ms", "batch.rows",
     "batch.tasks", "batch.cpu_s", "batch.speedup_vs_1core",
     "nats_sink.msgs_per_s",
     "mix.build_jobs", "mix.jobs", "mix.stages", "mix.tasks", "mix.cpu_s",
     "mix.gc_s", "mix.input_mb", "mix.shuffle_read_mb",
     "mix.shuffle_write_mb", "mix.spill_mb"]
    + [f"{m}.{k}" for m in MIX_MODULES for k in ("build_s", "exec_s")]
    + ["tail.generator_late_ms", "tail.backlog_events"]
    + list(SELF_TIME)
    + [f"overhead.{k}" for k in END_TO_END]
)
#: Why a layer has no number on a workload (its value is reported as 0).
_MIX_ELSEWHERE = "the query-mix probe runs in the traced cdc_tail run"
BYPASSED = {
    "cdc_drain": {"prebuild.": _MIX_ELSEWHERE, "mix.": _MIX_ELSEWHERE,
                  "queries_": _MIX_ELSEWHERE, "self.mix_": _MIX_ELSEWHERE,
                  "self.prebuild_s": _MIX_ELSEWHERE,
                  "tail.": "closed loop: there is no feed generator"},
    "cdc_tail": {"batch.speedup_vs_1core": "measured on cdc_drain only"},
}


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"),
                         ("_mb", "MB"), ("_bytes", "B"), ("_per_event", "B"),
                         ("_ratio", "ratio"), ("_vs_1core", "x")):
        if name.endswith(suffix):
            return unit
    return "count"


def process_start_wall() -> float:
    """Wall-clock time at which this process started."""
    with open("/proc/self/stat", "rb") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(b")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


class Ctx:
    """State of one benchmark run, passed to the workload."""

    def __init__(self, args, run_dir: str, t_start: float):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.run_dir = run_dir
        self.t_start = t_start
        self.gen_s = 0.0
        self.cpus = len(os.sched_getaffinity(0))
        self.notes: dict = {}
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}",
                             self.trace)
        self.progress = ProgressLog()
        self.rss = RssSampler().start()
        self.spark = None
        self.session_s = 0.0
        self.peak_rss_mb = 0.0
        self.self_times: dict[str, float] = {}
        self._ticks0 = cpu_ticks()

    def start_session(self, cores: int):
        from tigerbeetle_cdc_nats_spark.session import get_spark

        os.environ["SPARK_GRAFT_CPUS"] = str(cores)
        with self.tracer.span("session.start"):
            t = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.workload}")
            if not self.session_s:
                self.session_s = time.perf_counter() - t
        self.progress.install(self.spark)
        return self.spark

    def restart_session(self, cores: int):
        """A new SparkContext with another core count, in the same JVM."""
        self.spark.stop()
        return self.start_session(cores)

    def setup_until(self, t_first_wall: float) -> float:
        """Process start to the first timed operation, minus the time spent
        generating inputs."""
        return t_first_wall - self.t_start - self.gen_s

    def mark_timed_end(self) -> None:
        self.peak_rss_mb = self.rss.peak_mb()
        self.self_times = self.tracer.self_times()
        steal, total = (b - a for a, b in zip(self._ticks0, cpu_ticks()))
        self.notes["host_steal_pct"] = round(100.0 * steal / total, 2)

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every process started under us, and
        wait until each has ended."""
        started = descendants(os.getpid())
        if self.spark is not None:
            from pyspark import SparkContext

            try:
                self.spark.stop()
            finally:
                gw = SparkContext._gateway
                proc = getattr(gw, "proc", None)
                if gw is not None:
                    gw.shutdown()
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
        self.rss.stop()
        deadline = time.monotonic() + 30
        while any(map(alive, started)) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in filter(alive, started):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def prepare_env(run_dir: str, trace: bool) -> None:
    """Point every temp and scratch location of Python, the JVM and Spark
    into this run's directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # re-read TMPDIR: the stored-index cache lives under it
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if trace:
        # keep every job and stage of the run in the status store
        confs.update({"spark.ui.retainedJobs": "100000",
                      "spark.ui.retainedStages": "100000"})
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    args.append(f"--driver-java-options -Djava.io.tmpdir={tmp}")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"


def end_to_end(res) -> dict[str, float]:
    return {
        "setup_s": res.setup_s,
        "events_per_s": res.events_per_s,
        "batch_p50_ms": median(res.batch_ms),
        "commit_lag_p50_ms": median(res.lag_ms),
    }


def summary(e2e: dict, res, peak_rss_mb: float) -> dict:
    """The end-to-end figures plus those too noisy to bound."""
    return {**e2e,
            "commit_lag_p95_ms": percentile(res.lag_ms, 95),
            "batch_ms": res.batch_ms,
            "lag_samples": len(res.lag_ms),
            "failed_frac": res.failed / res.attempted,
            "peak_rss_mb": peak_rss_mb}


def code_version() -> str:
    """Hash of the package and benchmark sources, so that tracing overhead
    is only ever taken against untraced runs of the same code."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "tigerbeetle_cdc_nats_spark"), HERE):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for f in sorted(files):
                if f.endswith((".py", ".json")):
                    path = os.path.join(dirpath, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def untraced_history(path: str, seed: int) -> list[dict]:
    """Earlier untraced runs recorded in ``path``: those of the same seed
    if there are any, else all (every seed's inputs have the same size)."""
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [r for r in runs if r["seed"] == seed] or runs


def per_layer(res, ctx, e2e: dict, history: list[dict]) -> tuple[dict, dict]:
    values = dict(res.layers)
    values["session.start_s"] = ctx.session_s
    values["memory.peak_rss_mb"] = ctx.peak_rss_mb
    # stream spans as of the end of the timed window (the single-core
    # probe drains again later); probe-only spans as of the end of the run
    self_times = {**ctx.tracer.self_times(), **ctx.self_times}
    for name, spans in SELF_TIME.items():
        values[name] = sum(self_times.get(s, 0.0) for s in spans)
    absent: dict[str, str] = {}
    if history:
        for k in END_TO_END:
            values[f"overhead.{k}"] = e2e[k] - median(h[k] for h in history)
    else:
        for k in END_TO_END:
            absent[f"overhead.{k}"] = ("no untraced run of this workload "
                                       "and code yet")
    for name in PER_LAYER:
        if name in values or name in absent:
            continue
        absent[name] = next((why for prefix, why in
                             BYPASSED[ctx.workload].items()
                             if name.startswith(prefix)), "not measured")
    return {n: float(values.get(n, 0.0)) for n in PER_LAYER}, absent


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC pipeline benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = process_start_wall()

    state = os.path.join(os.getcwd(), ".perfbench")
    os.makedirs(state, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-{args.seed}-",
                               dir=state)
    prepare_env(run_dir, bool(args.trace))
    ctx = Ctx(args, run_dir, t_start)
    try:
        from pipeline import run_drain, run_tail

        res = (run_drain if args.workload == "cdc_drain" else run_tail)(ctx)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        ctx.shutdown()
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(res)
    history_path = os.path.join(
        state, "untraced",
        f"{args.workload}-{args.seconds}s-{code_version()}.jsonl")
    line = {"workload": args.workload, "seed": args.seed,
            "summary": summary(e2e, res, ctx.peak_rss_mb),
            "notes": res.notes}
    if args.trace:
        metrics, absent = per_layer(
            res, ctx, e2e, untraced_history(history_path, args.seed))
        line["absent"] = absent
        ctx.tracer.write(os.path.join(
            state, "traces", f"{ctx.tracer.run_id}.json"))
    else:
        metrics = e2e
        os.makedirs(os.path.dirname(history_path), exist_ok=True)
        with open(history_path, "a", encoding="utf-8") as fh:
            fh.write(json.dumps({**e2e, "seed": args.seed}) + "\n")
    print(json.dumps(line))
    print(json.dumps({
        "correct": bool(res.correct), "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {n: {"value": v, "unit": END_TO_END.get(n) or unit_of(n)}
                    for n, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
