"""Measurement plumbing kept outside the package under test.

- ``Tracer``: spans (name, start, end, parent, run id) held in memory and
  written out once at the end, plus per-layer self time.
- ``ProgressLog``: every ``StreamingQueryProgress``, collected through a
  ``StreamingQueryListener``.
- ``RssSampler``: peak resident set size of this process and all of its
  descendants (the JVM dominates), sampled from ``/proc``.
- ``harvest_jobs``: per-job-group job/stage/task totals read from the JVM
  status store, which is live with the UI off.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    span_id: int
    name: str
    start: float          # wall seconds (time.time scale)
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder. A disabled tracer records nothing, so the
    untraced runs pay only the ``with`` statement."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 1

    def _new(self, name: str, start: float, end: float,
             parent: int | None, attrs: dict) -> Span:
        s = Span(self._next, name, start, end, parent, self.run_id, attrs)
        self._next += 1
        self.spans.append(s)
        return s

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = self._new(name, time.time(), 0.0, parent, attrs)
        self._stack.append(s.span_id)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()

    def add(self, name: str, start: float, end: float,
            parent: int | None, **attrs) -> Span | None:
        """Record a span whose interval was observed elsewhere (a
        micro-batch phase reported in streaming progress)."""
        if not self.enabled:
            return None
        return self._new(name, start, end, parent, attrs)

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the part of each span's interval
        that its child spans cover."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = _union_len([(max(c.start, s.start), min(c.end, s.end))
                                  for c in children[s.span_id]])
            out[s.name] += max(0.0, (s.end - s.start) - covered)
        return dict(out)

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            json.dump([s.__dict__ for s in self.spans], fh)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# streaming progress
# ---------------------------------------------------------------------------

#: Order of the phases inside one trigger (MicroBatchExecution), used to lay
#: the reported phase durations out as consecutive child spans.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
          "addBatch", "commitOffsets")


def progress_end(p: dict) -> float:
    """Wall time at which a micro-batch's trigger finished."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    start = start.replace(tzinfo=timezone.utc).timestamp()
    return start + p["durationMs"].get("triggerExecution", 0) / 1000.0


class ProgressLog:
    """Collects progress events for every query of the session."""

    def __init__(self):
        self.events: list[dict] = []
        self.terminated: list[str] = []  # run ids, in termination order
        self._cond = threading.Condition()

    def install(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        log = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with log._cond:
                    log.events.append(json.loads(event.progress.json))
                    log._cond.notify_all()

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                # posted after the query's last progress event
                with log._cond:
                    log.terminated.append(str(event.runId))
                    log._cond.notify_all()

        spark.streams.addListener(_Listener())

    def for_run(self, run_id: str) -> list[dict]:
        with self._cond:
            return sorted((p for p in self.events if p["runId"] == run_id),
                          key=lambda p: p["batchId"])

    def rows_done(self, run_id: str, by: float = float("inf")) -> int:
        """Input rows of ``run_id``'s batches that finished by ``by``."""
        with self._cond:
            return sum(p["numInputRows"] for p in self.events
                       if p["runId"] == run_id and progress_end(p) <= by)

    def wait_for(self, pred, timeout_s: float) -> bool:
        """Block until ``pred()`` holds or the timeout passes."""
        deadline = time.monotonic() + timeout_s
        with self._cond:
            while not pred():
                left = deadline - time.monotonic()
                if left <= 0:
                    return False
                self._cond.wait(min(left, 0.5))
            return True

    def wait_terminated(self, known: int, timeout_s: float) -> str:
        """Run id of the first query to terminate after ``known``
        terminations had been seen."""
        if not self.wait_for(lambda: len(self.terminated) > known, timeout_s):
            raise RuntimeError("no query termination event arrived")
        return self.terminated[known]


def data_batches(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def add_batch_spans(tracer: Tracer, progress: list[dict],
                    parent: int | None) -> None:
    """One span per micro-batch, with its phases as consecutive children."""
    for p in progress:
        end = progress_end(p)
        total = p["durationMs"].get("triggerExecution", 0) / 1000.0
        b = tracer.add("batch", end - total, end, parent,
                       batch_id=p["batchId"], rows=p.get("numInputRows", 0))
        if b is None:
            return
        t = b.start
        for phase in PHASES:
            d = p["durationMs"].get(phase, 0) / 1000.0
            tracer.add(f"batch.{phase}", t, t + d, b.span_id)
            t += d


# ---------------------------------------------------------------------------
# processes and memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm", "rb") as fh:
                resident = int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue  # exited while we looked
        # the command name may hold spaces; ppid is the 2nd field after ')'
        out[int(name)] = (int(stat[stat.rindex(b")") + 2:].split()[1]),
                          resident)
    return out


def descendants(root: int, procs=None) -> list[int]:
    """Pids of every live descendant of ``root``."""
    procs = _processes() if procs is None else procs
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _) in procs.items():
        kids[ppid].append(pid)
    out, todo = [], [root]
    while todo:
        for child in kids.get(todo.pop(), ()):
            out.append(child)
            todo.append(child)
    return out


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole machine since boot. Steal is
    time the hypervisor ran someone else on our CPUs: a run with a high
    share of it was slowed from outside."""
    with open("/proc/stat", "rb") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def _tree_rss_bytes(root: int) -> int:
    procs = _processes()
    return sum(procs.get(pid, (0, 0))[1]
               for pid in [root, *descendants(root, procs)])


class RssSampler:
    """Background sampler of the process tree's peak RSS."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True,
                                        name="rss-sampler")

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(me))
            self._stop.wait(self.interval_s)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def peak_mb(self) -> float:
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return self.peak / 2**20

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)


# ---------------------------------------------------------------------------
# JVM status store
# ---------------------------------------------------------------------------

@dataclass
class JobTotals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    input_b: int = 0
    shuffle_read_b: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    batches: dict[int, int] = field(default_factory=dict)  # batch id -> jobs


def _opt(o):
    return o.get() if o.isDefined() else None


def harvest_jobs(spark, group_of) -> dict[str, JobTotals]:
    """Totals per key, where ``group_of(job_group, description)`` maps a
    job to a key (or None to skip it). Streaming jobs carry the query's
    run id as their group and ``batch = N`` in their description."""
    sc = spark.sparkContext
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    jobs = store.jobsList(None)
    stage_key: dict[int, str] = {}
    out: dict[str, JobTotals] = defaultdict(JobTotals)
    for i in range(jobs.length()):
        j = jobs.apply(i)
        group, desc = _opt(j.jobGroup()), _opt(j.description())
        key = group_of(group, desc)
        if key is None:
            continue
        t = out[key]
        t.jobs += 1
        if desc and "batch = " in desc:
            b = int(desc.rsplit("batch = ", 1)[1].split()[0])
            t.batches[b] = t.batches.get(b, 0) + 1
        ids = j.stageIds()
        for k in range(ids.length()):
            stage_key[int(ids.apply(k))] = key
    stages = store.stageList(jvm.java.util.ArrayList(), False, False,
                             sc._gateway.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    for i in range(stages.length()):
        s = stages.apply(i)
        key = stage_key.get(int(s.stageId()))
        if key is None:
            continue
        t = out[key]
        t.stages += 1
        t.tasks += int(s.numTasks())
        t.cpu_s += s.executorCpuTime() / 1e9
        t.gc_s += s.jvmGcTime() / 1e3
        t.input_b += int(s.inputBytes())
        t.shuffle_read_b += int(s.shuffleReadBytes())
        t.shuffle_write_b += int(s.shuffleWriteBytes())
        t.spill_b += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
    return dict(out)


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def percentile(xs, q: int) -> float:
    """q-th percentile (1..99), interpolated between samples."""
    xs = list(xs)
    if len(xs) < 2:
        return float(xs[0]) if xs else 0.0
    return float(statistics.quantiles(xs, n=100, method="inclusive")[q - 1])
