#!/usr/bin/env python
"""Process starts per micro-batch of the CDC pipeline's streaming branch.

Without Hadoop's native library (``libhadoop``), its local filesystem
starts a process for some calls: ``readlink`` for a FileContext rename,
``chmod`` for every file it creates and every directory it makes. Each
start costs milliseconds on the commit path of every micro-batch. The
pipeline avoids both: it commits checkpoints by FileSystem rename
(``streaming/pipeline.build_query``), and ``session.get_spark`` resolves
``file:`` to ``session.LOCAL_FS_CLASS``, which sets modes through
java.nio. So a micro-batch should start no process; this script checks
that by counting them. It runs the CLI's streaming branch (``run_cli``
without ``--once``) over a tail-shaped feed, one 250-event file every
0.25 s after 10 files present at the start, under a JFR recording of
the driver JVM (``-XX:StartFlightRecording``). It stops the query once
``--batches`` micro-batches have run after the first one, reads the
recording's ``jdk.ProcessStart`` events with the JDK's ``jfr`` tool,
keeps those between the end of the first micro-batch and the end of the
last, and prints the process starts per micro-batch by command and by
thread. The last line is the same figures as one JSON object.

Usage:
    python scripts/fork_count.py [--batches 40] [--cores 3] [--keep]

Needs the ``jfr`` tool of a JDK 17+ on PATH. All state lives in a fresh
temporary directory, removed at the end unless ``--keep`` is given.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from datetime import datetime

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE_TS = 1_704_067_200_000_000_000
ROWS_PER_FILE = 250
TICK_S = 0.25
WARM_FILES = 10


def write_file(directory: str, index: int) -> None:
    """One ts-sorted 250-event file; event time advances 1 ms per event."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = range(index * ROWS_PER_FILE, (index + 1) * ROWS_PER_FILE)
    table = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array([BASE_TS + i * 1_000_000 for i in ids], pa.int64()),
        "user_id": pa.array([i % 97 for i in ids], pa.int64()),
        "event_type": ["purchase"] * ROWS_PER_FILE,
        "value": pa.array([float(i % 1000) for i in ids], pa.float64()),
        "props": ['{"k": 1}'] * ROWS_PER_FILE,
    })
    name = f"events-{index:06d}.parquet"
    # write under a hidden name, then rename: the source never lists a
    # half-written file
    pq.write_table(table, os.path.join(directory, f".{name}"))
    os.rename(os.path.join(directory, f".{name}"),
              os.path.join(directory, name))


def parse_time(text: str) -> float:
    """Epoch seconds of an ISO-8601 timestamp with an offset or ``Z``; JFR
    prints nanoseconds, so the fraction is cut to microseconds."""
    text = re.sub(r"(\.\d{6})\d+", r"\1", text).replace("Z", "+00:00")
    return datetime.fromisoformat(text).timestamp()


def thread_kind(name: str) -> str:
    """A thread name without its ids: ``Executor task launch worker for
    task 3.0 in stage 7.0 (TID 21)`` -> ``Executor task launch worker``."""
    name = re.sub(r"\s+(for|\[|\().*$", "", name)
    return re.sub(r"[-#]?\d+", "", name).strip() or "?"


def executed_batches(query) -> list[tuple[int, float]]:
    """(batchId, end time) of every micro-batch the query ran; an idle
    trigger's progress carries no ``addBatch``."""
    out = {}
    for p in query.recentProgress:
        if "addBatch" in p.get("durationMs", {}):
            out[p["batchId"]] = (parse_time(p["timestamp"])
                                 + p["durationMs"]["triggerExecution"] / 1e3)
    return sorted(out.items())


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--batches", type=int, default=40,
                    help="micro-batches to count after the first one")
    ap.add_argument("--cores", type=int, default=3)
    ap.add_argument("--timeout", type=float, default=300.0)
    ap.add_argument("--keep", action="store_true",
                    help="keep the temporary directory and the recording")
    args = ap.parse_args()
    if shutil.which("jfr") is None:
        print("error: the JDK 'jfr' tool is not on PATH", file=sys.stderr)
        return 2

    root = tempfile.mkdtemp(prefix="fork_count-")
    try:
        return run(args, root)
    finally:
        if args.keep:
            print(f"kept: {root}")
        else:
            shutil.rmtree(root, ignore_errors=True)


def run(args: argparse.Namespace, root: str) -> int:
    """Run, record and count inside ``root``; returns the exit code."""
    dirs = {d: os.path.join(root, d) for d in ("source", "sink", "chk",
                                               "cursor")}
    os.makedirs(dirs["source"])
    recording = os.path.join(root, "driver.jfr")
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        "-XX:StartFlightRecording=settings=default"
        " pyspark-shell")
    for i in range(WARM_FILES):
        write_file(dirs["source"], i)

    from pyspark.sql import SparkSession

    from tigerbeetle_cdc_nats_spark.cli import run_cli

    state: dict = {"query": None, "error": None}
    done = threading.Event()

    def feed_and_stop() -> None:
        """Feed one file per tick; stop the query after enough batches."""
        try:
            deadline = time.monotonic() + args.timeout
            while state["query"] is None:
                try:
                    active = SparkSession.active().streams.active
                except Exception:
                    active = []
                if active:
                    state["query"] = active[0]
                elif time.monotonic() > deadline:
                    raise TimeoutError("no streaming query started")
                else:
                    time.sleep(0.1)
            q, index = state["query"], WARM_FILES
            while (len(executed_batches(q)) <= args.batches
                   and time.monotonic() < deadline and q.isActive):
                time.sleep(TICK_S)
                write_file(dirs["source"], index)
                index += 1
            q.stop()
        except Exception as e:  # reported by the main thread
            state["error"] = e
        finally:
            done.set()

    threading.Thread(target=feed_and_stop, daemon=True).start()
    code = run_cli(["--cluster-id", "1", "--source-dir", dirs["source"],
                    "--sink-dir", dirs["sink"],
                    "--checkpoint-dir", dirs["chk"],
                    "--cursor-dir", dirs["cursor"]])
    done.wait(60.0)
    spark = SparkSession.active()
    jvm = spark._jvm
    for rec in jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings():
        rec.dump(jvm.java.io.File(recording).toPath())
    spark.stop()
    if code != 0 or state["error"] is not None or state["query"] is None:
        print(f"error: run_cli exited {code}; {state['error']}",
              file=sys.stderr)
        return 1

    batches = executed_batches(state["query"])[:args.batches + 1]
    if len(batches) < 2:
        print("error: fewer than two micro-batches ran", file=sys.stderr)
        return 1
    t0, t1 = batches[0][1], batches[-1][1]
    n = len(batches) - 1
    printed = subprocess.run(
        ["jfr", "print", "--json", "--events", "jdk.ProcessStart", recording],
        check=True, capture_output=True, text=True).stdout
    events = [e["values"] for e in json.loads(printed)["recording"]["events"]]
    window = [e for e in events if t0 < parse_time(e["startTime"]) <= t1]
    by_command = collections.Counter(
        os.path.basename(e["command"].split()[0]) if e["command"] else "?"
        for e in window)
    by_thread = collections.Counter(
        thread_kind((e.get("eventThread") or {}).get("javaName") or "?")
        for e in window)
    per = max(n, 1)
    print(f"micro-batches counted: {n} (batch ids {batches[1][0]}.."
          f"{batches[-1][0]}) over {t1 - t0:.1f} s; process starts: "
          f"{len(window)} ({len(window) / per:.1f} per batch); "
          f"whole recording: {len(events)}")
    print("per batch, by command:")
    for cmd, c in by_command.most_common():
        print(f"  {c / per:8.2f}  {cmd}")
    print("per batch, by thread:")
    for name, c in by_thread.most_common():
        print(f"  {c / per:8.2f}  {name}")
    print(json.dumps({
        "batches": n, "seconds": round(t1 - t0, 3),
        "starts_per_batch": round(len(window) / per, 2),
        "by_command": {k: round(v / per, 2) for k, v in by_command.items()},
        "by_thread": {k: round(v / per, 2) for k, v in by_thread.items()},
    }, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
