"""Count the child processes the driver JVM forks, and the broadcasts it
makes, while a query runs.

Runs QUERY once to warm up, then ``--runs`` more times, in one
``local[4]`` session whose JVM keeps a JFR recording
(``-XX:StartFlightRecording``). For every warm run it prints the
``jdk.ProcessStart`` events, grouped by command and by the first Spark
frame on the forking thread's stack. On a host without libhadoop,
Hadoop's local file system forks a ``readlink`` or ``chmod`` for some
file operations; this is how such forks show up.

It also prints each warm run's number of broadcasts: the difference of
the broadcast manager's next broadcast id before and after the run. A
stream-stream join broadcasts the session's Hadoop conf once per copy of
its node, which is how that cost shows up.

Usage:
    SPARK_GRAFT_SF_DIR=DIR python tools/spawn_audit.py QUERY [--runs N]
    python tools/spawn_audit.py QUERY --sf DIR [--runs N]
"""

from __future__ import annotations

import argparse
import collections
import datetime as dt
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

_RECORDING = "spawn_audit"


def _epoch(stamp: str) -> float:
    return dt.datetime.fromisoformat(stamp.replace("Z", "+00:00")).timestamp()


def _first_spark_frame(event: dict) -> str:
    frames = (event.get("stackTrace") or {}).get("frames") or []
    for f in frames:
        cls = f["method"]["type"]["name"].replace("/", ".")
        if cls.startswith("org.apache.spark."):
            return f"{cls}.{f['method']['name']}"
    return "(no Spark frame)"


def _process_starts(jfr_file: str) -> list[dict]:
    jfr = shutil.which("jfr") or os.path.join(
        os.environ.get("JAVA_HOME", ""), "bin", "jfr")
    out = subprocess.run(
        [jfr, "print", "--json", "--stack-depth", "128",
         "--events", "jdk.ProcessStart", jfr_file],
        check=True, capture_output=True, text=True,
    ).stdout
    return [e["values"] for e in json.loads(out)["recording"]["events"]]


def _next_broadcast_id(jvm) -> int:
    """The driver's next broadcast id: ``SparkEnv.broadcastManager``'s
    private ``nextBroadcastId`` counter (an ``AtomicLong``, which py4j
    hands over as a Python int), read by reflection."""
    manager = jvm.org.apache.spark.SparkEnv.get().broadcastManager()
    field = manager.getClass().getDeclaredField("nextBroadcastId")
    field.setAccessible(True)
    return int(field.get(manager))


def _print_counts(title: str, counts: collections.Counter) -> None:
    print(f"  by {title}:")
    for key, n in counts.most_common():
        print(f"    {n:6d}  {key}")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("query")
    ap.add_argument("--runs", type=int, default=2,
                    help="warm runs to record (default 2)")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"),
                    help="data directory (default $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    if not args.sf:
        ap.error("pass --sf DIR or set SPARK_GRAFT_SF_DIR")

    # the recording must be on from JVM start: set before get_spark
    # launches the JVM
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--driver-java-options "
        f"'-XX:StartFlightRecording=name={_RECORDING},settings=default "
        "-XX:FlightRecorderOptions=stackdepth=128 -Xlog:jfr+startup=off' "
        "pyspark-shell"
    )
    from flink_spark.queries.registry import QUERIES
    from flink_spark.session import get_spark

    fn = QUERIES[args.query].fn
    spark = get_spark("flink_spark-spawn-audit", cpus=4)
    spark.sparkContext.setLogLevel("ERROR")
    jvm = spark.sparkContext._jvm
    fn(spark, args.sf).collect()  # warm-up, not reported
    windows, broadcasts = [], []
    for _ in range(args.runs):
        b0, t0 = _next_broadcast_id(jvm), time.time()
        fn(spark, args.sf).collect()
        windows.append((t0, time.time()))
        broadcasts.append(_next_broadcast_id(jvm) - b0)

    tmp = tempfile.mkdtemp(prefix="spawn_audit_")
    try:
        dump = os.path.join(tmp, "run.jfr")
        recs = jvm.jdk.jfr.FlightRecorder.getFlightRecorder().getRecordings()
        (rec,) = [r for r in recs if r.getName() == _RECORDING]
        rec.dump(jvm.java.io.File(dump).toPath())
        events = _process_starts(dump)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()

    print(f"{args.query}: {args.runs} warm runs, local[4], {args.sf}")
    for i, ((t0, t1), n_bc) in enumerate(zip(windows, broadcasts), 1):
        run = [e for e in events if t0 <= _epoch(e["startTime"]) <= t1]
        print(f"run {i}: {len(run)} forks, {n_bc} broadcasts "
              f"in {t1 - t0:.2f} s")
        _print_counts("command", collections.Counter(
            os.path.basename(e["command"].split()[0]) if e["command"]
            else "?" for e in run))
        _print_counts("first Spark frame", collections.Counter(
            _first_spark_frame(e) for e in run))


if __name__ == "__main__":
    main()
