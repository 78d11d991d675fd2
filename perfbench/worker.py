"""One measured process: set up the session, run the workload's passes in
a closed loop (one query at a time), check every result against its
oracle, and write the raw measurements as JSON.

Started by run.py; not meant to be run by hand. Arguments:
``worker.py CONFIG.json RESULT.json``.
"""

from __future__ import annotations

import json
import os
import sys
import time
from contextlib import nullcontext


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:]]
    return fields[7], sum(fields)


def _steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    return (after[0] - before[0]) / max(after[1] - before[1], 1)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Checker:
    """Compares each collected result with the query's oracle frame, the
    same way the test suite does. A result identical to one already
    verified in this process is not compared again."""

    def __init__(self, oracle_paths: dict[str, str]):
        import pickle

        self.oracles = {}
        for name, path in oracle_paths.items():
            with open(path, "rb") as fh:
                self.oracles[name] = pickle.load(fh)
        self.verified: set[tuple[str, int]] = set()

    @staticmethod
    def to_pandas(df, rows):
        """``DataFrame.toPandas`` without Arrow, applied to rows already
        collected, so the timed action stays a single ``collect()``."""
        import pandas as pd
        from pyspark.sql.pandas.types import _create_converter_to_pandas

        schema = df.schema
        columns = [f.name for f in schema.fields]
        if not rows:
            return pd.DataFrame(columns=columns)
        pdf = pd.DataFrame.from_records(rows, index=range(len(rows)),
                                        columns=columns)
        tz = df.sparkSession._jconf.sessionLocalTimeZone()
        return pd.concat(
            [
                _create_converter_to_pandas(
                    f.dataType, f.nullable, timezone=tz, struct_in_pandas="row",
                    error_on_duplicated_field_names=False,
                    timestamp_utc_localized=False,
                )(ser)
                for (_, ser), f in zip(pdf.items(), schema.fields)
            ],
            axis="columns",
        )

    def check(self, name: str, df, rows) -> None:
        from tests.compare import assert_frames_match
        from tests.test_correctness import REL_TOL

        key = (name, hash(tuple(sorted(map(repr, rows)))))
        if key in self.verified:
            return
        assert_frames_match(self.to_pandas(df, rows), self.oracles[name],
                            name, float_rel_tol=REL_TOL.get(name, 0.0))
        self.verified.add(key)


def main(config_path: str, result_path: str) -> None:
    with open(config_path) as fh:
        cfg = json.load(fh)
    sys.path.insert(0, cfg["root"])

    from flink_spark.queries.registry import QUERIES
    from flink_spark.session import get_spark

    # set-up: process start (timed by run.py) until the session is ready
    spark = get_spark("perfbench", cpus=cfg["cpus"])
    result = {"setup_s": time.time() - cfg["t_spawn"]}

    import flink_spark.streaming.core as core
    import flink_spark.streaming.idleness as idleness
    from perfbench.workloads import needs_extra_pass, query_order, timed_passes

    # The program keeps its stream-source copies under a fixed /tmp root;
    # point it into the work directory so the run writes only there.
    core._STREAM_DIR_ROOT = idleness._STREAM_DIR_ROOT = cfg["stream_root"]

    tracer = None
    if cfg["trace"]:
        from perfbench.tracing import Tracer

        tracer = Tracer(spark, cfg["cpus"])
        tracer.install()
    checker = Checker(cfg["oracles"])
    names, data = cfg["queries"], cfg["data_dir"]
    failures, attempted, passes = [], 0, []

    def span(kind: str, name: str, pass_no: int):
        return tracer.span(kind, name, pass_no) if tracer else nullcontext()

    def run_query(name: str, pass_no: int) -> float:
        nonlocal attempted
        attempted += 1
        t0 = time.perf_counter()
        try:
            with span("query", name, pass_no):
                with span("construct", name, pass_no):
                    df = QUERIES[name].fn(spark, data)
                if tracer:
                    with span("plan", name, pass_no):
                        df._jdf.queryExecution().executedPlan()
                with span("collect", name, pass_no):
                    rows = df.collect()
        except Exception as e:  # a failing query is counted, never skipped
            failures.append({"query": name, "pass": pass_no,
                             "error": f"{type(e).__name__}: {e}"[:500]})
            return time.perf_counter() - t0
        elapsed = time.perf_counter() - t0
        try:
            checker.check(name, df, rows)
        except Exception as e:
            failures.append({"query": name, "pass": pass_no,
                             "error": f"oracle mismatch: {e}"[:500]})
        return elapsed

    def run_pass(pass_no: int) -> None:
        with span("pass", str(pass_no), pass_no):
            per = {}
            j0, t0 = _cpu_jiffies(), time.perf_counter()
            for name in query_order(names, cfg["seed"], pass_no):
                per[name] = run_query(name, pass_no)
            passes.append({"s": time.perf_counter() - t0, "queries": per,
                           "steal": _steal_share(j0, _cpu_jiffies())})

    n_timed = cfg["timed"]
    with span("run", cfg["workload"], -1):
        run_pass(0)
        while n_timed and (len(passes) <= n_timed
                           or needs_extra_pass(passes, n_timed)):
            run_pass(len(passes))
    timed = timed_passes(passes, n_timed)

    jvm = spark.sparkContext._gateway.proc.pid
    result.update({
        "passes": passes,
        "attempted": attempted,
        "failures": failures,
        "peak_rss_mb": (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm)) / 1024,
        "peak_rss_jvm_mb": _vm_hwm_kb(jvm) / 1024,
        "record": _record(spark, cfg),
        "timed": timed,
    })
    if tracer is not None:
        tracer.wait_for_drains()
    log_dir = cfg.get("eventlog_dir")
    spark.stop()
    if tracer is not None:
        from perfbench.tracing import analyze

        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        metrics, spans = analyze(tracer, max(logs, key=os.path.getmtime),
                                 timed)
        result["layers"] = metrics
        with open(cfg["spans_path"], "w") as fh:
            json.dump(spans, fh)
    _write(result_path, result)


def _record(spark, cfg) -> dict:
    import platform

    sc = spark.sparkContext
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": sc.master,
        "defaultParallelism": sc.defaultParallelism,
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "data_dir": cfg["data_dir"],
        "seed": cfg["seed"],
        "git_commit": cfg["git_commit"],
        "source_sha256": cfg["source_sha256"],
        "driver_mem": os.environ.get("SPARK_GRAFT_DRIVER_MEM"),
    }


def _write(path: str, obj: dict) -> None:
    with open(path + ".part", "w") as fh:
        json.dump(obj, fh)
    os.replace(path + ".part", path)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
