"""flink_spark benchmark: one command runs a named workload and prints its
metrics by name and unit; the last stdout line is one JSON object.

    python3 perfbench/run.py --workload stream_drain --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload llm_pipeline --trace 1   # per-layer run
    python3 perfbench/run.py --smoke                             # self-test

Each run starts a fresh process at ``local[nproc]`` that sets up, runs a
cold first pass and then a fixed number of timed passes (``--seconds``
over the workload's nominal pass time, at least three). The load is a
closed loop with one client: one query at a time, each ``fn(spark, dir)``
then ``collect()``, checked against the query's DuckDB oracle. ``--trace 1`` adds a streaming
listener, the Spark event log and py4j/storeutil wrappers and reports the
per-layer metrics instead; ``--trace 0`` installs none of them.

Everything the benchmark writes goes to ``.perfbench_work/`` in the
checkout: the multi-file layout, the oracle frames, the program's stream
source copies and checkpoints, Spark's scratch, logs and span files.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shlex
import signal
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import tracing as trace_mod  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    DATA_ROOT, DEFAULT_SF, SMOKE_SF, WORKLOADS, build_oracles, query_dir,
    timed_count,
)

WORK = os.path.join(ROOT, ".perfbench_work")
PROGRAM_FILES = ["flink_spark/session.py", "flink_spark/queries/registry.py",
                 "tests/compare.py", "tests/test_correctness.py"]
END_TO_END = {"setup_s": "s", "first_pass_s": "s", "pass_s": "s",
              "query_geomean_s": "s", "peak_rss_mb": "MB"}
# The driver heap is fixed (-Xms = -Xmx) so that G1's heap resizing, which
# differs from run to run, does not add noise to peak_rss_mb; the
# program's 48g default does not fit a small box.
DRIVER_MEM = "2g"
RUN_BUDGET_S = 170         # every child is killed before the run exceeds this


class BenchError(Exception):
    pass


def _log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _source_digest() -> str:
    h = hashlib.sha256()
    for base in ("flink_spark", "tests"):
        for dirpath, dirnames, files in os.walk(os.path.join(ROOT, base)):
            dirnames.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def _git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def _procs_tagged(tag: str) -> list[int]:
    """Pids of live processes started by this run (they inherit its tag)."""
    pids = []
    needle = f"PERFBENCH_RUN={tag}".encode()
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as fh:
                if needle in fh.read().split(b"\0"):
                    pids.append(int(d))
        except OSError:
            continue
    return pids


class Runner:
    """Starts measured processes for one benchmark invocation and makes
    sure every process they start has ended before it returns."""

    def __init__(self, cpus: int, deadline: float):
        self.cpus = cpus
        self.deadline = deadline
        self.tag = uuid.uuid4().hex
        self.tmp = os.path.join(WORK, "tmp")
        self.cwd = os.path.join(WORK, "cwd")
        for d in (self.tmp, self.cwd, os.path.join(WORK, "logs")):
            os.makedirs(d, exist_ok=True)
        self.git_commit = _git_commit()
        self.source_sha256 = _source_digest()

    def _env(self, eventlog_dir: str | None) -> dict:
        env = dict(os.environ)
        submit = ["--conf", f"spark.local.dir={self.tmp}",
                  "--driver-java-options",
                  f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                  f"-Xms{DRIVER_MEM}"]
        if eventlog_dir:
            submit += trace_mod.eventlog_conf(eventlog_dir)
        env.update({
            "PERFBENCH_RUN": self.tag,
            "TMPDIR": self.tmp,
            "SPARK_GRAFT_CKPT_ROOT": self.tmp,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        })
        return env

    def child(self, cfg: dict, label: str) -> dict:
        """Run worker.py with ``cfg``; return its result."""
        run_dir = os.path.join(WORK, "runs", self.tag)
        os.makedirs(run_dir, exist_ok=True)
        cfg_path = os.path.join(run_dir, f"{label}.config.json")
        res_path = os.path.join(run_dir, f"{label}.result.json")
        log_path = os.path.join(WORK, "logs", f"{label}.log")
        eventlog_dir = None
        if cfg.get("trace"):
            eventlog_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(eventlog_dir, exist_ok=True)
        cfg = dict(cfg, root=ROOT, cpus=self.cpus, git_commit=self.git_commit,
                   source_sha256=self.source_sha256,
                   stream_root=os.path.join(WORK, "stream_src"),
                   eventlog_dir=eventlog_dir,
                   spans_path=os.path.join(WORK, f"spans_{label}.json"))
        timeout = self.deadline - time.time()
        if timeout < 5:
            raise BenchError(f"no time left to start {label}")
        with open(log_path, "w") as log:
            cfg["t_spawn"] = time.time()
            with open(cfg_path, "w") as fh:
                json.dump(cfg, fh)
            proc = subprocess.Popen(
                [sys.executable, os.path.join(HERE, "worker.py"), cfg_path,
                 res_path],
                cwd=self.cwd, env=self._env(eventlog_dir), stdout=log,
                stderr=subprocess.STDOUT, start_new_session=True,
            )
            try:
                rc = proc.wait(timeout=timeout)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                rc = None
            finally:
                self.reap()
        if rc != 0 or not os.path.exists(res_path):
            with open(log_path) as fh:
                tail = fh.read()[-3000:]
            raise BenchError(f"{label} exited with {rc}; log tail:\n{tail}")
        with open(res_path) as fh:
            return json.load(fh)

    def reap(self, grace: float = 30.0) -> None:
        """Wait for every process this run started (the JVM and Python
        workers outlive the worker by a moment); kill what remains."""
        end = time.time() + grace
        while time.time() < end:
            if not _procs_tagged(self.tag):
                return
            time.sleep(0.1)
        for pid in _procs_tagged(self.tag):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while _procs_tagged(self.tag) and time.time() < end + 10:
            time.sleep(0.1)


def _marker(workload: str, sf_dir: str) -> str:
    return os.path.join(WORK, "prepared",
                        f"{workload}_{os.path.basename(sf_dir)}")


def prepare(workload: str, sf_dir: str, runner: Runner) -> tuple[str, dict]:
    """Inputs built once per checkout, outside every timed run: the data
    layout, the oracle frames and the program's on-disk stream-source
    caches (built by running each query once in a throwaway process)."""
    names = WORKLOADS[workload]["queries"]
    data = query_dir(workload, sf_dir, WORK)
    oracles = build_oracles(names, sf_dir, WORK)
    marker = _marker(workload, sf_dir)
    if not os.path.exists(marker):
        runner.child(_measure_cfg(workload, data, oracles, 0, False, 0),
                     f"prepare_{workload}")
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        with open(marker, "w") as fh:
            fh.write("ok")
    return data, oracles


def _measure_cfg(workload, data, oracles, seed, trace, timed):
    return {"workload": workload,
            "queries": WORKLOADS[workload]["queries"], "data_dir": data,
            "oracles": oracles, "seed": seed, "trace": bool(trace),
            "timed": timed}


def _quartiles(vals: list[float]) -> tuple[float, float]:
    if len(vals) < 2:
        return vals[0], vals[0]
    q = statistics.quantiles(vals, n=4)
    return q[0], q[2]


def summarize(res: dict) -> dict:
    """End-to-end metrics of one measured process."""
    passes = res["passes"]
    timed = [passes[i] for i in res["timed"]]
    per_query: dict[str, list[float]] = {}
    for p in timed:
        for name, s in p["queries"].items():
            per_query.setdefault(name, []).append(s)
    geo = math.exp(statistics.fmean(
        math.log(max(statistics.median(v), 1e-6)) for v in per_query.values()))
    timed_s = [p["s"] for p in timed]
    q1, q3 = _quartiles(timed_s)
    return {
        "setup_s": res["setup_s"],
        "first_pass_s": passes[0]["s"],
        "pass_s": statistics.median(timed_s),
        "pass_s_q1": q1,
        "pass_s_q3": q3,
        "timed_passes": len(timed),
        "passes_run": len(passes),
        "steal_max": max(p["steal"] for p in timed),
        "query_geomean_s": geo,
        "failed_frac": len(res["failures"]) / res["attempted"],
        "peak_rss_mb": res["peak_rss_mb"],
        "query_median_s": {k: statistics.median(v) for k, v in per_query.items()},
    }


def _untraced_path(workload: str, sf_dir: str, cpus: int) -> str:
    return os.path.join(WORK, "untraced",
                        f"{workload}_{os.path.basename(sf_dir)}_{cpus}.json")


def run_workload(workload: str, seed: int, timed: int, trace: bool,
                 sf_dir: str, runner: Runner) -> dict:
    """Measure a cold first pass and ``timed`` timed passes in a fresh
    process (``timed`` 0: the first pass only)."""
    data, oracles = prepare(workload, sf_dir, runner)
    cfg = _measure_cfg(workload, data, oracles, seed, trace, timed)
    label = f"{workload}_{'traced' if trace else 'untraced'}"
    res = runner.child(cfg, label)
    out = {"result": res, "summary": summarize(res),
           "spans": os.path.join(WORK, f"spans_{label}.json") if trace else None}
    # trace.overhead_ratio compares with the median pass_s of the last ten
    # untraced runs of the workload in this checkout
    upath = _untraced_path(workload, sf_dir, runner.cpus)
    if not trace:
        history = []
        if os.path.exists(upath):
            with open(upath) as fh:
                history = json.load(fh)["pass_s"]
        os.makedirs(os.path.dirname(upath), exist_ok=True)
        with open(upath, "w") as fh:
            json.dump({"pass_s": (history + [out["summary"]["pass_s"]])[-10:]},
                      fh)
    else:
        if not os.path.exists(upath):
            run_workload(workload, seed, timed, False, sf_dir, runner)
        with open(upath) as fh:
            untraced = statistics.median(json.load(fh)["pass_s"])
        res["layers"]["trace.overhead_ratio"] = (
            out["summary"]["pass_s"] / untraced)
    return out


def report(workload: str, out: dict, trace: bool) -> dict:
    """Print the run record and every metric by name and unit (stdout);
    return the metrics of the final JSON line."""
    res, s = out["result"], out["summary"]
    print("run record: " + json.dumps(res["record"], sort_keys=True))
    print(f"workload {workload}: queries {WORKLOADS[workload]['queries']}")
    print(f"  {'setup_s':18} {s['setup_s']:10.4f} s")
    print(f"  {'first_pass_s':18} {s['first_pass_s']:10.4f} s")
    print(f"  {'pass_s':18} {s['pass_s']:10.4f} s   quartiles "
          f"{s['pass_s_q1']:.4f} / {s['pass_s_q3']:.4f}, "
          f"{s['timed_passes']} timed passes")
    print(f"  {'query_geomean_s':18} {s['query_geomean_s']:10.4f} s")
    print(f"  {'failed_frac':18} {s['failed_frac']:10.4f} ratio   "
          f"({len(res['failures'])} of {res['attempted']} executions)")
    print(f"  {'peak_rss_mb':18} {s['peak_rss_mb']:10.1f} MB   "
          f"(JVM {res['peak_rss_jvm_mb']:.1f} MB)")
    print(f"  {'cpu steal':18} {s['steal_max']:10.1%}   (most taken by other "
          f"guests in a timed pass; {s['passes_run']} passes run)")
    for name, sec in sorted(s["query_median_s"].items()):
        print(f"    {name:44} {sec:8.4f} s")
    for f in res["failures"]:
        print(f"  FAILED {f['query']} (pass {f['pass']}): {f['error']}")
    if not trace:
        return {k: {"value": s[k], "unit": u} for k, u in END_TO_END.items()}
    layers = res["layers"]
    for name, unit, _ in trace_mod.PER_LAYER:
        print(f"  {name:30} {layers[name]:14.4f} {unit}")
    with open(out["spans"]) as fh:
        spans = json.load(fh)
    print(trace_mod.format_table(trace_mod.self_times(spans), workload))
    print(f"spans written to {os.path.relpath(out['spans'], ROOT)}")
    return {name: {"value": layers[name], "unit": unit}
            for name, unit, _ in trace_mod.PER_LAYER}


def smoke(runner: Runner) -> int:
    """Every workload at sf0.001, one pass, untraced and traced: every
    metric name must be present and no query may fail."""
    sf_dir = os.path.join(DATA_ROOT, SMOKE_SF)
    problems = []
    for workload in WORKLOADS:
        for trace in (False, True):
            out = run_workload(workload, 0, 0, trace, sf_dir, runner)
            metrics = report(workload, out, trace)
            want = [m for m, _, _ in trace_mod.PER_LAYER] if trace \
                else list(END_TO_END)
            missing = [m for m in want if m not in metrics]
            if missing:
                problems.append(f"{workload} trace={trace}: missing {missing}")
            if out["summary"]["failed_frac"] != 0:
                problems.append(f"{workload} trace={trace}: failed_frac "
                                f"{out['summary']['failed_frac']}")
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke " + ("FAILED" if problems else "ok"))
    return 1 if problems else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=int, default=14)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="local[N] cores (default: nproc)")
    ap.add_argument("--sf-dir", default=os.path.join(DATA_ROOT, DEFAULT_SF))
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    missing = [f for f in PROGRAM_FILES
               if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        _log(f"perfbench: program files missing under {ROOT}: {missing}")
        return 2
    if not args.smoke and not args.workload:
        ap.error("--workload is required")
    sf_dir = os.path.join(DATA_ROOT, SMOKE_SF) if args.smoke else args.sf_dir
    # The first run in a checkout builds the inputs of every gated workload
    # (and of the one asked for), so later runs stay within their budget.
    todo = [w for w in WORKLOADS if WORKLOADS[w]["gated"] or args.smoke
            or w == args.workload]
    first = not all(os.path.exists(_marker(w, sf_dir)) for w in todo)
    long_run = first or args.smoke  # the smoke test runs six processes
    runner = Runner(args.cpus, time.time() + (850 if long_run else RUN_BUDGET_S))
    try:
        for workload in todo:
            prepare(workload, sf_dir, runner)
        if args.smoke:
            return smoke(runner)
        out = run_workload(args.workload, args.seed,
                           timed_count(args.workload, args.seconds),
                           bool(args.trace), args.sf_dir, runner)
        metrics = report(args.workload, out, bool(args.trace))
    except BenchError as e:
        _log(f"perfbench: {e}")
        return 1
    finally:
        runner.reap()
    res = out["result"]
    print(json.dumps({"correct": not res["failures"],
                      "attempted": res["attempted"],
                      "failed": len(res["failures"]),
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
