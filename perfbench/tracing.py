"""Tracing for the traced run, measured from outside the program.

Three sources feed it, none of which the untraced run installs:

* a ``StreamingQueryListener`` (drains and micro-batches),
* the Spark event log (jobs, stages, tasks and SQL metrics),
* wrappers around the py4j client and around the public functions of
  ``flink_spark.streaming.storeutil``.

Spans are kept in memory and written out when the run ends. Their nesting
is run > pass > query > {construct, plan, collect} > drain > micro-batch >
job > stage; storeutil calls nest wherever they run. The load is a closed
loop with one client, so everything whose timestamp falls inside a query's
window belongs to that query.

``python3 perfbench/tracing.py SPANS.json`` prints the self-time table of a
written span file.
"""

from __future__ import annotations

import bisect
import contextlib
import functools
import json
import os
import statistics
import sys
import threading
import time
from datetime import datetime

MIB = 1024 * 1024

# Layer of each span kind, for the self-time table.
LAYER = {
    "run": "perfbench",
    "pass": "perfbench",
    "query": "perfbench",
    "construct": "flink_spark.queries",
    "plan": "catalyst.planning",
    "collect": "driver.collect",
    "drain": "flink_spark.streaming",
    "batch": "flink_spark.streaming",
    "store": "flink_spark.streaming.storeutil",
    "job": "spark.job",
    "stage": "spark.stage",
}
DEPTH = {k: i for i, k in enumerate(
    ["run", "pass", "query", "construct", "plan", "collect", "drain",
     "batch", "store", "job", "stage"])}
PHASES = ("construct", "plan", "collect")

# SQL metric names (Spark 4.1) read from the event log.
SQL_METRICS = {
    "number of files read": "sources.files",
    "scan time": "sources.scan_s",
    "metadata time": "sources.metadata_s",
    "time to run Python workers": "python.worker_s",
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
}

# (name, unit, better) of every per-layer metric, in report order.
PER_LAYER = [
    ("queries.construct_s", "s", "lower"),
    ("queries.driver_only_s", "s", "lower"),
    ("queries.py4j_calls", "count", "lower"),
    ("queries.py4j_s", "s", "lower"),
    ("queries.eager_jobs", "count", "lower"),
    ("plan.executed_plan_s", "s", "lower"),
    ("streaming.drains", "count", "lower"),
    ("streaming.batches", "count", "lower"),
    ("streaming.empty_batches", "count", "lower"),
    ("streaming.useful_batch_ratio", "ratio", "higher"),
    ("streaming.input_rows", "count", "lower"),
    ("streaming.trigger_s", "s", "lower"),
    ("streaming.planning_s", "s", "lower"),
    ("streaming.addbatch_s", "s", "lower"),
    ("streaming.log_s", "s", "lower"),
    ("streaming.offsets_s", "s", "lower"),
    ("streaming.fixed_s", "s", "lower"),
    ("streaming.state_commit_s", "s", "lower"),
    ("streaming.state_rows", "count", "lower"),
    ("streaming.state_mem_mb", "MB", "lower"),
    ("store.calls", "count", "lower"),
    ("store.s", "s", "lower"),
    ("exec.collect_s", "s", "lower"),
    ("exec.jobs", "count", "lower"),
    ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"),
    ("exec.task_s", "s", "lower"),
    ("exec.cpu_s", "s", "lower"),
    ("exec.gc_s", "s", "lower"),
    ("exec.busy_share", "ratio", "higher"),
    ("exec.no_task_s", "s", "lower"),
    ("exec.shuffle_write_mb", "MB", "lower"),
    ("exec.shuffle_read_mb", "MB", "lower"),
    ("exec.fetch_wait_s", "s", "lower"),
    ("exec.task_skew", "ratio", "lower"),
    ("sources.input_mb", "MB", "lower"),
    ("sources.files", "count", "lower"),
    ("sources.scan_s", "s", "lower"),
    ("sources.metadata_s", "s", "lower"),
    ("python.worker_s", "s", "lower"),
    ("python.boot_s", "s", "lower"),
    ("python.init_s", "s", "lower"),
    ("python.sent_mb", "MB", "lower"),
    ("python.received_mb", "MB", "lower"),
    # traced pass_s / untraced pass_s, filled in by run.py
    ("trace.overhead_ratio", "ratio", "lower"),
]


def eventlog_conf(log_dir: str) -> list[str]:
    """spark-submit arguments that turn on an uncompressed event log."""
    return [
        "--conf", "spark.eventLog.enabled=true",
        "--conf", f"spark.eventLog.dir=file://{log_dir}",
        "--conf", "spark.eventLog.compress=false",
        "--conf", "spark.eventLog.rolling.enabled=false",
    ]


def _iso_s(ts: str) -> float:
    """Epoch seconds of a progress timestamp such as 2026-10-16T22:39:48.123Z."""
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class _Listener:
    """py4j implementation of PythonStreamingQueryListener. Each callback
    reads the event's JSON (one py4j call) with the tracer's own-call flag
    set, so listener traffic is not counted as the program's py4j calls."""

    def __init__(self, tracer: "Tracer"):
        self.tracer = tracer

    def _record(self, kind, jevent):
        with self.tracer.own_calls():
            payload = json.loads(jevent.json())
        with self.tracer.lock:
            self.tracer.stream_events.append((kind, payload))

    def onQueryStarted(self, jevent):
        self._record("started", jevent)

    def onQueryProgress(self, jevent):
        self._record("progress", jevent)

    def onQueryIdle(self, jevent):
        pass

    def onQueryTerminated(self, jevent):
        self._record("terminated", jevent)

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


class Tracer:
    """Collects spans and counters for one traced run."""

    def __init__(self, spark, cpus: int):
        self.spark = spark
        self.cpus = cpus
        self.lock = threading.Lock()
        self.local = threading.local()
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.stream_events: list[tuple[str, dict]] = []
        self.py4j: dict[tuple, list] = {}
        self.phase: tuple | None = None

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        from py4j.java_gateway import java_import
        from pyspark.java_gateway import ensure_callback_server_started

        gw = self.spark.sparkContext._gateway
        java_import(gw.jvm, "org.apache.spark.sql.streaming.*")
        ensure_callback_server_started(gw)
        self._listener = _Listener(self)
        jlistener = gw.jvm.PythonStreamingQueryListenerWrapper(self._listener)
        self.spark.streams._jsqm.addListener(jlistener)
        self._wrap_py4j(gw._gateway_client)
        self._wrap_storeutil()

    @contextlib.contextmanager
    def own_calls(self):
        self.local.own = True
        try:
            yield
        finally:
            self.local.own = False

    def _wrap_py4j(self, client) -> None:
        send = client.send_command
        tracer = self

        @functools.wraps(send)
        def send_command(*args, **kwargs):
            phase = tracer.phase
            if phase is None or getattr(tracer.local, "own", False):
                return send(*args, **kwargs)
            t0 = time.perf_counter()
            try:
                return send(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with tracer.lock:
                    acc = tracer.py4j.setdefault(phase, [0, 0.0])
                    acc[0] += 1
                    acc[1] += dt

        client.send_command = send_command

    def _wrap_storeutil(self) -> None:
        """Replace every public function of storeutil, in storeutil and in
        each flink_spark module that imported it by name."""
        import inspect

        from flink_spark.streaming import storeutil

        originals = {
            name: fn for name, fn in vars(storeutil).items()
            if inspect.isfunction(fn) and not name.startswith("_")
            and fn.__module__ == storeutil.__name__
        }
        wrapped = {fn: self._store_wrapper(name, fn)
                   for name, fn in originals.items()}
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                    "flink_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if inspect.isfunction(val) and val in wrapped:
                    setattr(mod, attr, wrapped[val])

    def _store_wrapper(self, name, fn):
        tracer = self

        @functools.wraps(fn)
        def store_call(*args, **kwargs):
            depth = getattr(tracer.local, "store_depth", 0)
            if depth:
                return fn(*args, **kwargs)
            tracer.local.store_depth = 1
            main = threading.current_thread() is threading.main_thread()
            parent = tracer.stack[-1] if main and tracer.stack else None
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.local.store_depth = 0
                tracer._add("store", name, t0, time.time(), parent)

        return store_call

    # -- python-side spans ------------------------------------------------
    def _add(self, kind, name, start, end, parent, **extra) -> int:
        with self.lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "parent": parent, "kind": kind,
                               "name": name, "start": start, "end": end,
                               **extra})
        return sid

    @contextlib.contextmanager
    def span(self, kind: str, name: str, pass_no: int):
        """A Python-side span on the main thread. Inside a construct, plan
        or collect span, py4j calls are counted against that phase."""
        parent = self.stack[-1] if self.stack else None
        sid = self._add(kind, name, time.time(), None, parent, **{"pass": pass_no})
        self.stack.append(sid)
        if kind in PHASES:
            self.phase = (kind, pass_no)
        try:
            yield sid
        finally:
            if kind in PHASES:
                self.phase = None
            self.stack.pop()
            self.spans[sid]["end"] = time.time()

    def wait_for_drains(self, timeout: float = 10.0) -> None:
        """Listener events arrive asynchronously: wait until every started
        drain has reported its termination."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self.lock:
                kinds = [k for k, _ in self.stream_events]
            if kinds.count("started") <= kinds.count("terminated"):
                return
            time.sleep(0.05)


# -- analysis -----------------------------------------------------------------
def _union(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def read_eventlog(path: str) -> dict:
    """Jobs, stages, tasks and SQL-metric updates of one event log."""
    jobs, stages, tasks, executions = {}, {}, [], {}
    acc_meta, driver_updates = {}, []

    def plan_metrics(info, eid):
        for m in info.get("metrics", []):
            acc_meta[m["accumulatorId"]] = (m["name"], m["metricType"], eid)
        for child in info.get("children", []):
            plan_metrics(child, eid)

    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "start": ev["Submission Time"] / 1000, "end": None,
                    "stages": ev["Stage IDs"],
                    "props": ev.get("Properties") or {},
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info:
                    stages[(info["Stage ID"], info["Stage Attempt ID"])] = {
                        "sid": info["Stage ID"],
                        "start": info["Submission Time"] / 1000,
                        "end": info["Completion Time"] / 1000,
                    }
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                    "start": ti["Launch Time"] / 1000,
                    "end": ti["Finish Time"] / 1000,
                    "run_s": tm.get("Executor Run Time", 0) / 1000,
                    "cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
                    "gc_s": tm.get("JVM GC Time", 0) / 1000,
                    "sw": sw.get("Shuffle Bytes Written", 0),
                    "sr": sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0),
                    "fetch_s": sr.get("Fetch Wait Time", 0) / 1000,
                    "in": (tm.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "accums": [(a["ID"], a.get("Update"))
                               for a in ti.get("Accumulables", [])],
                })
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                executions[ev["executionId"]] = ev["time"] / 1000
                plan_metrics(ev["sparkPlanInfo"], ev["executionId"])
            elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                plan_metrics(ev["sparkPlanInfo"], ev["executionId"])
            elif kind.endswith("SparkListenerSQLAdaptiveSQLMetricUpdates"):
                for m in ev["sqlPlanMetrics"]:
                    acc_meta[m["accumulatorId"]] = (
                        m["name"], m["metricType"], ev["executionId"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, value in ev["accumUpdates"]:
                    driver_updates.append((acc_id, value))
    return {"jobs": jobs, "stages": stages, "tasks": tasks,
            "executions": executions, "acc_meta": acc_meta,
            "driver_updates": driver_updates}


def _sql_value(metric_type: str, value) -> float:
    v = float(value)
    if metric_type == "timing":
        return v / 1000
    if metric_type == "nsTiming":
        return v / 1e9
    if metric_type == "size":
        return v / MIB
    return v


def _stream_spans(events):
    """Drain and micro-batch spans from listener events, keyed by run id."""
    drains, batches = {}, []
    for kind, ev in events:
        if kind == "started":
            drains[ev["runId"]] = {"start": _iso_s(ev["timestamp"]),
                                   "end": _iso_s(ev["timestamp"]),
                                   "name": ev.get("name") or ev["id"],
                                   "addbatch": 0.0, "batches": []}
    for kind, ev in events:
        if kind != "progress":
            continue
        p = ev["progress"]
        d = p.get("durationMs") or {}
        start = _iso_s(p["timestamp"])
        batch = {"run": p["runId"], "batch": p["batchId"], "start": start,
                 "end": start + d.get("triggerExecution", 0) / 1000,
                 "rows": p.get("numInputRows", 0), "d": d,
                 "ops": p.get("stateOperators") or []}
        batches.append(batch)
        drain = drains.get(p["runId"])
        if drain is not None:
            drain["end"] = max(drain["end"], batch["end"])
            drain["addbatch"] += d.get("addBatch", 0) / 1000
            drain["batches"].append(batch)
    return drains, batches


class Windows:
    """Query windows of the run in time order, for attributing anything
    timestamped to the query (and phase) running at that moment."""

    def __init__(self, spans):
        self.queries = sorted((s for s in spans if s["kind"] == "query"),
                              key=lambda s: s["start"])
        self.starts = [q["start"] for q in self.queries]
        self.phases = {}
        for s in spans:
            if s["kind"] in PHASES:
                self.phases.setdefault(s["parent"], []).append(s)

    def query_at(self, t: float):
        i = bisect.bisect_right(self.starts, t) - 1
        if i >= 0 and t <= self.queries[i]["end"]:
            return self.queries[i]
        return None

    def phase_at(self, t: float):
        q = self.query_at(t)
        if q is None:
            return None, None
        for ph in self.phases.get(q["id"], []):
            if ph["start"] <= t <= ph["end"]:
                return q, ph
        return q, None


def analyze(tracer: Tracer, eventlog: str, timed: list[int]) -> tuple:
    """Per-layer metrics (median over the ``timed`` passes of each pass's value)
    and the full span list with parents assigned."""
    spans = [dict(s) for s in tracer.spans]
    win = Windows(spans)
    log = read_eventlog(eventlog)
    per_pass: dict[int, dict[str, float]] = {}

    def add(q, metric, value):
        if q is None:
            return
        acc = per_pass.setdefault(q["pass"], {})
        acc[metric] = acc.get(metric, 0.0) + value

    # Python-side phases and storeutil calls.
    for s in spans:
        dur = s["end"] - s["start"]
        if s["kind"] == "construct":
            add(s, "queries.construct_s", dur)
        elif s["kind"] == "plan":
            add(s, "plan.executed_plan_s", dur)
        elif s["kind"] == "collect":
            add(s, "exec.collect_s", dur)
        elif s["kind"] == "query":
            add(s, "_wall_s", dur)
        elif s["kind"] == "store":
            q = win.query_at(s["start"])
            add(q, "store.calls", 1)
            add(q, "store.s", dur)
    for (phase, pass_no), (calls, secs) in tracer.py4j.items():
        if phase == "construct":
            per_pass.setdefault(pass_no, {})
            add({"pass": pass_no}, "queries.py4j_calls", calls)
            add({"pass": pass_no}, "queries.py4j_s", secs)

    # Jobs and stages.
    job_of_stage = {}
    for jid, job in sorted(log["jobs"].items()):
        if job["end"] is None:
            job["end"] = job["start"]
        for sid in job["stages"]:
            job_of_stage.setdefault(sid, []).append(jid)
        q, ph = win.phase_at(job["start"])
        add(q, "exec.jobs", 1)
        streaming = "streaming.sql.batchId" in job["props"]
        if ph is not None and ph["kind"] == "construct" and not streaming:
            add(q, "queries.eager_jobs", 1)
    job_intervals = [(j["start"], j["end"]) for j in log["jobs"].values()]
    for s in spans:
        if s["kind"] == "construct":
            covered = _union(job_intervals, s["start"], s["end"])
            add(s, "queries.driver_only_s", s["end"] - s["start"] - covered)

    # Tasks, per stage and per query.
    by_stage: dict[tuple, list] = {}
    task_windows: dict[int, list] = {}
    for t in log["tasks"]:
        q = win.query_at(t["start"])
        if q is None:
            continue
        by_stage.setdefault(t["stage"], []).append(t)
        task_windows.setdefault(q["id"], []).append((t["start"], t["end"]))
        add(q, "exec.tasks", 1)
        add(q, "exec.task_s", t["run_s"])
        add(q, "exec.cpu_s", t["cpu_s"])
        add(q, "exec.gc_s", t["gc_s"])
        add(q, "exec.shuffle_write_mb", t["sw"] / MIB)
        add(q, "exec.shuffle_read_mb", t["sr"] / MIB)
        add(q, "exec.fetch_wait_s", t["fetch_s"])
        add(q, "sources.input_mb", t["in"] / MIB)
    for key, st in log["stages"].items():
        q = win.query_at(st["start"])
        add(q, "exec.stages", 1)
        durs = sorted(t["end"] - t["start"] for t in by_stage.get(key, []))
        if q is not None and len(durs) >= 2:
            skew = durs[-1] / max(statistics.median(durs), 1e-3)
            acc = per_pass.setdefault(q["pass"], {})
            acc["exec.task_skew"] = max(acc.get("exec.task_skew", 0.0), skew)
    for q in win.queries:
        busy = _union(task_windows.get(q["id"], []), q["start"], q["end"])
        add(q, "exec.no_task_s", q["end"] - q["start"] - busy)

    # SQL metrics: attributed through their execution's start time.
    def sql_update(acc_id, value):
        meta = log["acc_meta"].get(acc_id)
        if meta is None or meta[0] not in SQL_METRICS or value is None:
            return
        name, mtype, eid = meta
        start = log["executions"].get(eid)
        if start is not None:
            add(win.query_at(start), SQL_METRICS[name],
                _sql_value(mtype, value))

    for acc_id, value in log["driver_updates"]:
        sql_update(acc_id, value)
    for t in log["tasks"]:
        for acc_id, value in t["accums"]:
            sql_update(acc_id, value)

    # Streaming, from the listener.
    drains, batches = _stream_spans(tracer.stream_events)
    for drain in drains.values():
        q = win.query_at(drain["start"])
        add(q, "streaming.drains", 1)
        add(q, "streaming.fixed_s",
            drain["end"] - drain["start"] - drain["addbatch"])
        peak_rows = peak_mem = 0
        for b in drain["batches"]:
            peak_rows = max(peak_rows, sum(o.get("numRowsTotal", 0)
                                           for o in b["ops"]))
            peak_mem = max(peak_mem, sum(o.get("memoryUsedBytes", 0)
                                         for o in b["ops"]))
        add(q, "streaming.state_rows", peak_rows)
        add(q, "streaming.state_mem_mb", peak_mem / MIB)
    for b in batches:
        q = win.query_at(b["start"])
        d = b["d"]
        add(q, "streaming.batches", 1)
        add(q, "streaming.empty_batches", int(b["rows"] == 0))
        add(q, "streaming.input_rows", b["rows"])
        add(q, "streaming.trigger_s", d.get("triggerExecution", 0) / 1000)
        add(q, "streaming.planning_s", d.get("queryPlanning", 0) / 1000)
        add(q, "streaming.addbatch_s", d.get("addBatch", 0) / 1000)
        add(q, "streaming.log_s",
            (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1000)
        add(q, "streaming.offsets_s",
            (d.get("latestOffset", 0) + d.get("getBatch", 0)) / 1000)
        add(q, "streaming.state_commit_s",
            sum(o.get("commitTimeMs", 0) for o in b["ops"]) / 1000)

    for acc in per_pass.values():
        n = acc.get("streaming.batches", 0)
        acc["streaming.useful_batch_ratio"] = (
            (n - acc.get("streaming.empty_batches", 0)) / n if n else 0.0)
        wall = acc.get("_wall_s", 0.0)
        acc["exec.busy_share"] = (acc.get("exec.task_s", 0.0)
                                  / (tracer.cpus * wall) if wall else 0.0)

    metrics = {}
    for name, _, _ in PER_LAYER[:-1]:
        vals = [per_pass.get(p, {}).get(name, 0.0) for p in timed]
        metrics[name] = statistics.median(vals)

    all_spans = _link(spans, drains, log)
    return metrics, all_spans


def _link(spans, drains, log) -> list[dict]:
    """Add drain, micro-batch, job and stage spans to the Python-side spans.
    A batch's parent is its drain and a stage's the job that ran it; any
    other span without a parent gets the narrowest span, other than a job
    or stage, that contains it in time (5 ms slack for the JVM's ms
    clock). So a storeutil call that wraps a drain holds it, and one made
    inside a micro-batch sits under that batch."""
    out = list(spans)

    def new(kind, name, start, end, parent=None):
        s = {"id": len(out), "parent": parent, "kind": kind, "name": name,
             "start": start, "end": end}
        out.append(s)
        return s

    for d in drains.values():
        ds = new("drain", d["name"], d["start"], d["end"])
        for b in d["batches"]:
            new("batch", f"{d['name']}#{b['batch']}", b["start"], b["end"],
                ds["id"])
    job_span = {jid: new("job", f"job {jid}", j["start"], j["end"])
                for jid, j in sorted(log["jobs"].items())}
    for (sid, attempt), st in log["stages"].items():
        owner = next((job_span[jid] for jid, j in sorted(log["jobs"].items())
                      if sid in j["stages"]
                      and j["start"] - 0.005 <= st["start"] <= j["end"] + 0.005),
                     None)
        new("stage", f"stage {sid}.{attempt}", st["start"], st["end"],
            owner["id"] if owner else None)

    slack = 0.005

    def holds(c, s):
        if c is s or c["kind"] in ("job", "stage"):
            return False
        if not (c["start"] - slack <= s["start"] and s["end"] <= c["end"] + slack):
            return False
        wider = (c["end"] - c["start"]) - (s["end"] - s["start"])
        return wider > 0 or (wider == 0 and DEPTH[c["kind"]] < DEPTH[s["kind"]])

    for s in out:
        if s["parent"] is None and s["kind"] != "run":
            holders = [c for c in out if holds(c, s)]
            if holders:
                s["parent"] = min(holders,
                                  key=lambda c: c["end"] - c["start"])["id"]
    return out


def self_times(spans: list[dict]) -> dict[str, dict]:
    """Per layer: span count, total and self time (duration minus the part
    of it that child spans cover)."""
    children: dict[int, list] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    table: dict[str, dict] = {}
    for s in spans:
        dur = s["end"] - s["start"]
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], [])]
        own = dur - _union(kids, s["start"], s["end"])
        row = table.setdefault(LAYER[s["kind"]],
                               {"spans": 0, "total_s": 0.0, "self_s": 0.0})
        row["spans"] += 1
        row["total_s"] += dur
        row["self_s"] += max(own, 0.0)
    return table


def format_table(table: dict[str, dict], title: str) -> str:
    total = sum(r["self_s"] for r in table.values()) or 1.0
    lines = [f"self time per layer: {title}",
             f"{'layer':34} {'spans':>7} {'self_s':>9} {'share':>7}"]
    for layer, r in sorted(table.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{layer:34} {r['spans']:7d} {r['self_s']:9.3f} "
                     f"{r['self_s'] / total:7.1%}")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print("usage: python3 perfbench/tracing.py SPANS.json", file=sys.stderr)
        return 2
    with open(argv[0]) as fh:
        spans = json.load(fh)
    print(format_table(self_times(spans), os.path.basename(argv[0])))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
