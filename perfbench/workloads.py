"""Workload definitions and the inputs they read.

Every workload reads fixed, read-only tables (see TESTDATA.md). The seed
only orders the queries inside each pass. Scratch files (the multi-file
layout, cached oracle frames, the program's stream-source copies) live in
the work directory inside the checkout, never under /tmp.
"""

from __future__ import annotations

import hashlib
import os
import pickle
import random

DATA_ROOT = "/root/testdata"
DEFAULT_SF = "sf0.1"
SMOKE_SF = "sf0.001"

# Queries per workload. The full lists in the benchmark's design (22 TPC-H,
# 12 stateful drains, 13 training-data operators) take 22-43 s per warm
# pass at sf0.1 on 4 cores, which the run budget cannot hold; each
# workload keeps the queries that are a layer's main user and drops those
# that repeat a layer's use. "gated" marks the workloads BENCHMARK.json
# lists; the others run on request only.
WORKLOADS: dict[str, dict] = {
    "tpch_batch": {
        # Scan-heavy aggregate (q1), join + top-n (q3), pure filtered scan
        # (q6): sources scan, Catalyst planning and shuffle execution; no
        # drains and no Python workers.
        "queries": [
            "tpch_q1_pricing_summary",
            "tpch_q3_shipping_priority",
            "tpch_q6_forecast_revenue",
        ],
        "multifile": True,
        "gated": False,
        "pass_s": 2.5,
    },
    "stream_drain": {
        # A state-store drain (two-sided join state) whose drain ends in a
        # watermark-only micro-batch that reads 0 rows.
        "queries": [
            "stream_interval_join",
        ],
        "multifile": False,
        "gated": True,
        "pass_s": 4.5,
    },
    "llm_pipeline": {
        # Python workers (multimodal decode runs mapInPandas; no other
        # training-data query does), and a foreachBatch drain whose plan
        # carries large codebook literals, runs many driver jobs, and
        # writes parquet stores through storeutil (PQ ingest).
        "queries": [
            "llm_multimodal_decode",
            "stream_pq_ingest",
        ],
        "multifile": False,
        "gated": True,
        "pass_s": 6.5,
    },
}


# Pass schedule of a measured process: a cold first pass, then a fixed
# number of timed passes: ``--seconds`` divided by the workload's nominal
# pass time (warm, sf0.1, 4 cores), at least MIN_TIMED. The count does not
# depend on how fast the passes run, so both commits of a comparison do the
# same work and stop at the same point of the JIT's warm-up (the first warm
# passes still run 20-40% slower; an untimed warm-up pass would steady
# them but does not fit the run budget).
MIN_TIMED = 3
# On a shared host the hypervisor can take a fifth of the CPU from the
# guest for a minute at a time, which slows a pass by as much. A timed
# pass during which more than STEAL_MAX of the CPU time was stolen is
# made up by one more pass, at most MAX_EXTRA times per run; the timed
# passes are then the ones with the least steal.
STEAL_MAX = 0.08
MAX_EXTRA = 1


def timed_count(workload: str, seconds: float) -> int:
    return max(MIN_TIMED, round(seconds / WORKLOADS[workload]["pass_s"]))


def needs_extra_pass(passes: list[dict], n_timed: int) -> bool:
    """Whether a run that asked for ``n_timed`` timed passes should run
    another pass to make up for passes slowed by CPU steal."""
    warm = passes[1:]
    clean = sum(p["steal"] <= STEAL_MAX for p in warm)
    return clean < n_timed and len(warm) < n_timed + MAX_EXTRA


def timed_passes(passes: list[dict], n_timed: int) -> list[int]:
    """Indices of the timed passes: of the passes after the cold first one,
    the ``n_timed`` with the least CPU steal, in run order (a one-pass
    smoke run times its only pass)."""
    if len(passes) == 1:
        return [0]
    warm = sorted(range(1, len(passes)), key=lambda i: passes[i]["steal"])
    return sorted(warm[:n_timed])


def query_order(names: list[str], seed: int, pass_no: int) -> list[str]:
    """The order of ``names`` in pass ``pass_no``: a pure function of the
    seed, so the same seed replays the same sequence."""
    order = list(names)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def multifile_layout(sf_dir: str, dest: str, n_files: int = 10) -> str:
    """A copy of ``sf_dir`` with each table of >= 10k rows split into
    ``n_files`` parquet part-files (the layout of ``bench.multifile_layout``,
    written under ``dest`` instead of /tmp, small tables copied instead of
    linked). Built once; a marker file records completion."""
    import pyarrow.parquet as pq

    marker = os.path.join(dest, f"_ok_{n_files}")
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)
    for fname in sorted(os.listdir(sf_dir)):
        if not fname.endswith(".parquet"):
            continue
        tbl = pq.read_table(os.path.join(sf_dir, fname))
        out = os.path.join(dest, fname)
        if tbl.num_rows < 10_000:
            pq.write_table(tbl, out, store_schema=True)
            continue
        os.makedirs(out, exist_ok=True)
        step = (tbl.num_rows + n_files - 1) // n_files
        for i in range(n_files):
            part = tbl.slice(i * step, step)
            if part.num_rows:
                pq.write_table(
                    part, os.path.join(out, f"part-{i:05d}.parquet"),
                    store_schema=True,
                )
    with open(marker, "w") as fh:
        fh.write("ok")
    return dest


def query_dir(workload: str, sf_dir: str, work: str) -> str:
    """The data directory the workload's queries receive."""
    if not WORKLOADS[workload]["multifile"]:
        return sf_dir
    key = os.path.basename(sf_dir.rstrip("/"))
    return multifile_layout(sf_dir, os.path.join(work, "data", f"{key}_mf10"))


def oracle_path(work: str, sf_dir: str, name: str, sql: str) -> str:
    key = os.path.basename(sf_dir.rstrip("/"))
    digest = hashlib.sha256(sql.encode()).hexdigest()[:12]
    return os.path.join(work, "oracle", key, f"{name}-{digest}.pkl")


def build_oracles(names: list[str], sf_dir: str, work: str) -> dict[str, str]:
    """DuckDB oracle frame of each query, computed once per data directory
    and oracle text; returns name -> pickle path. The oracle always reads
    the original single-file tables: the multi-file layout holds the same
    rows."""
    from flink_spark.queries.registry import QUERIES
    from tests.compare import run_oracle

    paths = {}
    for name in names:
        sql = QUERIES[name].oracle
        if not sql:
            raise SystemExit(f"perfbench: query {name} has no oracle")
        path = oracle_path(work, sf_dir, name, sql)
        if not os.path.exists(path):
            frame = run_oracle(sql, sf_dir)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".part", "wb") as fh:
                pickle.dump(frame, fh)
            os.replace(path + ".part", path)
        paths[name] = path
    return paths
