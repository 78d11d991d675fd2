"""bench.py's last stdout line is the result contract, read from a
~2000-character tail of the output: it must stay inside that tail with
every query timed, and say what it ran on."""

from __future__ import annotations

import json
from types import SimpleNamespace

import bench


def test_contract_line_fits_tail_and_names_hardware():
    # every query at the widest 2-dp time below 100 s
    t = 99.99
    timings = {n: t for n in bench.HEADLINE}
    extra = {n: t for n in bench.EXTRA}
    out = {
        "metric": "headline_suite_wall_clock",
        "value": round(t * len(timings), 4),
        "queries": timings,
        "queries_multifile": dict(timings),
        "value_multifile": round(t * len(timings), 4),
        "extra": extra,
        "extra_sec": round(t * len(extra), 4),
        "sf": 0.1,
    }
    sc = SimpleNamespace(master="local[128]", defaultParallelism=128)
    line = bench.contract_line(out, sc)
    assert len(line) < 2000, len(line)
    got = json.loads(line)
    assert got["queries"] == timings
    assert len(got["extra_t"]) == len(bench.EXTRA)
    assert len(got["mf_t"]) == len(bench.HEADLINE)
    assert got["master"] == "local[128]"
    assert got["defaultParallelism"] == 128
    assert isinstance(got["cpus"], int) and got["cpus"] > 0
