"""The engine's one memo (``exprutil.memo``): a bounded LRU of
batch-independent plan pieces (expression Columns, inferred schemas).
Pins its eviction order, that no module grows a second memo dict, that
a store read infers its schema once, and that memoized Columns survive
a SparkSession restart in the same process."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from collections import OrderedDict

import pytest

from flink_spark import exprutil
from flink_spark.streaming import storeutil

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_memo_evicts_least_recently_used(monkeypatch):
    monkeypatch.setattr(exprutil, "_MEMO", OrderedDict())
    cap = exprutil._MEMO_CAP
    for k in range(cap):
        assert exprutil.memo(("t", k), lambda k=k: k) == k
    # a hit refreshes key 0 without building
    assert exprutil.memo(("t", 0), lambda: pytest.fail("rebuilt")) == 0
    exprutil.memo(("t", cap), lambda: cap)
    assert len(exprutil._MEMO) == cap
    assert ("t", 0) in exprutil._MEMO
    assert ("t", 1) not in exprutil._MEMO
    assert exprutil.memo(("t", 1), lambda: "rebuilt") == "rebuilt"


def test_memo_concurrent_callers(monkeypatch):
    """Store reads call the memo from run_parallel threads: many threads
    hitting, building and evicting at once keep every value right and
    the LRU at its cap."""
    import threading

    monkeypatch.setattr(exprutil, "_MEMO", OrderedDict())
    cap = exprutil._MEMO_CAP
    errors = []

    def worker(seed):
        try:
            for i in range(2000):
                k = (seed * 7919 + i * 104729) % (2 * cap)
                if exprutil.memo(("t", k), lambda k=k: -k) != -k:
                    errors.append(k)
        except Exception as e:  # surfaced below: a thread cannot fail the test
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(s,))
                   for s in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(exprutil._MEMO) == cap


#: the module-level dicts allowed under flink_spark/: the query registry
#: and the memo itself
_DICT_SITES = [
    ("exprutil.py", "_MEMO"),
    ("queries/registry.py", "QUERIES"),
]


def _module_dict_sites(root):
    """Sorted (relpath, name) of every module-level assignment of an
    empty ``{}`` or a ``dict()``/``OrderedDict()``/``defaultdict()``
    call in the .py files under ``root``."""
    sites = []
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read())
            for node in tree.body:
                if isinstance(node, ast.Assign):
                    targets, value = node.targets, node.value
                elif isinstance(node, ast.AnnAssign) and node.value:
                    targets, value = [node.target], node.value
                else:
                    continue
                empty = isinstance(value, ast.Dict) and not value.keys
                call = isinstance(value, ast.Call) and ast.unparse(
                    value.func
                ).split(".")[-1] in ("dict", "OrderedDict", "defaultdict")
                if empty or call:
                    sites += [(rel, ast.unparse(t)) for t in targets]
    return sorted(sites)


def test_no_module_level_memo_dicts():
    """A new cache goes through exprutil.memo, not a module dict of its
    own that nothing bounds."""
    import flink_spark

    pkg = os.path.dirname(flink_spark.__file__)
    assert _module_dict_sites(pkg) == _DICT_SITES


def test_dict_site_scan_flags_new_site(tmp_path):
    (tmp_path / "op.py").write_text(
        "from collections import OrderedDict\n"
        "_A: dict = {}\n"
        "_B = OrderedDict()\n"
        "_TABLE = {'k': 1}\n"
        "def f():\n"
        "    local = {}\n"
        "    return local\n"
    )
    assert _module_dict_sites(str(tmp_path)) == [("op.py", "_A"),
                                                 ("op.py", "_B")]


def test_read_store_miss_reads_parquet_once(spark, tmp_path, monkeypatch):
    """A memo miss infers the schema from the read it returns: one
    ``read.parquet`` per ``read_store`` call, hit or miss."""
    from pyspark.sql.readwriter import DataFrameReader

    store = str(tmp_path / "s")
    storeutil.write_bid_partition(
        spark.createDataFrame([(1, "a")], "k long, v string"), store, 0
    )
    calls = []
    real = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        calls.append(paths)
        return real(self, *paths, **kw)

    monkeypatch.setattr(DataFrameReader, "parquet", spy)
    first = storeutil.read_store(spark, store)
    assert len(calls) == 1
    again = storeutil.read_store(spark, store)
    assert len(calls) == 2
    assert again.schema == first.schema
    assert [r.k for r in again.collect()] == [1]


_RESTART_SCRIPT = r"""
import json
from flink_spark import exprutil
from flink_spark.session import get_spark
from flink_spark.llm.clustering import assign_clusters
from flink_spark.llm.dedup import minhash_lsh_pairs
from flink_spark.llm.similarity import hyperplane_sketch, pq_encode

VECS = [(i, [float((i * 7 + j) % 5) - 2.0 for j in range(8)])
        for i in range(12)]
CENTROIDS = [[1.0] * 8, [-1.0] * 8, [0.5, -0.5] * 4]
BOOKS = [[[1.0, 0.0, -1.0, 2.0], [-2.0, 1.0, 0.0, 0.5]],
         [[0.0, 1.0, 1.0, -1.0], [2.0, -2.0, 0.5, 0.0]]]
BASE = "the quick brown fox jumps over the lazy dog near the river bank"
DOCS = [(1, BASE), (2, BASE + " today"), (3, BASE),
        (4, "completely different words make up this other document here")]


def run(spark):
    vecs = spark.createDataFrame(VECS, "vec_id long, embedding array<double>")
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    km = assign_clusters(vecs, CENTROIDS, "embedding")
    enc, _ = pq_encode(vecs, "vec_id", "embedding", m=2, ks=2, books=BOOKS)
    sk = hyperplane_sketch(vecs, "embedding", n_planes=4, dim=8)
    return {
        "kmeans": sorted(map(list, km.select(
            "vec_id", "cluster", "dist_sq").collect())),
        "minhash": sorted(map(list, minhash_lsh_pairs(docs).collect())),
        "sketch": sorted(map(list, sk.select("vec_id", "bucket").collect())),
        "pq": sorted([r["vec_id"], r["__code"], r["__recon"]]
                     for r in enc.collect()),
    }


spark = get_spark("memo-restart", cpus=2, shuffle_partitions=2)
before = run(spark)
keys = list(exprutil._MEMO)
spark.stop()
spark = get_spark("memo-restart", cpus=2, shuffle_partitions=2)
after = run(spark)
new_keys = [k for k in exprutil._MEMO if k not in keys]
spark.stop()
print(json.dumps({"before": before, "after": after,
                  "new_keys": [repr(k) for k in new_keys]}))
"""


def test_memoized_columns_survive_session_restart():
    """k-means assign, minhash pairs, the hyperplane sketch and a PQ
    encode give the same rows after ``spark.stop()`` and a new session
    in the same process, from Columns memoized under the first session:
    the py4j gateway (and so every memoized JVM expression) outlives
    the SparkContext. Runs in a subprocess so the suite's session is
    left alone."""
    env = dict(os.environ, PYTHONPATH=REPO,
               SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    before, after = out["before"], out["after"]
    for name in ("kmeans", "minhash", "sketch", "pq"):
        assert before[name], name
    assert [1, 3] in [p[:2] for p in before["minhash"]]
    assert after == before
    # the rerun was served from the memo: nothing was rebuilt
    assert out["new_keys"] == []
