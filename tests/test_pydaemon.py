"""The worker daemon's zip-directory guard (flink_spark/pydaemon.py): an
unchanged archive is not re-read on ``importlib.invalidate_caches()``, a
rewritten one is. No Spark: the daemon's patch is installed in a plain
subprocess, so the suite's own import machinery is left alone."""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = r"""
import importlib, json, os, sys, zipfile, zipimport
from collections import Counter

zp = os.path.join(sys.argv[1], "mods.zip")


def write(files, mtime_ns):
    with zipfile.ZipFile(zp, "w") as z:
        for name, body in files.items():
            z.writestr(name, body)
    os.utime(zp, ns=(mtime_ns, mtime_ns))


write({"zmod.py": "X = 1\n", "zpkg/__init__.py": "",
       "zpkg/one.py": "V = 1\n"}, 10 ** 18)
sys.path.insert(0, zp)
import zmod, zpkg.one  # noqa: E401  (importers for zp and zp/zpkg)

reads = []
real = zipimport._read_directory


def counting(archive):
    reads.append(archive)
    return real(archive)


zipimport._read_directory = counting
out = {}
# control: the stock invalidate_caches re-reads an unchanged archive
importlib.invalidate_caches()
out["stock"] = reads.count(zp)

from flink_spark import pydaemon

reads.clear()
pydaemon.skip_unchanged_zip_rereads()
out["install_max_per_archive"] = max(Counter(reads).values())

reads.clear()
importlib.invalidate_caches()
# an importer created after the install, as a worker importing a new
# package would create one
zipimport.zipimporter(zp + "/zpkg")
importlib.invalidate_caches()
out["unchanged"] = reads.count(zp)

pid = os.fork()
if pid == 0:
    reads.clear()
    importlib.invalidate_caches()
    os._exit(min(reads.count(zp), 100))
out["forked"] = os.waitstatus_to_exitcode(os.waitpid(pid, 0)[1])

reads.clear()
write({"zmod.py": "X = 1\n", "zpkg/__init__.py": "",
       "zpkg/one.py": "V = 1\n", "znew.py": "Y = 2\n"}, 2 * 10 ** 18)
importlib.invalidate_caches()
out["rewritten"] = reads.count(zp)
import znew

out["new_module"] = znew.Y
print(json.dumps(out))
"""


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path):
    env = dict(os.environ, PYTHONPATH=REPO)
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(tmp_path)],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    if sys.version_info < (3, 13):  # 3.13's stock call is lazy
        assert out["stock"] >= 1, out
    assert out["install_max_per_archive"] <= 1, out
    assert out["unchanged"] == 0, out
    assert out["forked"] == 0, out
    assert out["rewritten"] == 1, out
    assert out["new_module"] == 2, out
