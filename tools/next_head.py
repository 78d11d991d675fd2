"""Emit the next verification-rotation head from the CORRECTNESS_r*.json
archive — the standing freshness rule, made mechanical (VERDICT r9 #8).

The driver samples the FIRST 50 registered queries each round, so the
registry head is the round's external-verification window. Policy:

  1. the entry query stays first (``__spark_entry__.entry()`` runs it);
  2. queries that have NEVER had an external CORRECTNESS row come next,
     in registry order (debt retirement — empty from round 10 on);
  3. the remaining slots go to the STALEST previously-verified queries
     (smallest last-sampled round, ties in registry order).

With 50 slots over ~366 gated queries, a full pass takes ~8 rounds —
every query is re-sampled within that window automatically, and a query
that fails externally (its round still counts as "sampled") comes back
around with everything else.

Usage:  python tools/next_head.py [--repo /root/repo] [--size 50]
prints the head as a Python list literal ready to paste into
``flink_spark/queries/__init__.py`` as ``VERIFICATION_HEAD``.
``tests/test_registry.py`` pins the promoted head against this policy.
"""

from __future__ import annotations

import glob
import json
import os
import re


def load_archive(repo: str) -> dict[int, set[str]]:
    """Round number → set of query names with an external row that round."""
    out: dict[int, set[str]] = {}
    for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", p)
        if not m:
            continue
        with open(p) as fh:
            out[int(m.group(1))] = set(json.load(fh))
    return out


def compute_head(
    archive: dict[int, set[str]],
    registry_order: list[str],
    head_size: int = 50,
    entry: str = "tpch_q1_pricing_summary",
) -> list[str]:
    """Pure policy function (tested directly): next head from the
    sampling history and the full registry order."""
    pos = {n: i for i, n in enumerate(registry_order)}
    last: dict[str, int] = {}
    for rnd in sorted(archive):
        for name in archive[rnd]:
            if name in pos:
                last[name] = rnd
    rest = [n for n in registry_order if n != entry]
    never = [n for n in rest if n not in last]
    stale = sorted(
        (n for n in rest if n in last), key=lambda n: (last[n], pos[n])
    )
    head = [entry]
    for n in never + stale:
        if len(head) >= head_size:
            break
        head.append(n)
    return head


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--repo", default=os.path.dirname(os.path.dirname(
            os.path.abspath(__file__)))
    )
    ap.add_argument("--size", type=int, default=50)
    args = ap.parse_args()

    import sys

    # bare `python tools/next_head.py` from any cwd: the repo root is
    # this file's parent's parent, not necessarily on sys.path
    sys.path.insert(0, args.repo)
    from flink_spark.queries.registry import QUERIES

    head = compute_head(load_archive(args.repo), list(QUERIES), args.size)
    print("[")
    for n in head:
        print(f"    {n!r},")
    print("]")


if __name__ == "__main__":
    main()
