"""Regenerate docs/coverage_ledger.json from the driver's CORRECTNESS_r*.json
artifacts (VERDICT r6 #2: make the rotation protocol machine-audited).

The ledger maps EVERY registered query name to its driver-verification
history:

    {"query_name": {"first_green": 3, "last_seen": 6, "last_green": true}}

``first_green`` is the first round whose CORRECTNESS artifact has a fully
matching row (rows+schema+hash, no err) — null if the driver has never
hash-verified the query. ``last_seen``/``last_green`` record the most recent
driver appearance so rule (a) (red rows stay pinned) is checkable from the
file alone.

Run from the repo root after each round's artifacts land:

    python tools/make_coverage_ledger.py

tests/test_coverage_ledger.py re-derives the same mapping from the artifacts
up to the ledger's newest ``last_seen`` round and fails if the committed
file has drifted, so the ledger can never silently go stale; an artifact of
a later round changes nothing until the ledger is regenerated.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_ledger(root: str = ROOT, max_round: int | None = None) -> dict[str, dict]:
    """The ledger derived from the artifacts in ``root``; with ``max_round``,
    from those of that round and earlier only."""
    sys.path.insert(0, root)
    import __spark_entry__ as entry

    names = list(entry.queries())
    hist: dict[str, dict] = {
        k: {"first_green": None, "last_seen": None, "last_green": None}
        for k in names
    }
    # sort by the PARSED round number, not the raw path: lexicographic order
    # would put r100 before r20 and corrupt first_green (ADVICE r7)
    paths = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    for path in sorted(
        paths, key=lambda p: int(re.search(r"_r(\d+)\.json$", p).group(1))
    ):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        if max_round is not None and rnd > max_round:
            continue
        with open(path) as f:
            rows = json.load(f)
        for k, v in rows.items():
            if k not in hist:  # renamed/retired queries keep their history
                hist[k] = {
                    "first_green": None,
                    "last_seen": None,
                    "last_green": None,
                }
            green = bool(
                v.get("rows_match")
                and v.get("schema_match")
                and v.get("hash_match")
                and not v.get("err")
            )
            h = hist[k]
            if green and h["first_green"] is None:
                h["first_green"] = rnd
            if h["last_seen"] is None or rnd >= h["last_seen"]:
                h["last_seen"] = rnd
                h["last_green"] = green
    return hist


def main() -> None:
    ledger = build_ledger()
    out = os.path.join(ROOT, "docs", "coverage_ledger.json")
    with open(out, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")
    total = len(ledger)
    seen = sum(1 for v in ledger.values() if v["last_seen"] is not None)
    green = sum(1 for v in ledger.values() if v["first_green"] is not None)
    red = [k for k, v in ledger.items() if v["last_seen"] and not v["last_green"]]
    print(f"{out}: {total} queries, {seen} driver-seen, {green} ever-green")
    if red:
        print(f"LATEST-RED (rotation rule (a) pins): {red}")


if __name__ == "__main__":
    main()
