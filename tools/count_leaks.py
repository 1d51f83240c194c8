#!/usr/bin/env python3
"""Count the run state graft leaves behind, the same way every time.

Usage: python3 tools/count_leaks.py [--tmp DIR] [--json]

Prints the `graft*` entries directly under the temp directory (default
$TMPDIR or /tmp), grouped by name prefix (the name with the random
digits that Files.createTempDirectory appends removed), then the
tables in the repository's `spark-warehouse/`. Run it before and after
a Bench, Verify or test run and compare the totals. With --json the
same counts go to stdout as one JSON object.
"""
import argparse
import collections
import json
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def tmp_prefixes(tmp):
    counts = collections.Counter()
    for name in os.listdir(tmp):
        if name.startswith("graft"):
            counts[re.sub(r"-?\d+$", "", name)] += 1
    return counts


def warehouse_tables():
    wh = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(wh):
        return []
    return sorted(os.listdir(wh))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tmp", default=os.environ.get("TMPDIR", "/tmp"))
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    prefixes = tmp_prefixes(a.tmp)
    tables = warehouse_tables()
    if a.json:
        print(json.dumps({"tmp": a.tmp, "tmp_total": sum(prefixes.values()),
                          "tmp_by_prefix": dict(prefixes),
                          "warehouse_tables": tables}, sort_keys=True))
        return
    print(f"{sum(prefixes.values())} graft* entries in {a.tmp}, "
          f"{len(prefixes)} prefixes")
    for p, n in sorted(prefixes.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {n:6d}  {p}")
    print(f"{len(tables)} tables in spark-warehouse/")
    for t in tables:
        print(f"  {t}")


if __name__ == "__main__":
    main()
