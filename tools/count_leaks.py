#!/usr/bin/env python3
"""Count the run state graft leaves behind, the same way every time.

Usage: python3 tools/count_leaks.py [--tmp DIR] [--json | --diff BEFORE.json]

Prints the `graft*` entries directly under the temp directory (default
$TMPDIR or /tmp), grouped by name prefix (the name with the random
digits that Files.createTempDirectory appends removed), then the
tables in the repository's `spark-warehouse/`. Run it before and after
a Bench, Verify or test run and compare the totals. With --json the
same counts go to stdout as one JSON object, which also counts EVERY
entry of the temp directory by prefix (UUIDs removed too), not only
the `graft*` ones. With --diff BEFORE.json (a --json snapshot) it
prints only the prefixes whose count grew since that snapshot.
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


UUID = re.compile(r"[-_.]?[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-"
                  r"[0-9a-f]{4}-[0-9a-f]{12}")


def all_prefixes(tmp):
    counts = collections.Counter()
    for name in os.listdir(tmp):
        counts[re.sub(r"-?\d+$", "", UUID.sub("", name))] += 1
    return counts


def print_growth(before_path, tmp):
    with open(before_path) as f:
        before = json.load(f)
    # a snapshot from before --json counted every entry knows only graft*
    if "all_by_prefix" in before:
        old, now = before["all_by_prefix"], all_prefixes(tmp)
    else:
        old, now = before["tmp_by_prefix"], tmp_prefixes(tmp)
    grown = {p: n - old.get(p, 0) for p, n in now.items()
             if n > old.get(p, 0)}
    print(f"{sum(grown.values())} new entries in {tmp} since {before_path}, "
          f"{len(grown)} prefixes grew")
    for p, d in sorted(grown.items(), key=lambda kv: (-kv[1], kv[0])):
        print(f"  {d:+6d}  {p}  ({old.get(p, 0)} -> {now[p]})")


def warehouse_tables():
    wh = os.path.join(ROOT, "spark-warehouse")
    if not os.path.isdir(wh):
        return []
    return sorted(os.listdir(wh))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--tmp", default=os.environ.get("TMPDIR", "/tmp"))
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--json", action="store_true")
    mode.add_argument("--diff", metavar="BEFORE.json")
    a = ap.parse_args()
    if a.diff:
        print_growth(a.diff, a.tmp)
        return
    prefixes = tmp_prefixes(a.tmp)
    tables = warehouse_tables()
    if a.json:
        every = all_prefixes(a.tmp)
        print(json.dumps({"tmp": a.tmp, "tmp_total": sum(prefixes.values()),
                          "tmp_by_prefix": dict(prefixes),
                          "all_total": sum(every.values()),
                          "all_by_prefix": dict(every),
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
