#!/usr/bin/env python3
"""Count the Scala lines of the tree, the same way every time.

Usage: python3 tools/scala_loc.py [--base REV] [--json]

Prints the number of lines (newline count, as `wc -l`) of the `.scala`
files under `src/main`, `src/test` and `perfbench/`, per area and in
total, reading the files only. With --base, also counts the same areas
at git revision REV (read from git's object store; the working tree is
not touched), prints the net change per area, and lists every file
whose count changed. With --json the same figures go to stdout as one
JSON object.
"""
import argparse
import json
import os
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
AREAS = ["src/main", "src/test", "perfbench"]


def area_of(path):
    for a in AREAS:
        if path.startswith(a + "/"):
            return a
    return None


def count(data):
    return data.count(b"\n")


def tree_counts():
    out = {}
    for a in AREAS:
        for d, _, files in os.walk(os.path.join(ROOT, a)):
            for f in files:
                if f.endswith(".scala"):
                    p = os.path.join(d, f)
                    with open(p, "rb") as fh:
                        out[os.path.relpath(p, ROOT)] = count(fh.read())
    return out


def git(*args):
    return subprocess.run(["git", "-C", ROOT] + list(args), check=True,
                          capture_output=True).stdout


def rev_counts(rev):
    out = {}
    listing = git("ls-tree", "-r", "-z", rev, "--", *AREAS)
    for entry in listing.split(b"\0"):
        if not entry:
            continue
        meta, path = entry.split(b"\t", 1)
        path = path.decode()
        if meta.split()[1] == b"blob" and path.endswith(".scala"):
            out[path] = count(git("cat-file", "blob", meta.split()[2].decode()))
    return out


def totals(counts):
    t = {a: 0 for a in AREAS}
    for p, n in counts.items():
        t[area_of(p)] += n
    t["total"] = sum(t[a] for a in AREAS)
    return t


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", help="git revision to compare against")
    ap.add_argument("--json", action="store_true")
    a = ap.parse_args()
    now = tree_counts()
    res = {"lines": totals(now)}
    if a.base:
        then = rev_counts(a.base)
        base = totals(then)
        res["base"] = a.base
        res["base_lines"] = base
        res["net"] = {k: res["lines"][k] - base[k] for k in base}
        res["files"] = {p: {"base": then.get(p, 0), "now": now.get(p, 0),
                            "net": now.get(p, 0) - then.get(p, 0)}
                        for p in sorted(set(now) | set(then))
                        if now.get(p, 0) != then.get(p, 0)}
    if a.json:
        print(json.dumps(res, sort_keys=True))
        return
    for k in AREAS + ["total"]:
        line = f"{k:10s} {res['lines'][k]:7d}"
        if a.base:
            line += f"  (base {res['base_lines'][k]:7d}, net {res['net'][k]:+d})"
        print(line)
    if a.base:
        print(f"files changed since {a.base}: {len(res['files'])}")
        for p, f in res["files"].items():
            print(f"  {f['net']:+6d}  {f['base']:6d} -> {f['now']:6d}  {p}")


if __name__ == "__main__":
    main()
