#!/usr/bin/env python3
"""Compare the manifests of two runs of the same table operations.

Usage: python3 tools/manifest_diff.py A B

A and B are run roots: directories holding one or more SnapshotTable
tables (any directory with a `_manifests/` child, at any depth). Tables
are paired by their path relative to the run root, and each table's
`_manifests/v*.json` and `_manifests/seg-*.json` are compared as JSON
values, key order ignored, after normalising what differs between two
runs of the same operations by construction:

  - `ts` (the commit stamp) becomes 0;
  - the run root inside any string becomes `<root>`;
  - each UUID becomes `<uuid-N>`, N counting first appearances. Tables
    are visited in commit order (their v0 stamp), versions ascending,
    a segmented checkpoint's segments right after it, and object keys
    and file lists in an order blind to not-yet-numbered UUIDs (a file
    key's ties break on its stats, size and refs), so both runs number
    the same UUID alike;
  - segment file names are normalised the same way;
  - file lists (`files`, `adds`, `removes`, `dvremoves`, a default's
    `files`) are sorted after normalising; file-keyed maps compare by
    their normalised keys.

Prints each differing table and file with the JSON paths that differ,
and exits 1 on any difference (0 when every version is equal). Reads
the files only.
"""
import json
import os
import re
import sys

UUID = re.compile(
    r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")
FILE_LISTS = {"files", "adds", "removes", "dvremoves"}


def tables(run):
    """Table roots under `run`, relative path -> absolute path."""
    out = {}
    for d, dirs, _ in os.walk(run):
        if "_manifests" in dirs:
            out[os.path.relpath(d, run)] = d
            dirs.remove("_manifests")
    return out


def load(table):
    """The table's manifests and segments, file name -> parsed JSON."""
    mdir = os.path.join(table, "_manifests")
    out = {}
    for name in os.listdir(mdir):
        if re.fullmatch(r"(v\d+|seg-.*)\.json", name):
            with open(os.path.join(mdir, name)) as fh:
                out[name] = json.load(fh)
    return out


def version(name):
    return int(name[1:-5])


class Normaliser:
    def __init__(self, root):
        self.root = os.path.abspath(root)
        self.uuids = {}

    def string(self, s):
        """`s` normalised, numbering the UUIDs it introduces."""
        s = s.replace(self.root, "<root>")
        return UUID.sub(self.uuid, s)

    def uuid(self, m):
        u = m.group(0)
        if u not in self.uuids:
            self.uuids[u] = "<uuid-%d>" % len(self.uuids)
        return self.uuids[u]

    def masked(self, s):
        """`s` with the UUIDs numbered so far, new ones all alike (their
        raw values differ between runs)."""
        s = s.replace(self.root, "<root>")
        return UUID.sub(lambda m: self.uuids.get(m.group(0), "<uuid-?>"), s)

    def order(self, items, sig):
        """`items` in visiting order: by their masked form, ties broken
        by their entries in the sibling file-keyed maps (`sig`)."""
        return sorted(items, key=lambda k: (self.masked(k), sig.get(k, "")))

    def value(self, v, key=None, sig=None):
        """`v` normalised; `key` is the name of the field holding it and
        `sig` maps a file key to its entries in the enclosing object."""
        sig = sig or {}
        if isinstance(v, str):
            return self.string(v)
        if isinstance(v, list):
            if key in FILE_LISTS and all(isinstance(x, str) for x in v):
                return sorted(self.string(x) for x in self.order(v, sig))
            return [self.value(x) for x in v]
        if isinstance(v, dict):
            entries = {}
            for child in v.values():
                if isinstance(child, dict):
                    for k, x in child.items():
                        entries.setdefault(k, []).append(
                            self.masked(json.dumps(x, sort_keys=True)))
            inner = {k: "|".join(e) for k, e in entries.items()}
            out = {}
            for k in self.order(v, sig):
                out[self.string(k)] = 0 if k == "ts" else self.value(v[k], k, inner)
            return out
        return v


def normalise(run):
    """Every table of `run`: relative path -> {normalised name: JSON}."""
    n = Normaliser(run)
    found = {rel: load(path) for rel, path in tables(run).items()}

    def created(rel):
        v0 = found[rel].get("v0.json", {})
        return (v0.get("ts", 0), rel)

    out = {}
    for rel in sorted(found, key=created):
        files = found[rel]
        norm = {}
        for name in sorted((f for f in files if f.startswith("v")),
                           key=version):
            norm[name] = n.value(files[name])
            for seg in files[name].get("segments", []):
                if seg in files:
                    norm[n.string(seg)] = n.value(files[seg])
        for name in sorted(f for f in files if f.startswith("seg-")):
            key = n.string(name)
            if key not in norm:
                norm[key] = n.value(files[name])
        out[rel] = norm
    return out


def diff(a, b, path="$"):
    """JSON paths at which `a` and `b` differ, with both values."""
    if isinstance(a, dict) and isinstance(b, dict):
        out = []
        for k in sorted(set(a) | set(b)):
            sub = "%s.%s" % (path, k)
            if k not in a:
                out.append("%s: absent in A, B=%s" % (sub, short(b[k])))
            elif k not in b:
                out.append("%s: A=%s, absent in B" % (sub, short(a[k])))
            else:
                out.extend(diff(a[k], b[k], sub))
        return out
    if isinstance(a, list) and isinstance(b, list) and len(a) == len(b):
        out = []
        for i, (x, y) in enumerate(zip(a, b)):
            out.extend(diff(x, y, "%s[%d]" % (path, i)))
        return out
    return [] if a == b else ["%s: A=%s, B=%s" % (path, short(a), short(b))]


def short(v):
    s = json.dumps(v, sort_keys=True)
    return s if len(s) <= 120 else s[:117] + "..."


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = normalise(sys.argv[1]), normalise(sys.argv[2])
    differing = 0
    compared = 0
    for rel in sorted(set(a) | set(b)):
        if rel not in a or rel not in b:
            print("%s: table only in %s" % (rel, "B" if rel in b else "A"))
            differing += 1
            continue
        ta, tb = a[rel], b[rel]
        for name in sorted(set(ta) | set(tb)):
            compared += 1
            if name not in ta or name not in tb:
                print("%s/%s: only in %s" % (rel, name, "B" if name in tb else "A"))
                differing += 1
                continue
            paths = diff(ta[name], tb[name])
            if paths:
                differing += 1
                print("%s/%s:" % (rel, name))
                for p in paths:
                    print("  " + p)
    print("%d files compared in %d tables, %d differ"
          % (compared, len(set(a) | set(b)), differing))
    sys.exit(1 if differing else 0)


if __name__ == "__main__":
    main()
