#!/usr/bin/env python3
"""Maintain BASELINE_QUERIES.json — the machine-readable per-query MIN
table (seconds at sf0.1, the driver's bench config) that BASELINE.md's
markdown table records for humans.

Usage:
  python3 tools/update_baseline.py --from-md            # seed from BASELINE.md
  python3 tools/update_baseline.py bench1.json ...      # merge bench runs (min)

Each bench*.json argument is a file containing one or more graft.Bench
stdout JSON lines with a "queries" map (capture with:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.Bench" \
    | grep '"queries"' > bench1.json).
Merging takes the MIN of the recorded value and every new measurement —
per-query MIN across quiet-window runs is the comparison basis
BASELINE.md documents (single shots swing 1.3-8x with co-tenant noise).
Queries new to the baseline are added; failed runs (negative sentinel)
are ignored. Dev-only helper; the shipped library is pure Scala.

The table's core count — the `local[N]` every MIN was taken at — lives
in BASELINE_CORES.json ({"cpus": N}). --from-md reads it from
BASELINE.md's Config line; a run recorded at another core count is
reported and NOT merged, so the MINs never mix core counts.
"""
import json, re, sys, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "BASELINE_QUERIES.json")
CORES = os.path.join(ROOT, "BASELINE_CORES.json")
MD = os.path.join(ROOT, "BASELINE.md")


def load_cores():
    """The MIN table's core count, or None when none is recorded."""
    if os.path.exists(CORES):
        with open(CORES) as f:
            return int(json.load(f)["cpus"])
    return None


def save_cores(cpus):
    with open(CORES, "w") as f:
        json.dump({"cpus": cpus}, f)
        f.write("\n")


def load():
    if os.path.exists(OUT):
        with open(OUT) as f:
            return json.load(f)
    return {}


def save(mins):
    with open(OUT, "w") as f:
        json.dump(dict(sorted(mins.items())), f, indent=1)
        f.write("\n")
    print(f"wrote {OUT}: {len(mins)} queries, total {sum(mins.values()):.2f}s")


def main():
    args = sys.argv[1:]
    mins = load()
    cores = load_cores()
    if "--from-md" in args:
        md = open(MD).read()
        rows = re.findall(r"^\| (q_[a-z_0-9]+) \| ([0-9.]+) \|$", md, re.M)
        for name, sec in rows:
            v = float(sec)
            mins[name] = min(mins.get(name, v), v)
        m = re.search(r"\*\*Config\*\*: `local\[(\d+)\]`", md)
        if m and cores is None:
            cores = int(m.group(1))
        args = [a for a in args if a != "--from-md"]
    for path in args:
        for line in open(path):
            line = line.strip()
            if not line.startswith("{"):
                continue
            d = json.loads(line)
            if "queries" not in d:
                continue
            cpus = int(d.get("cpus", 0)) or None
            if cores is None:
                cores = cpus
            elif cpus != cores:
                print(f"skipped a run in {path}: taken at cpus={cpus}, "
                      f"the MIN table at cpus={cores}")
                continue
            for name, sec in d["queries"].items():
                if sec <= 0:  # failed-run sentinel
                    continue
                mins[name] = min(mins.get(name, sec), sec)
    if not mins:
        sys.exit("nothing to record — pass --from-md or bench json files")
    save(mins)
    if cores is not None:
        save_cores(cores)


if __name__ == "__main__":
    main()
