#!/usr/bin/env python3
"""Per-query bench regression gate: compare a graft.Bench run against
BASELINE_QUERIES.json and flag queries above DRIFT x their recorded MIN.

Usage: python3 tools/check_bench.py <bench.json> [drift=1.5]

<bench.json> is either (a) a file of raw graft.Bench stdout JSON lines
(the one with the "queries" map), or (b) a driver BENCH_r{N}.json whose
"tail" field embeds the (possibly head-truncated) per-query line — the
tool scavenges every "q_name":sec pair it can find in the tail.

Prints the run's requested `cpus` (local[N]) and the machine's `nproc`
next to the core count the MIN table was taken at (BASELINE_CORES.json,
kept by tools/update_baseline.py) and warns when they differ: a MIN
taken on other cores is no like-for-like bound.

Exit 0 when nothing drifts; exit 1 with the violator table otherwise.
>1.5x growth of a per-query MIN is the regression signal BASELINE.md
documents (totals drift with container noise; MINs do not). Dev-only
helper; the shipped library is pure Scala.
"""
import json, re, sys, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = os.path.join(ROOT, "BASELINE_QUERIES.json")
CORES = os.path.join(ROOT, "BASELINE_CORES.json")


def parse_cores(text):
    """The run's (cpus, nproc) as recorded on graft.Bench's total line;
    None for a field the run did not record."""
    cpus = re.search(r'"cpus":"?(\d+)', text)
    nproc = re.search(r'"nproc":(\d+)', text)
    return (int(cpus.group(1)) if cpus else None,
            int(nproc.group(1)) if nproc else None)


def read_text(path):
    text = open(path).read()
    # Driver artifact: JSON object with a "tail" capture.
    try:
        d = json.loads(text)
        if isinstance(d, dict) and "tail" in d:
            text = d["tail"]
    except ValueError:
        pass
    return text


def parse_bench(text):
    got = {}
    for line in text.splitlines():
        line = line.strip()
        if line.startswith("{"):
            try:
                d = json.loads(line)
                for k, v in d.get("queries", {}).items():
                    if v > 0:
                        got[k] = min(got.get(k, v), v)
                continue
            except ValueError:
                pass
        # Truncated tail: scavenge bare "q_x":1.23 pairs.
        for k, v in re.findall(r'"(q_[a-z_0-9]+)":(-?[0-9.]+)', line):
            v = float(v)
            if v > 0:
                got[k] = min(got.get(k, v), v)
    return got


def main():
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    drift = float(sys.argv[2]) if len(sys.argv) > 2 else 1.5
    mins = json.load(open(BASE))
    text = read_text(sys.argv[1])
    got = parse_bench(text)
    if not got:
        sys.exit(f"no per-query timings found in {sys.argv[1]}")
    cpus, nproc = parse_cores(text)
    base_cores = (json.load(open(CORES))["cpus"]
                  if os.path.exists(CORES) else None)
    print(f"run: cpus={cpus} nproc={nproc}; MIN table: cpus={base_cores}")
    for name, n in (("cpus", cpus), ("nproc", nproc)):
        if n is not None and base_cores is not None and n != base_cores:
            print(f"WARNING: run {name}={n} differs from the MIN table's "
                  f"{base_cores} cores; drift below compares unlike runs")
    bad, new = [], []
    for name, sec in sorted(got.items()):
        if name not in mins:
            new.append((name, sec))
        elif sec > drift * mins[name]:
            bad.append((name, sec, mins[name], sec / mins[name]))
    print(f"{len(got)} timings vs {len(mins)} baseline MINs "
          f"(drift gate {drift}x)")
    for name, sec in new:
        print(f"  NEW   {name}: {sec:.3f}s (no recorded MIN — "
              "record with update_baseline.py)")
    if bad:
        print(f"{len(bad)} queries above {drift}x their MIN:")
        for name, sec, m, r in sorted(bad, key=lambda x: -x[3]):
            print(f"  DRIFT {name}: {sec:.3f}s vs MIN {m:.3f}s ({r:.2f}x)")
        sys.exit(1)
    print("no drift violations")


if __name__ == "__main__":
    main()
