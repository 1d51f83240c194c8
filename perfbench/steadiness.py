"""Steadiness check of the graft benchmark on one commit.

Runs two sets of runs of every workload in BENCHMARK.json (each run with
its own seed; the second set uses other seeds than the first), then
prints, for each workload and end-to-end metric, each set's median and
quartiles and the spread (interquartile distance over the median), and
whether the two sets agree within the bounds in BENCHMARK.json:

  * every spread, except that of setup_s, is within the metric's bound;
  * the second set's median is not worse than the first's by more than
    the bound (setup_s included);
  * the share of failed operations is the same in both sets.

    python3 perfbench/steadiness.py [--runs 10] [--workloads a,b]
    python3 perfbench/steadiness.py --analyze .bench_out/steadiness_*.jsonl

Every run's result line is kept in .bench_out/steadiness_<epoch>.jsonl,
which --analyze reads back without running anything.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def load_spec():
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(spec, workload, seed):
    cmd = list(spec["command"]) + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    r = subprocess.run(cmd, cwd=REPO, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, timeout=900)
    lines = r.stdout.decode().strip().splitlines()
    if r.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {r.returncode}")
    return {"workload": workload, "seed": seed, "wall_s": time.time() - t0,
            "result": json.loads(lines[-1])}


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def analyze(spec, records):
    ok = True
    workloads = [w["name"] for w in spec["workloads"]]
    for w in workloads:
        rs = [r for r in records if r["workload"] == w]
        sets = sorted({r["set"] for r in rs})
        if len(sets) < 2:
            print(f"{w}: fewer than two sets")
            ok = False
            continue
        a = [r["result"] for r in rs if r["set"] == sets[0]]
        b = [r["result"] for r in rs if r["set"] == sets[1]]
        share = [sum(x["failed"] for x in s) / sum(x["attempted"] for x in s)
                 for s in (a, b)]
        walls = [r["wall_s"] for r in rs]
        print(f"\n{w}: {len(a)}+{len(b)} runs, failed share "
              f"{share[0]:.4f} / {share[1]:.4f}, run wall "
              f"{statistics.median(walls):.1f} s (max {max(walls):.1f})")
        if share[0] != share[1]:
            ok = False
            print("  FAIL: failed shares differ")
        if not all(x["correct"] for x in a + b):
            ok = False
            print("  FAIL: a run reported correct=false")
        print(f"  {'metric':<14}{'median1':>11}{'q1':>11}{'q3':>11}"
              f"{'spread1':>9}{'median2':>11}{'spread2':>9}{'drift':>8}"
              f"{'bound':>7}  verdict")
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            va = [x["metrics"][name]["value"] for x in a]
            vb = [x["metrics"][name]["value"] for x in b]
            m1, q1, q3, s1 = spread(va)
            m2, _, _, s2 = spread(vb)
            drift = (m2 - m1) / m1 if m["better"] == "lower" else (m1 - m2) / m1
            bad = []
            if name != "setup_s" and (s1 > bound or s2 > bound):
                bad.append("spread")
            if drift > bound:
                bad.append("drift")
            ok = ok and not bad
            print(f"  {name:<14}{m1:>11.4g}{q1:>11.4g}{q3:>11.4g}{s1:>9.3f}"
                  f"{m2:>11.4g}{s2:>9.3f}{drift:>8.3f}{bound:>7.2f}  "
                  f"{'FAIL ' + ','.join(bad) if bad else 'ok'}")
    print("\nagree within bounds: " + ("yes" if ok else "NO"))
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--analyze", nargs="*")
    a = ap.parse_args()
    spec = load_spec()
    if a.analyze:
        records = []
        for p in a.analyze:
            with open(p) as f:
                records += [json.loads(line) for line in f if line.strip()]
        return 0 if analyze(spec, records) else 1
    workloads = [w for w in a.workloads.split(",") if w] or \
        [w["name"] for w in spec["workloads"]]
    out_dir = os.path.join(REPO, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"steadiness_{int(time.time())}.jsonl")
    records = []
    with open(path, "w") as f:
        for s in (1, 2):
            for w in workloads:
                for i in range(a.runs):
                    rec = run_once(spec, w, a.seed0 + 100 * s + i)
                    rec["set"] = s
                    records.append(rec)
                    f.write(json.dumps(rec) + "\n")
                    f.flush()
                    print(f"set {s} {w} seed {rec['seed']}: "
                          f"{rec['wall_s']:.0f} s", file=sys.stderr)
    print(f"results: {path}")
    return 0 if analyze(spec, records) else 1


if __name__ == "__main__":
    sys.exit(main())
