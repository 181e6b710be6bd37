#!/usr/bin/env python3
"""Steadiness check: run two sets of untraced runs of the same code and
compare them metric by metric against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py [--workload NAME ...]

Each set has RUNS runs, each with its own seed (set 1: 1..RUNS, set 2:
101..100+RUNS). For every workload and end-to-end metric it prints the
median and quartiles of each set, the spread (third minus first quartile,
as a share of the median) and whether the sets agree: every spread within
the metric's bound, and the two medians apart by no more than the bound, in
either direction, as a share of the first. Exits non-zero when a pair
disagrees or a run fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10


def run(workload, seed, seconds):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-2000:] + p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", action="append")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    record, ok = {}, True
    for w in workloads:
        sets = []
        for s in range(2):
            values = {m["name"]: [] for m in bench["end_to_end"]}
            for i in range(RUNS):
                r = run(w, 100 * s + i + 1, bench["run_seconds"])
                if r is None or not r["correct"]:
                    print(f"{w} seed {100 * s + i + 1}: run failed")
                    ok = False
                    continue
                for k in values:
                    values[k].append(r["metrics"][k]["value"])
            sets.append(values)
        record[w] = sets
        for m in bench["end_to_end"]:
            k = m["name"]
            cells, meds = [], []
            for values in sets:
                v = values[k]
                if len(v) < 2:
                    cells.append("too few runs")
                    ok = False
                    continue
                q1, med, q3 = statistics.quantiles(v, n=4)
                spread = (q3 - q1) / abs(med)
                meds.append(med)
                within = spread <= m["bound"]
                ok = ok and within
                cells.append(f"median {med:.6g} q1 {q1:.6g} q3 {q3:.6g} spread {spread:.3f}{'' if within else ' OVER'}")
            verdict = ""
            if len(meds) == 2:
                d = (meds[1] - meds[0]) / abs(meds[0])
                agree = abs(d) <= m["bound"]
                ok = ok and agree
                verdict = f" | medians apart by {d:+.3f} of bound {m['bound']}: {'agree' if agree else 'DISAGREE'}"
            print(f"{w:16s} {k:17s} " + " || ".join(cells) + verdict)
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_work", "steady.json"), "w") as f:
        json.dump(record, f)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
