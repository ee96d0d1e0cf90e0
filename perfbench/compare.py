#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py A.jsonl [B.jsonl]

Each file holds one JSON record per run, as run.py appends them to
`.bench_out/results.jsonl` (copy that file aside between the two sides).
For every workload and metric it prints each side's median, quartiles and
spread (the inter-quartile distance as a share of the median). With two
files it also prints the pair wins: runs are paired by seed, and a pair is
won by the side whose value is better by the metric's direction in
BENCHMARK.json; ties count for neither side.
"""
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                key = (r["stamp"]["workload"], r["stamp"]["trace"])
                runs.setdefault(key, []).append(r)
    return runs


def directions():
    bench = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                         "BENCHMARK.json")
    if not os.path.exists(bench):
        return {}
    with open(bench) as f:
        b = json.load(f)
    return {m["name"]: m["better"] for m in b["end_to_end"] + b["per_layer"]}


def summary(values):
    q1, med, q3 = stats.quartiles(values)
    spread = (q3 - q1) / med if med else 0.0
    return f"median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  spread {spread:6.1%}"


def main():
    sides = [load(p) for p in sys.argv[1:3]]
    better = directions()
    for key in sorted(sides[0]):
        workload, trace = key
        print(f"== {workload} (trace {trace}), runs: "
              + ", ".join(str(len(s.get(key, []))) for s in sides))
        metrics = sides[0][key][0]["metrics"]
        for m in metrics:
            print(f"  {m}")
            for name, s in zip("AB", sides):
                vals = [r["metrics"][m] for r in s.get(key, [])]
                if vals:
                    print(f"    {name}: {summary(vals)}")
            if len(sides) == 2 and key in sides[1]:
                a = {r["stamp"]["seed"]: r["metrics"][m] for r in sides[0][key]}
                b = {r["stamp"]["seed"]: r["metrics"][m] for r in sides[1][key]}
                seeds = sorted(set(a) & set(b))
                sign = -1 if better.get(m, "lower") == "lower" else 1
                wins_b = sum(1 for s in seeds if sign * (b[s] - a[s]) > 0)
                wins_a = sum(1 for s in seeds if sign * (a[s] - b[s]) > 0)
                print(f"    pairs {len(seeds)}: A wins {wins_a}, B wins {wins_b}")


if __name__ == "__main__":
    main()
