#!/usr/bin/env python3
"""Run one workload over several seeds and summarise the spread.

    python3 perfbench/record.py --workload ingest --seeds 101-110 [--trace 1] \
        [--out perfbench/baseline/ingest.jsonl]
    python3 perfbench/record.py --summary perfbench/baseline/*.jsonl

Each run appends one JSON line to --out: the seed, the result object, and
the '#' context, detail and absent lines run.py printed before it. The
summary gives, per metric, the median, the quartiles
(statistics.quantiles(n=4)) and their distance as a share of the median.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload, seed, seconds, trace):
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    rec = {"seed": seed, "exit": p.returncode}
    for line in lines[:-1]:
        if line.startswith("# "):
            key, _, body = line[2:].partition(" ")
            rec[key] = json.loads(body)
    if lines:
        rec["result"] = json.loads(lines[-1])
    else:
        rec["stderr"] = p.stderr[-2000:]
    return rec


def summarise(records):
    by_metric = {}
    for r in records:
        for name, m in r.get("result", {}).get("metrics", {}).items():
            by_metric.setdefault(name, []).append(m["value"])
    print(f"{len(records)} runs, {sum(r.get('result', {}).get('failed', 1) for r in records)}"
          f" failed operations")
    for name, xs in by_metric.items():
        med = statistics.median(xs)
        if len(xs) < 2 or med == 0:
            print(f"  {name:40s} median {med:.6g}")
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        print(f"  {name:40s} median {med:12.6g}  q1 {q1:12.6g}  q3 {q3:12.6g}"
              f"  spread {(q3 - q1) / med:.3f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--out")
    ap.add_argument("--summary", nargs="*")
    a = ap.parse_args()
    if a.summary:
        for path in a.summary:
            print(path)
            with open(path) as f:
                summarise([json.loads(line) for line in f if line.strip()])
        return
    records = []
    for seed in seeds(a.seeds):
        rec = run_once(a.workload, seed, a.seconds, a.trace)
        records.append(rec)
        print(json.dumps({"seed": seed, "exit": rec["exit"],
                          "metrics": {k: round(v["value"], 4) for k, v in
                                      rec.get("result", {}).get("metrics", {}).items()}}),
              flush=True)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(rec) + "\n")
    summarise(records)


if __name__ == "__main__":
    main()
