#!/usr/bin/env python3
"""Runs every workload on a range of seeds and reports each end-to-end
metric's median, IQR (statistics.quantiles, n=4) as a share of the median,
and sample count.

    python3 perfbench/steadiness.py --seeds 1-10 --out set1.json

Seeds run in order; for each seed the workloads run one after another, so
a drift of the host spreads over all of them alike.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "iqr_share": (q3 - q1) / med if med else 0.0,
            "n": len(values), "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    bench = json.load(open(os.path.join(os.path.dirname(HERE),
                                        "BENCHMARK.json")))
    names = [w["name"] for w in bench["workloads"]]
    runs = {w: [] for w in names}
    for seed in range(lo, hi + 1):
        for w in names:
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                 "--trace", "0"], capture_output=True, text=True)
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            print(f"seed {seed} {w} rc={p.returncode} {line[:300]}",
                  flush=True)
            if p.returncode == 0:
                runs[w].append(json.loads(line))
    out = {}
    for w, rs in runs.items():
        out[w] = {"correct": all(r["correct"] for r in rs), "runs": len(rs)}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]]["value"] for r in rs]
            if len(vals) >= 2:
                out[w][m["name"]] = summary(vals)
                s = out[w][m["name"]]
                print(f"{w:22s} {m['name']:12s} median {s['median']:10.4f} "
                      f"iqr/median {s['iqr_share']:.4f} n {s['n']} "
                      f"(bound {m['bound']})")
    with open(a.out, "w") as fh:
        json.dump(out, fh, indent=1)


if __name__ == "__main__":
    main()
