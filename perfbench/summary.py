#!/usr/bin/env python3
"""Summarise untraced benchmark results.

Groups result files (written by run.py under .bench_build/results/) by
workload, host/config fingerprint and code, and prints for every
end-to-end metric the median, the quartiles and the quartile spread
(Q3 - Q1 as a share of the median) over the group's runs, one run per
seed. Results whose fingerprints differ are never merged: they land in
different groups.

    python3 perfbench/summary.py [result.json ...]
"""
import glob
import json
import os
import statistics
import sys


def load(paths):
    groups = {}
    for p in paths:
        r = json.load(open(p))
        if "per_layer" in r:          # traced runs carry no end-to-end figures
            continue
        fp = r["fingerprint"]
        key = json.dumps({"host": fp["host"], "code": fp["code"]}, sort_keys=True)
        groups.setdefault(key, []).append(r)
    return groups


def main(argv):
    paths = argv or sorted(glob.glob(os.path.join(".bench_build", "results", "*.json")))
    for key, runs in sorted(load(paths).items()):
        k = json.loads(key)
        print(f"== {k['host']['workload']}  code {k['code']['source_stamp']}  "
              f"{len(runs)} runs, seeds {sorted(r['fingerprint']['seed'] for r in runs)}")
        bad = sum(r["failed"] for r in runs)
        print(f"   failed operations: {bad} of {sum(r['attempted'] for r in runs)}")
        for m in runs[0]["end_to_end"]:
            v = [r["end_to_end"][m] for r in runs]
            if len(v) >= 2:
                q1, med, q3 = statistics.quantiles(v, n=4)
                print(f"   {m:>16}  median {med:10.4f}  Q1 {q1:10.4f}  Q3 {q3:10.4f}  "
                      f"spread {(q3 - q1) / med:6.3f}  (min {min(v):.4f} max {max(v):.4f})")
            else:
                print(f"   {m:>16}  {v[0]:.4f}")


if __name__ == "__main__":
    main(sys.argv[1:])
