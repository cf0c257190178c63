"""Run every workload for each given seed, for BENCHMARK.json's
run_seconds, and print each metric with its unit; with four or more seeds, also each end-to-end metric's spread (the
distance between the first and third quartile as a share of the median).
Exits non-zero if any run fails or any correctness check fails.

    python3 perfbench/suite.py --seeds 1,2 [--trace 0|1] [--workloads migrate,...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--workloads", default=",".join(sorted(gen.GENERATORS)))
    a = ap.parse_args()
    with open(os.path.join(HERE, os.pardir, "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    seeds = [int(s) for s in a.seeds.split(",")]
    ok = True
    values = {}
    for w in a.workloads.split(","):
        for seed in seeds:
            p = subprocess.run(
                [sys.executable, f"{HERE}/run.py", "--workload", w, "--seed", str(seed),
                 "--seconds", seconds, "--trace", str(a.trace)],
                stdout=subprocess.PIPE, text=True)
            lines = p.stdout.strip().splitlines()
            if not lines:
                print(f"{w} seed {seed}: no result (exit {p.returncode})")
                ok = False
                continue
            r = json.loads(lines[-1])
            ok = ok and p.returncode == 0 and r["correct"]
            print(f"{w} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                  f"failed={r['failed']}")
            for name, m in r["metrics"].items():
                print(f"  {name} = {m['value']:.6g} {m['unit']}")
                values.setdefault((w, name), []).append(m["value"])
    if len(seeds) >= 4 and not a.trace:
        print("spread (IQR / median):")
        for (w, name), vs in sorted(values.items()):
            q1, med, q3 = statistics.quantiles(vs, n=4)
            print(f"  {w} {name}: median {med:.6g}, spread {(q3 - q1) / med:.3f}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
