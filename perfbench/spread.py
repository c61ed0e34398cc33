"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> [--runs 10] [--first-seed 1]

Runs the workload once per seed (first-seed, first-seed+1, ...) and prints,
for each end-to-end metric, the median of the values and the distance
between their first and third quartiles (statistics.quantiles, n=4) as a
share of the median, next to the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values = {}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        cmd = [*bench["command"], "--workload", a.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE)
        lines = p.stdout.decode().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            print(f"seed {seed}: no result, exit {p.returncode}", file=sys.stderr)
            return 1
        # a failed output check still yields metrics; it is shown, not hidden
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} " + " ".join(
                  f"{n}={v[-1]:.6g}" for n, v in sorted(values.items())),
              flush=True)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"{'metric':16s} {'median':>12s} {'spread':>8s} {'bound':>6s}")
    for name, v in sorted(values.items()):
        q1, med, q3 = statistics.quantiles(v, n=4)
        print(f"{name:16s} {med:12.6g} {(q3 - q1) / med:8.4f} "
              f"{bounds.get(name, float('nan')):6.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
