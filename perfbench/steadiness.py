"""Steadiness report: run one workload N times, each with another seed, and
print for every metric its median, quartiles and spread, (q3 - q1) / median,
with ``statistics.quantiles(values, n=4)``.

    python3 perfbench/steadiness.py --workload dashboard_search --runs 10 --seconds 15

Runs are sequential, one ``perfbench/run.py`` process at a time. Each run's
result line is appended to ``--out`` (JSON lines) as it lands.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def _cpu_steal_s() -> float:
    """Seconds the hypervisor ran something else on this machine's CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_once(workload: str, seed: int, seconds: float) -> dict:
    steal0, t0 = _cpu_steal_s(), time.monotonic()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, timeout=600, check=True,
    )
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    for line in proc.stderr.splitlines():
        if line.startswith("uncorrected "):
            result["uncorrected"] = json.loads(line.split(" ", 1)[1])
    result["steal_s"] = _cpu_steal_s() - steal0
    result["run_wall_s"] = time.monotonic() - t0
    return result


def spread_table(results: list[dict]) -> list[dict]:
    rows = []
    for name in results[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = statistics.quantiles(values, n=4)
        rows.append({
            "metric": name,
            "unit": results[0]["metrics"][name]["unit"],
            "median": med,
            "q1": q1,
            "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0,
        })
    return rows


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15)
    p.add_argument("--out", help="append each run's result here (JSON lines)")
    args = p.parse_args()
    results = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        r = run_once(args.workload, seed, args.seconds)
        r["seed"] = seed
        results.append(r)
        if args.out:
            with open(args.out, "a") as f:
                f.write(json.dumps({"workload": args.workload, **r}) + "\n")
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} cpu_steal={r['steal_s']:.1f}s wall={r['run_wall_s']:.1f}s",
              file=sys.stderr)
    print(f"{args.workload}: {len(results)} runs, seeds {args.first_seed}.."
          f"{args.first_seed + args.runs - 1}, {args.seconds:g} s each")
    print_table(results)
    if all("uncorrected" in r for r in results):
        print("the same, without the steal correction:")
        print_table([
            {"metrics": {name: {"value": value, "unit": r["metrics"][name]["unit"]}
                         for name, value in r["uncorrected"].items()}}
            for r in results
        ])
    return 0


def print_table(results: list[dict]) -> None:
    print(f"{'metric':<22} {'unit':<6} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>7}")
    for row in spread_table(results):
        print(f"{row['metric']:<22} {row['unit']:<6} {row['median']:>10.4f} "
              f"{row['q1']:>10.4f} {row['q3']:>10.4f} {row['spread']:>7.3f}")


if __name__ == "__main__":
    sys.exit(main())
