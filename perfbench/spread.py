#!/usr/bin/env python3
"""Run one workload over several seeds and report each end-to-end metric's
median and spread (interquartile range over median, as
statistics.quantiles(values, n=4) gives the quartiles).

    python3 perfbench/spread.py <workload> <first-seed> <runs> [seconds]

Run from the root of a checkout; each run is `perfbench/run.py --trace 0`.
"""
import json
import statistics
import subprocess
import sys
import time


def main(argv):
    if len(argv) < 3:
        print(__doc__, file=sys.stderr)
        return 2
    workload, first, runs = argv[0], int(argv[1]), int(argv[2])
    seconds = argv[3] if len(argv) > 3 else "30"
    values, failed = {}, 0
    t0 = time.time()
    for seed in range(first, first + runs):
        t = time.time()
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            failed += 1
            print(f"seed {seed}: exit {p.returncode}", flush=True)
            continue
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {time.time() - t:.1f}s correct={result['correct']} " +
              " ".join(f"{k}={m['value']:.3f}" for k, m in result["metrics"].items()), flush=True)
    print(f"{workload}: {runs} runs in {time.time() - t0:.0f}s, {failed} failed")
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4) if len(vs) > 1 else [med, med, med]
        print(f"  {name:<10} median {med:.4f}  spread {(q[2] - q[0]) / med:.4f}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
