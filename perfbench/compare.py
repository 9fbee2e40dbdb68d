#!/usr/bin/env python3
"""Compare two sets of benchmark results (the .detail.json files run.py writes).

    python3 perfbench/compare.py BASE.detail.json... -- NEW.detail.json...

For each sample series both sides have, prints the median over each side's
per-run medians and the relative change. Wall times are compared only when
every fingerprint agrees apart from the seed and the source hashes; counters
(names ending in _mb, or rows and exchange counts) are compared regardless.
"""
import json
import statistics
import sys

MACHINE_KEYS = ("nproc", "mem_total_mb", "driver_memory", "max_heap_mb", "jvm", "spark")


def load(paths):
    out = []
    for p in paths:
        with open(p) as f:
            out.append(json.load(f))
    return out


def machine(d):
    return tuple(d["fingerprint"].get(k) for k in MACHINE_KEYS)


def medians(details):
    series = {}
    for d in details:
        for name, s in d.get("samples", {}).items():
            series.setdefault(name, []).append(s["median"])
        for name, v in d.get("per_layer", {}).items():
            series.setdefault("layer:" + name, []).append(v)
    return {k: statistics.median(v) for k, v in series.items()}


def main(argv):
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = load(argv[:cut]), load(argv[cut + 1:])
    if not base or not new:
        print("compare: need results on both sides", file=sys.stderr)
        return 2
    machines = {machine(d) for d in base + new}
    same_machine = len(machines) == 1
    if not same_machine:
        print("compare: fingerprints differ; wall times are not compared", file=sys.stderr)
    b, n = medians(base), medians(new)
    for name in sorted(set(b) & set(n)):
        if name.endswith("_s") and not same_machine:
            continue
        change = (n[name] - b[name]) / b[name] if b[name] else float("nan")
        print(f"{name:<48} {b[name]:>12.4f} {n[name]:>12.4f} {change:>+8.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
