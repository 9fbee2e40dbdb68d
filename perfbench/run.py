#!/usr/bin/env python3
"""Run one benchmark workload with one seed.

    python3 perfbench/run.py --workload feature_refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds the program and the harness on first
use (perfbench/build.py), runs the workload in one local-mode Spark process,
prints a report on stderr and, as the last line of stdout, one JSON object
with the keys correct, attempted, failed and metrics. Exits 1 when an output
check fails, and 2 when the checkout holds no program to build.

Build output, scratch data and result files go to $CARGO_TARGET_DIR
(default .bench_build) inside the checkout: results/<workload>-seed<n>-trace<t>
.detail.json (fingerprint, samples, per-layer metrics) and, for traced runs,
.spans.jsonl (one span per line).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import build  # noqa: E402

WORKLOADS = ("feature_refresh", "curation")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def driver_memory():
    """Half the machine's memory, clamped to 2..8 GiB (as the test suite sizes it)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def git_sha():
    if not os.path.exists(".git"):
        return ""
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True,
                              timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        return ""


def run_jvm(classes, work, main_args, timeout=JVM_TIMEOUT_S):
    # temporary files of the run (some entries create temp dirs) go to its
    # work directory, which is removed afterwards
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    mem = driver_memory()
    cp = os.pathsep.join([classes, os.path.abspath("src/main/resources"),
                          os.path.join(build.spark_jars(), "*")])
    cmd = ["java", f"-Xmx{mem}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dgraftbench.driverMemory={mem}", f"-Dgraftbench.gitSha={git_sha()}",
           f"-Dgraftbench.sourceSha={build.source_sha()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main"] + main_args
    proc = subprocess.Popen(cmd, stdout=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {timeout} s, stopping it", file=sys.stderr)
        return 124
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def trace_overhead(results, workload, detail):
    """Traced round time minus the median round time of the untraced runs of
    this workload in the same build directory with the same fingerprint
    (seed aside); None without such runs."""
    same = {k: v for k, v in detail["fingerprint"].items() if k != "seed"}
    untraced = []
    for name in sorted(os.listdir(results)):
        if not (name.startswith(workload + "-seed") and name.endswith("-trace0.detail.json")):
            continue
        with open(os.path.join(results, name)) as f:
            d = json.load(f)
        if {k: v for k, v in d["fingerprint"].items() if k != "seed"} == same and \
                "round_s" in d["samples"]:
            untraced.append(d["samples"]["round_s"]["median"])
    if not untraced or "round_s" not in detail["samples"]:
        return None, 0
    return detail["samples"]["round_s"]["median"] - statistics.median(untraced), len(untraced)


def report(detail):
    e2e = detail.get("end_to_end", {})
    lines = [f"perfbench {detail['workload']} seed={detail['seed']} trace={detail['trace']}"
             f" wall={detail['wall_s']:.1f}s"]
    for name, m in e2e.items():
        lines.append(f"  {name:<14} {m['value']:.4f} {m['unit']}  (median of {m['samples']})")
    for name, m in detail.get("samples", {}).items():
        if not name.startswith("entry."):
            lines.append(f"  {name:<14} {m['median']:.4f}  (median of {m['samples']})")
    lines.append(f"  pinned_mb      {detail['pinned_mb']:.3f}")
    lines.append(f"  error_rate     {detail['error_rate']:.4f}")
    for f in detail.get("failures", []):
        lines.append(f"  FAILED {f}")
    lines.append("  fingerprint " + json.dumps(detail["fingerprint"], sort_keys=True))
    print("\n".join(lines), file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fixtures", metavar="SAMPLES",
                    help="rewrite perfbench/data/curation_fixtures.txt for these samples (0,1,...)")
    args = ap.parse_args()
    if not args.workload and not args.record_fixtures:
        ap.error("--workload is required")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classes = build.build(build_dir)
    except (SystemExit, subprocess.CalledProcessError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    data = os.path.join(HERE, "data")
    results = os.path.join(build_dir, "results")
    os.makedirs(results, exist_ok=True)
    tag = args.workload or "fixtures"
    work = os.path.join(build_dir, "work", f"{tag}-{os.getpid()}")
    try:
        if args.record_fixtures:
            out = os.path.join(data, "curation_fixtures.txt")
            code = run_jvm(classes, work, ["--record-fixtures", args.record_fixtures,
                                                "--work", work, "--data", data, "--out", out],
                           timeout=3600)
            return code
        prefix = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        for suffix in (".result.json", ".detail.json", ".spans.jsonl"):
            if os.path.exists(prefix + suffix):
                os.remove(prefix + suffix)
        t0 = time.time()
        code = run_jvm(classes, work, [
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--data", data, "--out", prefix])
        if code != 0 or not os.path.exists(prefix + ".result.json"):
            print(f"perfbench: run failed (exit {code}) after {time.time() - t0:.1f}s",
                  file=sys.stderr)
            return 1
        with open(prefix + ".detail.json") as f:
            detail = json.load(f)
        report(detail)
        with open(prefix + ".result.json") as f:
            result = json.load(f)
        if args.trace:
            overhead, basis = trace_overhead(results, args.workload, detail)
            result["metrics"]["trace.overhead_s"]["value"] = overhead or 0.0
            print(f"  trace.overhead_s {overhead} (against {basis} untraced runs)"
                  if overhead is not None else
                  "  trace.overhead_s: no untraced run of this build to compare with",
                  file=sys.stderr)
        print(json.dumps(result, separators=(",", ":")), flush=True)
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
