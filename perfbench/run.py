"""Runs one benchmark workload and prints its result as the last line.

    python3 perfbench/run.py --workload candle_read --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first call builds the program and
the benchmark into .bench_build (see build.py); artifacts of each run go
to .bench_build/results. Exits non-zero on a wrong answer, a failed
operation or a build error.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(OUT, "results")
WORKLOADS = ("candle_read", "curation_stream")
TIMEOUT_S = 170

def run_jvm(cmd, log_name):
    """Runs the JVM with stderr to a log file; returns (code, stdout)."""
    os.makedirs(RESULTS, exist_ok=True)
    log = os.path.join(RESULTS, log_name)
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=lf, cwd=ROOT, text=True)
        try:
            out, _ = p.communicate(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            print(f"timed out after {TIMEOUT_S} s; log: {log}", file=sys.stderr)
            return 1, ""
    if p.returncode != 0:
        with open(log) as lf:
            tail = lf.readlines()[-30:]
        sys.stderr.write("".join(tail))
    return p.returncode, out


def add_overhead(workload, seed):
    """Adds to the traced artifact the end-to-end difference from the
    untraced run of the same workload and seed, when one exists."""
    base = os.path.join(RESULTS, f"{workload}-s{seed}-t")
    if not (os.path.isfile(base + "0.json") and os.path.isfile(base + "1.json")):
        return
    plain = json.load(open(base + "0.json"))["end_to_end"]
    traced = json.load(open(base + "1.json"))
    traced["tracing_overhead"] = {
        k: (traced["end_to_end"][k]["value"] / v["value"] - 1.0) if v["value"] else None
        for k, v in plain.items()}
    with open(base + "1.json", "w") as f:
        json.dump(traced, f)


def main():
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    try:
        cp = build.build(with_tests=a.selftest)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    if a.selftest:
        code, out = run_jvm(build.java_cmd(cp, "perfbench.SelfTest", []), "selftest.log")
        sys.stdout.write(out)
        return code
    work = os.path.join(OUT, "work")
    shutil.rmtree(work, ignore_errors=True)  # left by a killed run
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--out", RESULTS, "--work", work]
    code, out = run_jvm(build.java_cmd(cp, "perfbench.Main", args),
                        f"{a.workload}-s{a.seed}-t{a.trace}.log")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if a.trace == 1 and code == 0:
        add_overhead(a.workload, a.seed)
    if lines and lines[-1].startswith("{"):
        print(lines[-1])
    return code


if __name__ == "__main__":
    sys.exit(main())
