#!/usr/bin/env python3
"""Layered benchmark of the engine (see perfbench/README.md).

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
  python3 perfbench/run.py --selftest
  python3 perfbench/run.py --make-pins

Run from the repository root. Builds the program from source on first use
(perfbench/build.py), then runs one workload in a fresh JVM on
local[<cores>]. Prints one line per metric and, as the last line, a JSON
object with the keys correct, attempted, failed and metrics. Exits
non-zero if an output check fails or the run cannot complete.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
DATA = os.path.join(HERE, "data", "sf0.1")
PINS = os.path.join(HERE, "pins.tsv")
TIMEOUT_S = 170
WORKLOADS = ("event_time", "fixpoint_loops", "llm_rowwise", "stream_replay")


def jvm(b, work, main, args):
    cmd = build.java_cmd(b, work, main, args)
    p = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True)
    try:
        return p.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("perfbench: run exceeded %d s" % TIMEOUT_S, file=sys.stderr)
        return 1
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--make-pins", action="store_true")
    a = ap.parse_args()
    if not (a.selftest or a.make_pins or a.workload):
        ap.error("one of --workload, --selftest or --make-pins is required")
    if not os.path.isdir(DATA):
        sys.exit("perfbench: fixture data missing at " + DATA)
    b = build.build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(build.OUT, "run-%d" % os.getpid())
    common = ["--work", work, "--cores", str(cores), "--data", DATA, "--pins", PINS]
    try:
        if a.selftest:
            rc = jvm(b, work, "perfbench.SelfTest", common)
        elif a.make_pins:
            rc = jvm(b, work, "perfbench.Main", ["--mode", "pins"] + common)
        else:
            t0_ms = int(time.time() * 1000)
            rc = jvm(b, work, "perfbench.Main", [
                "--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--t0-ms", str(t0_ms)] + common)
        spans = os.path.join(work, "spans")
        if os.path.isdir(spans):
            dest = os.path.join(build.OUT, "spans")
            os.makedirs(dest, exist_ok=True)
            for f in os.listdir(spans):
                shutil.move(os.path.join(spans, f), os.path.join(dest, f))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
