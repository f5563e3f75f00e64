#!/usr/bin/env python3
"""Rewrite spark-classes.lst.gz, the fixed list of classes that
perfbench/build.py puts in the class-data-sharing archive.

Runs each workload once with -XX:DumpLoadedClassList and keeps the union
of the classes loaded, minus the program's (graft.*) and the benchmark's
(perfbench.*), which must keep loading from the class directory so that
setup_s shows them. Run from the repository root, on the code the list is
meant for, and commit the result:

  python3 perfbench/record_classes.py
"""
import gzip
import os
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import run  # noqa: E402

OWN = ("graft/", "perfbench/", "org/apache/spark/PerfbenchBridge",
       "org/apache/spark/sql/graftbridge/")


def main():
    b = build.build()
    classes = set()
    with tempfile.TemporaryDirectory(dir=build.OUT) as tmp:
        for w in run.WORKLOADS:
            listed = os.path.join(tmp, w + ".lst")
            work = os.path.join(tmp, w)
            cmd = build.java_cmd(b, work, "perfbench.Main", [
                "--mode", "run", "--workload", w, "--seed", "1", "--seconds", "10",
                "--trace", "0", "--t0-ms", str(int(time.time() * 1000)), "--work", work,
                "--cores", str(len(os.sched_getaffinity(0))), "--data", run.DATA,
                "--pins", run.PINS])
            cmd.insert(1, "-XX:DumpLoadedClassList=" + listed)
            subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.DEVNULL, check=True)
            with open(listed) as f:
                classes.update(l.strip() for l in f
                               if l.strip() and l[0] not in "#@" and not l.startswith(OWN))
    with gzip.GzipFile(build.CLASS_LIST, "wb", mtime=0) as f:
        f.write("".join(c + "\n" for c in sorted(classes)).encode())
    print("%d classes -> %s" % (len(classes), build.CLASS_LIST))


if __name__ == "__main__":
    main()
