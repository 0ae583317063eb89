#!/usr/bin/env python3
"""Records the catalog expectation (perfbench/expected/catalog.json) again:
per query its row count, its result fingerprint from two sessions (marked
unstable when they differ) and one materialized time in ms. Run it when a
change alters a catalog query's output on purpose.

Usage, from the repository root:
  python3 perfbench/record.py [name,name,...]
Without names it records the queries already in the file; `all` records all
of SparkEntry.queries.
"""
import json
import os
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402


def main():
    if len(sys.argv) > 1:
        names = sys.argv[1]
    else:
        with open(build.EXPECTED) as f:
            names = ",".join(json.load(f)["queries"])
    build.build()
    scratch = os.path.abspath(os.path.join(build.OUT, "record"))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java"] + build.jvm_flags(scratch)
           + ["-cp", build.classpath(), "graftbench.Record", "--root", scratch,
              "--data", os.path.abspath(build.DATA), "--cpus", str(len(os.sched_getaffinity(0))),
              "--out", os.path.abspath(build.EXPECTED), "--queries", names])
    sys.exit(subprocess.run(cmd, stdout=sys.stderr).returncode)


if __name__ == "__main__":
    main()
