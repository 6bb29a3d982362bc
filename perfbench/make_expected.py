#!/usr/bin/env python3
"""Rebuild expected.json, the verified result fingerprints the batch
workloads compare against on every run.

    python3 perfbench/make_expected.py

It dumps the batch workloads' queries on the benchmark's sf0.1 input with
graft.Verify, gates the dumps against the DuckDB oracle with
tools/check.py (exact compare), and fingerprints the dumps that pass. A
query whose dump fails the oracle gets no entry, so every benchmark run
then counts it as a mismatch.
"""
import json
import os
import shutil
import subprocess
import sys

import run

TOOLS_CHECK = os.path.join(run.ROOT, "tools", "check.py")


def main():
    cp = run.build()
    work = os.path.join(run.BUILD, "expected-work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    queries = sorted({q for cfg in run.WORKLOADS.values() if cfg["kind"] == "batch"
                      for q in cfg["queries"]})
    dumps = os.path.join(work, "dumps")
    subprocess.run(run.java(cp, work, "graft.Verify", [run.DATA, dumps] + queries, "3g"),
                   cwd=work, check=True)
    exact = ",".join(q + "$" for q in queries)
    check = subprocess.run([sys.executable, TOOLS_CHECK, run.DATA, dumps, "--only", exact],
                           stdout=subprocess.PIPE, text=True)
    print(check.stdout)
    passed = [q for q in queries if f"PASS {q} (" in check.stdout]
    out = os.path.join(work, "prints.json")
    subprocess.run(run.java(cp, work, "perfbench.Fingerprint",
                            [dumps, out, ",".join(passed)], "3g"), cwd=work, check=True)
    with open(os.path.join(run.HERE, "expected.json"), "w") as f:
        json.dump(run.load(out), f, indent=1, sort_keys=True)
        f.write("\n")
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
