#!/usr/bin/env python3
"""Regenerate perfbench/pins.tsv, the query workloads' output pins.

Usage (from the repository root): python3 perfbench/make_pins.py

Dumps every text-side and relational query's output on the benchmark's
tables, pins each dump (row count + order-insensitive hash), and checks
the dumps against the DuckDB oracle with tools/verify_local.py. The pins
file is replaced only when every DuckDB-checked query matches. Takes about
20 minutes on 4 cores; DuckDB uses most of the host's memory meanwhile.
"""
import os
import re
import shutil
import subprocess
import sys

import run

DUMP = os.path.join(run.WORK, "pins-dump")


def main():
    cp = run.build()
    run.tables(cp)
    shutil.rmtree(DUMP, ignore_errors=True)
    work = os.path.join(run.WORK, "pins-run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    new_pins = os.path.join(run.WORK, "pins.tsv.new")
    try:
        code = run.java(cp, ["graft.perfbench.Main", "pin", "--data", run.TABLES,
                             "--dump", DUMP, "--pins", new_pins],
                        work, run.scratch_env(work), 3000)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        raise SystemExit("pin run failed")
    out = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "tools", "verify_local.py"), run.TABLES, DUMP],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, cwd=run.WORK).stdout
    print(out)
    m = re.search(r"(\d+)/(\d+) queries match", out)
    if not m or m.group(1) != m.group(2):
        raise SystemExit("DuckDB cross-check failed; pins.tsv left unchanged")
    shutil.move(new_pins, run.PINS)
    shutil.rmtree(DUMP, ignore_errors=True)
    print(f"wrote {run.PINS}")


if __name__ == "__main__":
    main()
