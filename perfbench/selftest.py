#!/usr/bin/env python3
"""Self-test of the benchmark itself.

    python3 perfbench/selftest.py

Runs every workload at tiny size, untraced and traced, and expects its
output checks to pass; runs each again with a planted fault (a sink that
drops one row, a sink that duplicates one id, a query that returns one
extra row) and expects the checks to fail it with a non-zero exit. Last,
runs the command in a directory holding only BENCHMARK.json and this
directory, where it must fail without printing a result. Exit code 0 only
if every case behaved.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

CASES = [
    # (workload, trace, fault, checks must pass)
    ("ingest_bulk", 0, None, True),
    ("ingest_bulk", 1, None, True),
    ("ingest_bulk", 0, "drop_row", False),
    ("stream_open", 0, None, True),
    ("stream_open", 1, None, True),
    ("stream_open", 0, "dup_id", False),
    ("query_mix", 0, None, True),
    ("query_mix", 1, None, True),
    ("query_mix", 0, "wrong_result", False),
]


def run(cwd, workload, trace, fault):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", str(trace), "--tiny"]
    if fault:
        cmd += ["--fault", fault]
    p = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except ValueError:
        result = None
    return p, result


def main():
    bad = 0
    for workload, trace, fault, should_pass in CASES:
        p, result = run(ROOT, workload, trace, fault)
        passed = p.returncode == 0 and result is not None and result["correct"]
        caught = p.returncode != 0 and result is not None and not result["correct"]
        ok = passed if should_pass else caught
        what = f"{workload} trace={trace}" + (f" fault={fault}" if fault else "")
        print(f"{'PASS' if ok else 'FAIL'} {what}: exit {p.returncode}, "
              f"correct={result and result['correct']}", flush=True)
        if not ok:
            bad += 1
            sys.stdout.write(p.stderr[-3000:])

    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("target", ".work"))
        p, result = run(bare, "ingest_bulk", 0, None)
        ok = p.returncode != 0 and result is None
        print(f"{'PASS' if ok else 'FAIL'} bare directory: exit {p.returncode}, "
              f"result printed: {result is not None}", flush=True)
        bad += 0 if ok else 1
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
