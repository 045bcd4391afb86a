#!/usr/bin/env python3
"""Smoke run of the nats_scan benchmark: every workload at the tiny size.

    python3 natsbench/smoke.py

For each workload (BENCHMARK.json's and `wire_query`), untraced and
traced, the run must pass its checks and
report exactly the metrics BENCHMARK.json names (end-to-end untraced,
per-layer traced), each with its unit. Then the benchmark must refuse to run,
without printing a result, in a directory that holds only BENCHMARK.json
and the benchmark's own files. Exit code 0 = all good.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# runnable, but not in BENCHMARK.json (see README.md, "Workloads")
EXTRA_WORKLOADS = ["wire_query"]


def run(cwd, workload, trace):
    cmd = [sys.executable, os.path.join("natsbench", "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "3", "--trace", trace, "--size", "tiny"]
    return subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True, timeout=900)


def check(bench, workload, trace):
    p = run(ROOT, workload, trace)
    errs = []
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return [f"exit {p.returncode}: {p.stderr[-1500:]}"]
    res = json.loads(lines[-1])
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errs.append(f"checks: correct={res.get('correct')} failed={res.get('failed')} "
                    f"attempted={res.get('attempted')}")
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace == "1" else "end_to_end"]}
    got = res.get("metrics", {})
    if set(got) != set(want):
        errs.append(f"missing {sorted(set(want) - set(got))}, "
                    f"unexpected {sorted(set(got) - set(want))}")
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            continue
        if m.get("unit") != unit:
            errs.append(f"{name}: unit {m.get('unit')!r}, expected {unit!r}")
        if not isinstance(m.get("value"), (int, float)):
            errs.append(f"{name}: value {m.get('value')!r}")
    return errs


def refuses_without_program():
    """run in a directory holding only BENCHMARK.json and natsbench/"""
    bare = os.path.join(ROOT, ".natsbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "natsbench"),
                        ignore=shutil.ignore_patterns("target", "__pycache__"))
        p = run(bare, "store_query", "0")
        printed = [l for l in p.stdout.splitlines() if l.startswith("{")]
        return [] if p.returncode != 0 and not printed else \
            [f"ran without the program: exit {p.returncode}, output {printed}"]
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bad = 0
    for w in [x["name"] for x in bench["workloads"]] + EXTRA_WORKLOADS:
        for trace in ("0", "1"):
            errs = check(bench, w, trace)
            print(f"{w:12} trace {trace}: {'ok' if not errs else 'FAIL'}", flush=True)
            for e in errs:
                print(f"    {e}")
            bad += bool(errs)
    errs = refuses_without_program()
    print(f"bare directory: {'ok' if not errs else 'FAIL'}")
    for e in errs:
        print(f"    {e}")
    bad += bool(errs)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
