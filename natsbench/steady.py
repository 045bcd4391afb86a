#!/usr/bin/env python3
"""Steadiness report for the nats_scan benchmark.

    python3 natsbench/steady.py                      # 10 runs x every workload
    python3 natsbench/steady.py --runs 5 --workloads tail_gate
    python3 natsbench/steady.py --sets 2             # two sets, compared

Runs each workload repeatedly (untraced, a different seed each run) and
prints, per end-to-end metric, the median, the quartiles and the spread:
the distance between the quartiles (`statistics.quantiles(values, n=4)`)
as a share of the median. A spread above the metric's bound in
BENCHMARK.json (`setup_s` excepted) fails; one above a third of it is
flagged. With `--sets 2` the second set's median must not be worse than the
first's by more than the bound, for every metric. Exit code 0 = steady.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds, trace="0", size="full"):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", trace,
           "--size", size]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        errs = [l for l in p.stderr.splitlines() if " WARN " not in l]
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n"
                         f"{p.stdout[-2000:]}\n" + "\n".join(errs[-60:]))
    res = json.loads(lines[-1])
    res["wall_s"] = time.time() - t0
    return res


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def worse(a, b, better):
    """how much worse b is than a, as a share of a"""
    return (b - a) / a if better == "lower" else (a - b) / a


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    workloads = a.workloads.split(",")
    metrics = {m["name"]: m for m in bench["end_to_end"]}

    values = {}  # (set, workload, metric) -> [values]
    for s in range(a.sets):
        for i in range(a.runs):
            for w in workloads:
                seed = a.seed0 + 1000 * s + i
                r = run_once(w, seed, a.seconds)
                if not r["correct"] or r["failed"]:
                    raise SystemExit(f"{w} seed {seed}: checks failed: {r}")
                print(f"set {s + 1} run {i + 1} {w} seed {seed}: {r['wall_s']:.0f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      flush=True)
                for k, v in r["metrics"].items():
                    values.setdefault((s, w, k), []).append(v["value"])

    ok = True
    print(f"\n{'workload':12} {'metric':24} {'set':>3} {'median':>12} {'q1':>12} "
          f"{'q3':>12} {'spread':>7} {'bound':>6}  verdict")
    for w in workloads:
        for k, m in metrics.items():
            meds = []
            for s in range(a.sets):
                vs = values.get((s, w, k))
                if not vs or len(vs) < 2:
                    print(f"{w:12} {k:24} missing")
                    ok = False
                    continue
                med, q1, q3, sp = spread(vs)
                meds.append(med)
                if k == "setup_s":
                    verdict = "ok (spread not bounded)"
                elif sp > m["bound"]:
                    verdict, ok = "FAIL spread > bound", False
                elif sp > m["bound"] / 3:
                    verdict = "ok, above a third of the bound"
                else:
                    verdict = "ok"
                print(f"{w:12} {k:24} {s + 1:>3} {med:12.5g} {q1:12.5g} {q3:12.5g} "
                      f"{sp:7.3f} {m['bound']:6.2f}  {verdict}")
            if len(meds) == 2:
                d = worse(meds[0], meds[1], m["better"])
                verdict = "ok" if d <= m["bound"] else "FAIL"
                ok = ok and d <= m["bound"]
                print(f"{w:12} {k:24} 2v1 second median worse by {d:+.3f} "
                      f"(bound {m['bound']:.2f}): {verdict}")
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
