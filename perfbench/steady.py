"""Steadiness check: two sets of runs of one commit, compared.

    python3 perfbench/steady.py [--runs 10] [--workloads climate,curation]
                                [--trace-runs 0] [--out FILE]

For each of two sets it runs ``perfbench/run.py`` once per seed (set
``k`` uses seeds ``k*100+1 .. k*100+runs``) on every workload, then
prints per workload and end-to-end metric each set's median and
quartiles, the spread (interquartile range over median) against the
metric's bound in ``BENCHMARK.json``, and whether the two medians
differ by no more than the bound, in either direction.  It exits
non-zero if any spread or difference is over its bound.  ``--trace-runs N`` adds N traced runs per workload
and prints the tracing overhead: the traced end-to-end figures against
the untraced medians.  Every run's full record (with load average and
heap) goes to ``--out`` as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"),
         "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           f"{p.stderr[-2000:]}")
    return {"workload": workload, "seed": seed, "trace": trace,
            "wall_s": time.perf_counter() - t,
            "detail": json.loads(lines[-2]), "result": json.loads(lines[-1])}


def quartiles(v: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(v, n=4)
    return q1, med, q3


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--trace-runs", type=int, default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args(argv)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    sink = open(a.out, "a") if a.out else None
    records: list[dict] = []

    def keep(r):
        records.append(r)
        if sink:
            sink.write(json.dumps(r) + "\n")
            sink.flush()

    names = a.workloads.split(",")
    for k in range(SETS):
        for i in range(1, a.runs + 1):
            for w in names:
                r = run_once(w, k * 100 + i, seconds, 0)
                r["set"] = k
                keep(r)
                print(f"set {k} {w:9s} seed {r['seed']:4d} "
                      f"{r['wall_s']:6.1f}s correct="
                      f"{r['result']['correct']}", file=sys.stderr)
    for w in names:
        for i in range(a.trace_runs):
            r = run_once(w, 900 + i, seconds, 1)
            r["set"] = "trace"
            keep(r)
    ok_all = True
    for w in names:
        print(f"\n{w}")
        print(f"  {'metric':12s} {'set':>3s} {'q1':>11s} {'median':>11s} "
              f"{'q3':>11s} {'spread':>7s} {'bound':>6s}")
        for m, bound in bounds.items():
            meds = []
            for k in range(SETS):
                v = [r["result"]["metrics"][m]["value"] for r in records
                     if r["workload"] == w and r["set"] == k]
                q1, med, q3 = quartiles(v)
                meds.append(med)
                spread = (q3 - q1) / med
                ok = spread <= bound
                ok_all &= ok
                print(f"  {m:12s} {k:3d} {q1:11.4g} {med:11.4g} {q3:11.4g} "
                      f"{spread:7.3f} {bound:6.2f}{'' if ok else '  WIDE'}")
            better = next(x["better"] for x in bench["end_to_end"]
                          if x["name"] == m)
            worse = (meds[1] - meds[0]) / meds[0] if better == "lower" \
                else (meds[0] - meds[1]) / meds[0]
            # two sets of one commit: a gain beyond the bound is as wrong
            agree = abs(worse) <= bound
            ok_all &= agree
            print(f"  {m:12s} second set {'+' if worse >= 0 else ''}"
                  f"{100 * worse:.1f}% worse: "
                  f"{'agrees' if agree else 'DISAGREES'}")
        fail = {(r["result"]["failed"], r["result"]["attempted"]) for r in
                records if r["workload"] == w and r["set"] != "trace"}
        print(f"  failed/attempted per run: {sorted(fail)}")
        traced = [r for r in records
                  if r["workload"] == w and r["set"] == "trace"]
        if traced:
            for m in bounds:
                base = statistics.median(
                    r["result"]["metrics"][m]["value"] for r in records
                    if r["workload"] == w and r["set"] != "trace")
                tv = statistics.median(r["detail"]["end_to_end"][m]
                                       for r in traced)
                print(f"  tracing overhead {m:12s} {tv:11.4g} vs "
                      f"{base:11.4g} ({100 * (tv - base) / base:+.1f}%)")
    return 0 if ok_all else 1


if __name__ == "__main__":
    sys.exit(main())
