"""Helpers around run.py.

    python3 perfbench/tools.py quick
        Every workload at tiny sizes, untraced and traced, with all output
        checks; a few minutes. Exits 1 if any run is incorrect or failed
        an operation.

    python3 perfbench/tools.py compare [--workload W]
        Runs two sets of ten runs per workload, seeds 1001-1040 (every
        run another seed), and prints, for each pair of end-to-end
        metric and workload, each set's median and quartiles, the spread
        (quartile distance over median) and whether every spread and the
        shift between the two medians, in either direction, stay within
        the bound in BENCHMARK.json. Exits 1 if any does not.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS, SETS, FIRST_SEED = 10, 2, 1001


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def run_once(workload: str, seed: int, seconds: float, trace: int = 0,
             quick: bool = False) -> dict | None:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    if quick:
        cmd.append("--quick")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, check=False)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        print(f"{workload} seed={seed}: exit {p.returncode}, no result")
        return None
    if len(lines) > 1:
        print(lines[-2])
    return json.loads(lines[-1])


def quick() -> int:
    ok = True
    for w in _bench()["workloads"]:
        for trace in (0, 1):
            r = run_once(w["name"], seed=1, seconds=1, trace=trace, quick=True)
            good = bool(r) and r["correct"] and r["failed"] == 0
            ok &= good
            print(f"{w['name']} trace={trace}: {'ok' if good else 'FAILED'}")
            if r:
                for name, m in r["metrics"].items():
                    print(f"    {name:28s} {m['value']:.6g} {m['unit']}")
    return 0 if ok else 1


def _quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3


def compare(workloads: list[str]) -> int:
    bench = _bench()
    seconds = bench["run_seconds"]
    metrics = bench["end_to_end"]
    results: dict = {}
    seed = FIRST_SEED
    for s in range(SETS):
        for w in workloads:
            for _ in range(RUNS):
                results.setdefault((w, s), []).append(run_once(w, seed, seconds))
                seed += 1
    ok = True
    print(f"\n{'workload':22s} {'metric':14s} {'set':>3s} {'median':>10s} "
          f"{'q1':>10s} {'q3':>10s} {'spread':>7s}  verdict")
    for w in workloads:
        shares = set()
        for s in range(SETS):
            rs = [r for r in results[(w, s)] if r]
            shares.add((sum(r["failed"] for r in rs), sum(r["attempted"] for r in rs)))
            if len(rs) < RUNS or not all(r["correct"] for r in rs):
                ok = False
                print(f"{w}: set {s}: {RUNS - len(rs)} runs without result or incorrect")
        failed_share = {f / a for f, a in shares if a}
        if len(failed_share) > 1:
            ok = False
            print(f"{w}: failed share differs between sets: {shares}")
        for m in metrics:
            meds = []
            for s in range(SETS):
                vals = [r["metrics"][m["name"]]["value"] for r in results[(w, s)] if r]
                q1, med, q3 = _quartiles(vals)
                spread = (q3 - q1) / med
                meds.append(med)
                verdict = ["spread ok" if spread <= m["bound"] else "SPREAD > bound"]
                ok &= spread <= m["bound"]
                if spread > m["bound"] / 3:
                    verdict.append("(above a third of the bound)")
                if s > 0:
                    shift = (med - meds[0]) / meds[0]
                    verdict.append(f"shift {shift:+.3f} " + ("ok" if abs(shift) <= m["bound"]
                                                             else "> bound"))
                    ok &= abs(shift) <= m["bound"]
                print(f"{w:22s} {m['name']:14s} {s:>3d} {med:10.4f} {q1:10.4f} {q3:10.4f} "
                      f"{spread:7.3f}  {' '.join(verdict)}")
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("quick")
    c = sub.add_parser("compare")
    c.add_argument("--workload", action="append")
    args = ap.parse_args()
    if args.cmd == "quick":
        return quick()
    return compare(args.workload or [w["name"] for w in _bench()["workloads"]])


if __name__ == "__main__":
    sys.exit(main())
