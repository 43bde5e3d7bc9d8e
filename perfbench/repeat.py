"""Repeatability check: two sets of runs of the same commit.

    python3 perfbench/repeat.py --workload cdc_ingest [--runs 10]
    python3 perfbench/repeat.py --workload analytics_mix --runs 5 --overhead

Run from the repository root. Each of the two sets runs the BENCHMARK.json
command ``--runs`` times, each with another seed (set k uses seeds
k*1000+1, ...). For every end-to-end metric it prints each set's median and
quartiles, the spread (third minus first quartile, as a share of the
median) and whether the sets agree within the metric's bound: each set's
spread at most the bound, and the second set's median within the bound of
the first's, in either direction. Exits 1 if any run fails, is incorrect,
or the sets disagree.

``--overhead`` instead runs each seed once untraced and once traced and
reports the tracing overhead: the traced median of the workload's class-a
operation minus the untraced one.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartiles  # noqa: E402


def one_run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        raise SystemExit(f"run failed ({p.returncode}): {' '.join(cmd)}\n{p.stderr[-3000:]}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        mism = [line for line in p.stderr.splitlines() if "MISMATCH" in line]
        raise SystemExit(f"incorrect output: {' '.join(cmd)}\n" + "\n".join(mism))
    return res["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--overhead", action="store_true")
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if args.overhead:
        seeds = range(1, args.runs + 1)
        plain = median([one_run(bench, args.workload, s, 0)["class_a_p50_s"]["value"]
                        for s in seeds])
        traced = median([one_run(bench, args.workload, s, 1)["trace.class_a_p50_s"]["value"]
                         for s in seeds])
        print(f"tracing overhead on class_a_p50_s: {traced - plain:+.4g} s "
              f"(traced median {traced:.4g} s, untraced {plain:.4g} s)")
        return 0
    metrics = bench["end_to_end"]
    sets = []
    for k in range(2):
        runs = []
        for i in range(args.runs):
            seed = k * 1000 + i + 1
            runs.append(one_run(bench, args.workload, seed, 0))
            print(f"set {k + 1} seed {seed}: " + ", ".join(
                f"{m['name']}={runs[-1][m['name']]['value']:.4g}" for m in metrics),
                file=sys.stderr, flush=True)
        sets.append(runs)

    agree = True
    print(f"{'metric':<16} {'set':>3} {'median':>11} {'q1':>11} {'q3':>11} {'spread':>7}  verdict")
    for m in metrics:
        name, bound = m["name"], m["bound"]
        first = None
        for k, runs in enumerate(sets):
            q1, med, q3 = quartiles([r[name]["value"] for r in runs])
            spread = (q3 - q1) / med if med else float("inf")
            ok = spread <= bound
            if first is None:
                first = med
            else:
                ok &= abs(med - first) / first <= bound
            agree &= ok
            print(f"{name:<16} {k + 1:>3} {med:>11.5g} {q1:>11.5g} {q3:>11.5g} "
                  f"{spread:>7.3f}  {'ok' if ok else 'OUT OF BOUND'} "
                  f"(bound {bound}, {m['unit']})")
    print("sets agree within bounds" if agree else "SETS DISAGREE")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
