#!/usr/bin/env python3
"""Alternating A/B pairs of two checkouts through perfbench/run.py.

    python3 scripts/ab_pairs.py --parent ../parent --change . \\
        --workload marts --seed 1 --pairs 10 [--out pairs.json]

Each pair runs `python3 perfbench/run.py --workload W --seed S --trace 0`
once in each checkout, the parent first in even pairs and the change
first in odd ones. Each checkout runs its own, unedited perfbench, which
builds into that checkout. For every workload and end-to-end metric of the
change's BENCHMARK.json it prints each side's median and quartiles, the
change's pair wins (ties count for neither side), the parent's
interquartile range, and two verdicts:

  gain   the change won at least 9 of 10 pairs and the medians differ,
         in the better direction, by more than the parent's IQR
  worse  the change's median is worse than the parent's by more than the
         metric's bound (relative)

It also prints each query's window per side (median and quartiles, and
the change's pair wins), read from the run's
`<build dir>/results/<workload>-seed<S>-trace0/result.json` in each
checkout, so a claim can name the query that moved, and each side's failed
and attempted query counts. --out keeps every run's metrics and windows as
JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--trace", "0"],
        cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.exit(f"ab_pairs: run failed in {checkout} (exit {p.returncode}):\n"
                 + p.stderr[-2000:])
    res = json.loads(lines[-1])
    # perfbench's raw per-query rows; the build dir is resolved as run.py does
    build = os.path.join(checkout, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    raw = json.load(open(os.path.join(build, "results", f"{workload}-seed{seed}-trace0",
                                      "result.json")))
    return {"failed": res["failed"], "attempted": res["attempted"],
            "metrics": {k: v["value"] for k, v in res["metrics"].items()},
            "windows": {q["name"]: q["window_s"] for q in raw["queries"]}}


def quartiles(xs):
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def report(workload, runs, spec):
    print(f"\n== {workload}: {len(runs)} pairs ==")
    print(f"{'metric':<14} {'parent med [q1, q3]':>28} {'change med [q1, q3]':>28}"
          f" {'delta':>7} {'wins':>6} {'p.IQR':>8}  verdict")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        a = [r["parent"]["metrics"][name] for r in runs]
        b = [r["change"]["metrics"][name] for r in runs]
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        wins = sum((y < x) if lower else (y > x) for x, y in zip(a, b))
        gain_by = (am - bm) if lower else (bm - am)
        worse_by = -gain_by / am if am else 0.0
        verdict = []
        if wins >= 0.9 * len(runs) and gain_by > a3 - a1:
            verdict.append("gain")
        if worse_by > m["bound"]:
            verdict.append("worse")
        print(f"{name:<14} {am:>10.3f} [{a1:.3f}, {a3:.3f}] {bm:>10.3f} [{b1:.3f}, {b3:.3f}]"
              f" {(bm / am - 1) * 100 if am else 0:>+6.1f}% {wins:>3}/{len(runs):<2}"
              f" {a3 - a1:>8.3f}  {' '.join(verdict) or '-'}")
    print(f"\n{'query window s':<28} {'parent med [q1, q3]':>26} {'change med [q1, q3]':>26}"
          f" {'delta':>7} {'wins':>6}")
    for q in runs[0]["parent"]["windows"]:
        a = [r["parent"]["windows"][q] for r in runs]
        b = [r["change"]["windows"][q] for r in runs]
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        wins = sum(y < x for x, y in zip(a, b))
        print(f"{q:<28} {am:>8.3f} [{a1:.3f}, {a3:.3f}] {bm:>8.3f} [{b1:.3f}, {b3:.3f}]"
              f" {(bm / am - 1) * 100 if am else 0:>+6.1f}% {wins:>3}/{len(runs):<2}")
    for side in ("parent", "change"):
        f = sum(r[side]["failed"] for r in runs)
        n = sum(r[side]["attempted"] for r in runs)
        print(f"{side} failed {f}/{n}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="parent checkout")
    ap.add_argument("--change", required=True, help="changed checkout")
    ap.add_argument("--workload", required=True, help="comma-separated workloads")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--out", default=None, help="write every run's metrics here")
    args = ap.parse_args()

    sides = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    spec = json.load(open(os.path.join(sides["change"], "BENCHMARK.json")))
    out = {}
    for w in args.workload.split(","):
        runs = []
        for i in range(args.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            pair = {}
            for s in order:
                pair[s] = run_once(sides[s], w, args.seed)
            runs.append(pair)
            print(f"{w} pair {i + 1}/{args.pairs}: makespan parent "
                  f"{pair['parent']['metrics']['makespan_s']:.2f} s, change "
                  f"{pair['change']['metrics']['makespan_s']:.2f} s", file=sys.stderr, flush=True)
        out[w] = runs
        report(w, runs, spec)
    if args.out:
        json.dump({"seed": args.seed, "runs": out}, open(args.out, "w"), indent=1)


if __name__ == "__main__":
    main()
