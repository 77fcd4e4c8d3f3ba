#!/usr/bin/env python3
"""Run the repository benchmark as alternating parent/change pairs and
judge every end-to-end metric.

Usage: ab_pairs.py <parent_dir> <change_dir> [--pairs 10] [--workload W]
                   [--first-seed 1]

Both dirs are checkouts of the repository. Pair i runs
`perfbench/run.py --workload W --seed S --seconds <run_seconds> --trace 0`
in each checkout on seed S = first_seed + i - 1; the parent goes first in
odd pairs and the change in even ones, so drift in machine load does not
favour either side. Without `--workload` every workload of
`BENCHMARK.json` runs, one after another within each pair.

Metric names, `better` and `bound` come from the change's
`BENCHMARK.json` (the parent's must declare the same metrics). For each
workload and metric the report gives each side's median and quartiles
(inclusive method), the pairs the change won (ties count for neither
side) and a verdict:

  gain          the change won at least 9 of 10 pairs and its median is
                better than the parent's by more than the parent's
                interquartile range
  worse         the change's median is worse than the parent's by more
                than `bound` (a share of the parent's median); when the
                spread is wider than the bound, only if every change run
                is worse than every parent run
  unresolved    the spread (the wider of the two interquartile ranges,
                as a share of the parent's median) exceeds the bound, and
                neither side's runs all read better than the other's
  within bound  otherwise

It also reports, per workload and side, whether every run was `correct`
and the `fail_rate` over all attempted ops. Exits 0 when every run
completed and was correct, 1 otherwise, 2 on bad usage.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys

GAIN_SHARE = 0.9
SIDES = ("parent", "change")


def load_benchmark(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(checkout, workload, seed, seconds):
    """One benchmark run; its JSON line, or None if it did not finish."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(f"[ab] {checkout} {workload} seed {seed} exited {r.returncode}:\n"
                         f"{r.stderr[-2000:]}\n")
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def verdict(base, new, lower_better, bound):
    """(verdict, wins) for one metric over paired samples."""
    sign = 1.0 if lower_better else -1.0  # positive `sign * (b - n)` = change better
    wins = sum(1 for b, n in zip(base, new) if sign * (b - n) > 0)
    bm, nm = statistics.median(base), statistics.median(new)
    (bq1, bq3), (nq1, nq3) = quartiles(base), quartiles(new)
    gain = sign * (bm - nm)
    if wins >= math.ceil(GAIN_SHARE * len(base)) and gain > bq3 - bq1:
        return "gain", wins
    scale = abs(bm) if bm else 1.0
    worse_share = -gain / scale
    if max(bq3 - bq1, nq3 - nq1) / scale > bound:
        if all(sign * (b - n) > 0 for b in base for n in new):
            return "within bound", wins
        if worse_share > bound and all(sign * (n - b) > 0 for b in base for n in new):
            return "worse", wins
        return "unresolved", wins
    return ("worse" if worse_share > bound else "within bound"), wins


def main(argv):
    ap = argparse.ArgumentParser(description="alternating parent/change benchmark pairs")
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workload")
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)
    dirs = dict(zip(SIDES, (args.parent_dir, args.change_dir)))
    if args.pairs < 1:
        ap.error("--pairs must be at least 1")
    for d in dirs.values():
        if not os.path.isfile(os.path.join(d, "perfbench", "run.py")):
            ap.error(f"{d} has no perfbench/run.py")
    bench = load_benchmark(args.change_dir)
    metrics = bench["end_to_end"]
    if [m["name"] for m in load_benchmark(args.parent_dir)["end_to_end"]] != [m["name"] for m in metrics]:
        ap.error("the two checkouts declare different end-to-end metrics")
    workloads = [w["name"] for w in bench["workloads"]]
    if args.workload:
        if args.workload not in workloads:
            ap.error(f"unknown workload {args.workload}; BENCHMARK.json has {workloads}")
        workloads = [args.workload]

    # results[workload][side] = one JSON line (or None) per pair
    results = {w: {s: [] for s in SIDES} for w in workloads}
    for i in range(args.pairs):
        seed = args.first_seed + i
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for w in workloads:
            for side in order:
                res = run_once(dirs[side], w, seed, bench["run_seconds"])
                results[w][side].append(res)
            line = {s: results[w][s][-1] for s in SIDES}
            shown = ", ".join(
                f"{s}={line[s]['metrics']['pass_s']['value']:.4g}" if line[s] else f"{s}=FAILED"
                for s in SIDES)
            print(f"[ab] pair {i + 1}/{args.pairs} seed {seed} {w} ({order[0]} first): pass_s {shown}",
                  flush=True)

    ok = True
    for w in workloads:
        runs = results[w]
        done = [k for k in range(args.pairs) if all(runs[s][k] is not None for s in SIDES)]
        print(f"\n{w}: {len(done)} of {args.pairs} pairs completed")
        for s in SIDES:
            rs = [r for r in runs[s] if r is not None]
            attempted = sum(r["attempted"] for r in rs)
            failed = sum(r["failed"] for r in rs)
            correct = len(rs) == args.pairs and all(r["correct"] for r in rs)
            ok &= correct
            rate = failed / attempted if attempted else float("nan")
            print(f"  {s:6s} correct={str(correct).lower()} fail_rate={rate:.4g} ({failed}/{attempted} ops)")
        if not done:
            ok = False
            continue
        print(f"  {'metric':12s} {'unit':5s} {'parent median [q1, q3]':>32s} "
              f"{'change median [q1, q3]':>32s} {'wins':>6s} {'bound':>6s}  verdict")
        for m in metrics:
            name = m["name"]
            base = [runs["parent"][k]["metrics"][name]["value"] for k in done]
            new = [runs["change"][k]["metrics"][name]["value"] for k in done]
            v, wins = verdict(base, new, m["better"] == "lower", m["bound"])
            cells = []
            for xs in (base, new):
                q1, q3 = quartiles(xs)
                cells.append(f"{statistics.median(xs):.6g} [{q1:.6g}, {q3:.6g}]")
            print(f"  {name:12s} {m['unit']:5s} {cells[0]:>32s} {cells[1]:>32s} "
                  f"{wins:>3d}/{len(done):<2d} {m['bound']:6.3g}  {v}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
