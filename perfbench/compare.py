"""Compares two sets of benchmark records (``.bench_build/results/*.json``).

    python3 perfbench/compare.py BASE.json [BASE2.json ...] -- NEW.json [NEW2.json ...]

Each side's metric is the median over its records. Records of different
workloads or trace modes are not compared, and neither are records whose
environment stamps differ (cores, driver memory, advisory partition size,
JVM, Spark, machine): the script refuses with exit code 2. Commits and
source digests are shown, not compared, since comparing code is the point.
"""
import json
import statistics
import sys

ENV_KEYS = ("cores", "driver_mem", "driver_max_heap_mb", "advisory_partition_bytes", "advisory_env",
            "jvm", "spark", "machine")


def load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def main(argv):
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    i = argv.index("--")
    base, new = load(argv[:i]), load(argv[i + 1:])
    if not base or not new:
        print("both sides need at least one record", file=sys.stderr)
        return 2
    recs = base + new
    kinds = {(r["workload"], r["trace"]) for r in recs}
    if len(kinds) != 1:
        print(f"refusing: records mix workloads/trace modes {sorted(kinds)}", file=sys.stderr)
        return 2
    stamps = {json.dumps({k: r["stamp"].get(k) for k in ENV_KEYS}, sort_keys=True) for r in recs}
    if len(stamps) != 1:
        print("refusing: environment stamps differ:", file=sys.stderr)
        for s in sorted(stamps):
            print("  " + s, file=sys.stderr)
        return 2
    key = "layers" if recs[0]["trace"] else "end_to_end"
    for side, rs in (("base", base), ("new", new)):
        ctl = [r["control"]["after_s"] / r["control"]["before_s"] for r in rs]
        print(f"{side}: {len(rs)} runs, commits {sorted({str(r['commit']) for r in rs})}, "
              f"failures {sum(len(r['failures']) for r in rs)}, control drift median {statistics.median(ctl):.3f}")
    print(f"{'metric':36s} {'base':>12s} {'new':>12s} {'new/base':>9s}")
    for m in recs[0][key]:
        b = statistics.median(r[key][m] for r in base)
        n = statistics.median(r[key][m] for r in new)
        ratio = f"{n / b:9.3f}" if b else f"{'-':>9s}"
        print(f"{m:36s} {b:12.5g} {n:12.5g} {ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
