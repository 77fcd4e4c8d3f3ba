"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Builds the engine and harness from source (``build.py``), generates the
seeded inputs (``gen.py``), runs one closed-loop harness JVM at
``local[<cores>]``, checks every output (digests across passes and
sessions, plus DuckDB oracles, ``oracle.py``) and prints one JSON line:
end-to-end metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.
The full record (environment stamp, raw samples, all metrics) is kept under
``.bench_build/results`` for ``compare.py``.
"""
import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH_DIR)
sys.dont_write_bytecode = True  # keep the benchmark's own directory unchanged

import build  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("posts_pipeline", "catalog_warm")
POSTS = 5000  # posts_pipeline corpus size
DRIVER_MEM = "3g"
DEADLINE_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("op_s.p50", "s"), ("op_s.tail", "s"),
              ("posts_per_s", "1/s"), ("retained_mb", "MB")]

# per-layer metric -> unit; every traced run reports all of them (0 where
# the layer is idle in that workload)
PER_LAYER = {
    "session.build_s": "s", "session.register_s": "s",
    "build.s": "s", "build.jobs": "count", "action.s": "s", "action.jobs": "count",
    "plan.optimize_ms": "ms", "plan.planning_ms": "ms",
    "jobs": "count", "tasks": "count", "tasks_per_job": "count", "sched.delay_s": "s",
    "driver.gap_s": "s", "exec.busy_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.utilization": "ratio", "shuffle.read_mb": "MB", "shuffle.write_mb": "MB", "spill.mb": "MB",
    **{f"memo.build_s.{f}": "s" for f in ("edges", "lexical", "pq", "funnel", "vocab")},
    **{f"memo.build_jobs.{f}": "count" for f in ("edges", "lexical", "pq", "funnel", "vocab")},
    "storage.rdds": "count", "storage.mb": "MB", "storage.tmp_mb": "MB", "storage.gc_released_mb": "MB",
    "storage.churn_mb": "MB", "storage.churn_rdds": "count",
    "functions.keyword_tag_s": "s", "text.tokenize_s": "s", "io.scan_s": "s",
    "pipeline.run_s": "s", "pipeline.reports_s": "s", "pipeline.charts_s": "s",
    "io.bytes_written": "B", "pipeline.sql_execs_per_output": "ratio",
    "self.pass_s": "s", "self.op_s": "s", "self.build_s": "s", "self.action_s": "s", "self.jobs_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.reconcile_err": "ratio", "control.drift": "ratio",
}

def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_harness(args, classes_cp, data, out, tmp, log_path, deadline):
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xms{DRIVER_MEM}", f"-Xmx{DRIVER_MEM}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={os.path.join(tmp, 'spark')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes_cp, "perfbench.Harness",
            "--workload", args.workload, "--data", data, "--out", out, "--tmp", tmp,
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--seed", str(args.seed),
            "--cores", str(cores()), "--posts", str(POSTS)])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_GRAFT_ADVISORY_MB", "SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, start_new_session=True)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
    return rc


def cpu_times():
    """Aggregate CPU jiffies from /proc/stat (empty where unavailable)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return []


def steal_share(a, b):
    """Share of CPU time the hypervisor took from this machine between two
    readings: load from outside the container shows up here."""
    if len(a) < 8 or len(b) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def tail_stat(xs):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def git_commit(root):
    try:
        r = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def judge(res, check_results):
    """(attempted, failed, reasons) over the timed ops."""
    ops = res["ops"]
    reference = {}
    for o in ops:  # the first (warmup) result of each op is the reference
        if o["error"] is None and o["name"] not in reference:
            reference[o["name"]] = o["digest"]
    bad_checks = {}
    for c in res["checks"]:
        reason = check_results[c["name"]]
        if reason is not None:
            bad_checks.setdefault(c["op"], []).append(f"{c['name']}: {reason}")
    reasons = []
    failed = 0
    # a failed call that is not an op (Pipeline.run) stops its pass's ops,
    # so it counts as one attempted and failed op itself
    timed = [o for o in ops if o["pass"] >= 1 and (o["counted"] or o["error"] is not None)]
    for o in ops:
        why = None
        if o["error"] is not None:
            why = f"threw: {o['error']}"
        elif o["digest"] != reference[o["name"]]:
            why = "result differs from its first run"
        elif o["name"] in bad_checks:
            why = "; ".join(bad_checks[o["name"]])
        if why:
            reasons.append(f"{o['name']} pass {o['pass']}: {why}")
            if o in timed:
                failed += 1
    op_names = {o["name"] for o in ops}
    reasons += [f"{op}: {r}" for op, rs in bad_checks.items() if op not in op_names for r in rs]
    return len(timed), failed, reasons


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    try:
        digest = build.build()
    except build.BuildError as e:
        fail(str(e), 2)
    deadline = time.time() + DEADLINE_S

    run_dir = os.path.join(build.BUILD_DIR, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data, out, tmp = (os.path.join(run_dir, d) for d in ("data", "out", "tmp"))
    for d in (data, out, tmp):
        os.makedirs(d)
    if args.workload == "posts_pipeline":
        gen.write_posts(data, args.seed, POSTS)
    else:
        gen.write_config(data)  # the kernel layers tag and tokenize documents with it
        gen.write_catalog(data, args.seed)

    log_path = os.path.join(run_dir, "harness.log")
    cpu0 = cpu_times()
    rc = run_harness(args, build.classpath(), data, out, tmp, log_path, deadline)
    cpu1 = cpu_times()
    result_path = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-3000:])
        fail("harness timed out" if rc is None else f"harness exited with {rc}")
    with open(result_path) as f:
        res = json.load(f)

    import oracle  # duckdb is only needed once there is something to check
    check_results = oracle.run_checks(res["check_setup_sql"], res["checks"])
    attempted, failed, reasons = judge(res, check_results)

    timed_ops = [o["seconds"] for o in res["ops"] if o["pass"] >= 1 and o["counted"]]
    pass_s = statistics.median(res["pass_s"])
    tail, tail_pct, n_ops = tail_stat(timed_ops)
    e2e = {
        "setup_s": statistics.median(res["setup_s"]),
        "pass_s": pass_s,
        "op_s.p50": statistics.median(timed_ops),
        "op_s.tail": tail,
        "posts_per_s": res["posts"] / pass_s,
        "retained_mb": res["storage"]["mb"] + res["storage"]["tmp_mb"],
    }
    layers = res["layers"]
    if args.trace:
        missing = [k for k in PER_LAYER if k not in layers]
        if missing:
            fail(f"traced run is missing per-layer metrics {missing}")
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}

    stamp = dict(res["stamp"])
    stamp.update({"driver_mem": DRIVER_MEM, "advisory_env": os.environ.get("SPARK_GRAFT_ADVISORY_MB"),
                  "python": platform.python_version(), "machine": platform.machine()})
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "stamp": stamp, "commit": git_commit(build.ROOT), "source_digest": digest,
        "control": res["control"], "steal_share": steal_share(cpu0, cpu1),
        "op_s.tail_percentile": tail_pct, "op_count": n_ops,
        "fail_rate": failed / attempted if attempted else 1.0, "failures": reasons,
        "checks": check_results, "end_to_end": e2e, "layers": layers, "pass_s": res["pass_s"],
        "setup_s": res["setup_s"], "storage": res["storage"], "marks_s": res["marks_s"],
        "op_s": {n: statistics.median(o["seconds"] for o in res["ops"] if o["name"] == n and o["pass"] >= 1)
                 for n in dict.fromkeys(o["name"] for o in res["ops"] if o["pass"] >= 1)},
    }
    results_dir = os.path.join(build.BUILD_DIR, "results")
    os.makedirs(results_dir, exist_ok=True)
    with open(os.path.join(results_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, ensure_ascii=False)
    if args.trace:
        shutil.copy(os.path.join(out, "spans.json"),
                    os.path.join(results_dir, f"{args.workload}-s{args.seed}-spans.json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    for r in reasons[:20]:
        print(f"FAIL {r}")
    print(f"{args.workload}: " + ", ".join(f"{k}={v:.4g} {u}" for (k, u), v in
                                           zip(END_TO_END, (e2e[k] for k, _ in END_TO_END))) +
          f", fail_rate={record['fail_rate']:.4g} ratio"
          f" (op_s.tail is p{tail_pct:.0f} of {n_ops} ops; control {res['control']['before_s']:.4g}"
          f" -> {res['control']['after_s']:.4g} s)")
    print(json.dumps({"correct": failed == 0 and not reasons, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
