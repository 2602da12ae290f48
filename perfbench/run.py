#!/usr/bin/env python3
"""The repo benchmark: one closed-loop client, one query in flight, one JVM
at local[nproc].

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selfcheck

Run from the root of a checkout. The first run builds the program and the
benchmark runner (perfbench/build.sbt loads the root build) into the build directory
($CARGO_TARGET_DIR, default .bench_build), keyed by a hash of the sources.
Each run then:

1. generates its inputs from --seed into a fresh run directory under the
   build directory (not timed, not in setup_s);
2. starts the benchmark JVM with that directory as its working directory, so
   ModelStore artifacts, spark-warehouse and scratch never outlive the run;
3. checks every output against DuckDB (perfbench/check.py);
4. prints one JSON line: the end-to-end metrics with --trace 0, the
   per-layer metrics with --trace 1.

Workloads and their inputs are described in perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import datagen  # noqa: E402

# Input size per workload: rows of the trips CSV, or the scale factor of
# the generated registry tables (0.01 = 60k lineitem rows, 500 documents).
WORKLOADS = {
    "rideshare_tasks": {"rows": 50_000},
    "analog_core": {"sf": 0.01},
    "corpus_ml": {"sf": 0.01},
}
SELFCHECK = {"rideshare_tasks": {"rows": 2_000}, "analog_core": {"sf": 0.001},
             "corpus_ml": {"sf": 0.001}}
CORPUS_FAMILIES = ["dedup", "decontam", "quality", "sim",
                   "model_store", "stream", "pipeline"]
JVM_TIMEOUT_S = 165  # a run must end within 180 s, checks included
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]

END_TO_END = {"pass_s": "s", "query_p50_s": "s", "query_tail_s": "s",
              "setup_s": "s", "retained_heap_mb": "MB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))


def source_hash():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, p) for p in ("build.sbt", "project", "src/main")]
    roots += [os.path.join(HERE, p) for p in ("build.sbt", "project", "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, files in os.walk(r)
            if "target" not in d.split(os.sep) for f in files)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile program + benchmark runner once per source hash; return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to perfbench/ (build.sbt, src/main/scala)")
    out = build_dir()
    os.makedirs(out, exist_ok=True)
    stamp, cp_file = os.path.join(out, "stamp"), os.path.join(out, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and open(stamp).read() == digest:
        cp = open(cp_file).read().strip()
        if all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-3000:] + r.stderr[-3000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def steal_s():
    """CPU time the hypervisor gave to other guests, all vCPUs, from boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def run_jvm(cp, workload, data_dir, out_dir, run_dir, seconds, trace, cores):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # a fixed heap: a heap that grows during the run slows the early passes
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Duser.timezone=UTC"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    log_path = os.path.join(run_dir, "jvm.log")
    launch_ms = int(time.time() * 1000)
    cmd += ["-cp", cp, "perfbench.Main", workload, data_dir, out_dir,
            str(seconds), str(trace), str(cores), str(launch_ms)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"benchmark JVM exited with {rc}")
    return json.load(open(os.path.join(out_dir, "result.json")))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile: the mean of all order
    statistics weighted by a Beta(p(n+1), (1-p)(n+1)) density. It moves
    smoothly with every sample, where the sample quantile jumps from one
    query's time to the next one's when a query speeds up or slows down."""
    xs, n, m = sorted(xs), len(xs), 64
    a, b = p * (n + 1), (1 - p) * (n + 1)
    def density(t):
        return math.exp((a - 1) * math.log(t) + (b - 1) * math.log1p(-t))
    # midpoint rule on each order statistic's interval [(i-1)/n, i/n]
    w = [sum(density((i + (j + 0.5) / m) / n) for j in range(m)) for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


TAIL_Q = 0.9


def end_to_end(res):
    passes = [p for p in res["passes"] if not p["traced"]]
    timed = {p["pass"] for p in passes}
    every = [e["wall_s"] for e in res["execs"] if e["pass"] in timed]
    info = {"query_quantiles": "Harrell-Davis", "query_tail": f"p{TAIL_Q * 100:.0f}",
            "query_samples": len(every), "passes": len(passes),
            "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
            "steal_s": round(res["steal_s"], 2)}
    return {"pass_s": median([p["wall_s"] for p in passes]),
            "query_p50_s": hd_quantile(every, 0.5),
            "query_tail_s": hd_quantile(every, TAIL_Q),
            "setup_s": res["setup_s"],
            "retained_heap_mb": res["retained_heap_b"] / 1024.0 / 1024.0}, info


PER_LAYER = {
    "construct.s": "s", "construct.jobs": "count", "plans.catalyst_s": "s",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.single_task_stages": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.gc_s": "s", "sources.input_mb": "MB",
    "sources.rescan_ratio": "ratio", "sources.write_s": "s",
    **{f"rideshare.t{i}_s": "s" for i in range(1, 8)},
    **{f"family.{f}_s": "s" for f in CORPUS_FAMILIES},
    "cache.leaked_persists": "count", "trace.overhead_s": "s",
    "trace.unaccounted_queries": "count",
}
UNACCOUNTED_TOL = (0.010, 0.02)  # max(10 ms, 2 % of the query's wall time)


def unaccounted_s(e):
    """Wall time of a query (timed on its own, from the start of
    construction to the end of the action) that construct + action leave
    out: the benchmark's own work between the two phases."""
    return e["wall_s"] - e["construct_s"] - e["action_s"]


def unaccounted(e):
    """Construct + plan + action fail to account for the query: more than
    UNACCOUNTED_TOL of its wall time falls outside both phases, or the
    planning charged to the action does not fit inside it (the planning
    tracker reports whole milliseconds)."""
    return (unaccounted_s(e) > max(UNACCOUNTED_TOL[0], UNACCOUNTED_TOL[1] * e["wall_s"])
            or e["plan_s"] > e["action_s"] + 0.002)


def per_layer(res, source_bytes):
    """Per-pass sums over the traced passes, reported as their median."""
    mb = 1024.0 * 1024.0
    per_pass = []
    traced = [p["pass"] for p in res["passes"] if p["traced"]]
    for p in traced:
        ex = [e for e in res["execs"] if e["pass"] == p]
        s = lambda k: sum(e[k] for e in ex)
        fam = lambda f: sum(e["wall_s"] for e in ex if e["family"] == f)
        rideshare = res["workload"] == "rideshare_tasks"
        corpus = res["workload"] == "corpus_ml"
        input_b = s("input_b") + s("construct_input_b")
        m = {
            "construct.s": s("construct_s"), "construct.jobs": s("construct_jobs"),
            "plans.catalyst_s": s("plan_s"), "exec.action_s": s("action_s"),
            "exec.jobs": s("jobs"), "exec.stages": s("stages"),
            "exec.tasks": s("tasks"), "exec.single_task_stages": s("single_task_stages"),
            "exec.task_run_s": s("task_run_s"), "exec.task_cpu_s": s("task_cpu_s"),
            "exec.core_util": s("task_run_s") / max(s("action_s") * res["cores"], 1e-9),
            "exec.shuffle_write_mb": s("shuffle_write_b") / mb,
            "exec.shuffle_read_mb": s("shuffle_read_b") / mb,
            "exec.spill_mb": s("spill_b") / mb, "exec.gc_s": s("gc_s"),
            "sources.input_mb": input_b / mb,
            "sources.rescan_ratio": input_b / max(source_bytes, 1),
            "sources.write_s": sum(e["action_s"] for e in ex if e["sink"]),
            "cache.leaked_persists": s("leaked"),
            "trace.unaccounted_queries": sum(1 for e in ex if unaccounted(e)),
        }
        for i in range(1, 8):
            m[f"rideshare.t{i}_s"] = fam(f"t{i}") if rideshare else 0.0
        for f in CORPUS_FAMILIES:
            m[f"family.{f}_s"] = fam(f) if corpus else 0.0
        per_pass.append(m)
    out = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
    untraced = [p["wall_s"] for p in res["passes"] if not p["traced"]]
    out["trace.overhead_s"] = median(
        [p["wall_s"] for p in res["passes"] if p["traced"]]) - median(untraced)
    return out


def run_once(workload, seed, seconds, trace, size):
    cp = build()
    runs = os.path.join(build_dir(), "runs")
    run_dir = os.path.join(runs, f"{workload}-{seed}-{trace}-{os.getpid()}-{time.time_ns()}")
    data_dir, out_dir = os.path.join(run_dir, "data"), os.path.join(run_dir, "out")
    os.makedirs(data_dir)
    try:
        if "rows" in size:
            datagen.write_rideshare(data_dir, seed, size["rows"])
        else:
            datagen.write_tables(data_dir, seed, size["sf"])
        source_bytes = sum(os.path.getsize(os.path.join(data_dir, f))
                           for f in os.listdir(data_dir))
        cores = len(os.sched_getaffinity(0))
        steal0 = steal_s()
        res = run_jvm(cp, workload, data_dir, out_dir, run_dir, seconds, trace, cores)
        res["steal_s"] = steal_s() - steal0
        errors = dict(res["check_errors"])
        if workload == "rideshare_tasks":
            fails = check.check_rideshare(data_dir, out_dir, errors)
            checked = len(json.load(open(os.path.join(out_dir, "rideshare_outputs.json"))))
        else:
            names = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
            names = sorted({e["q"] for e in res["execs"]} | set(names))
            fails = check.check_registry(data_dir, out_dir, names, errors)
            checked = len(names)
        timed_fail = [e for e in res["execs"] if e["error"]]
        for name, why in list(fails.items()) + [(e["q"], e["error"]) for e in timed_fail]:
            print(f"perfbench: FAIL {name}: {why}", file=sys.stderr)
        attempted = len(res["execs"]) + checked
        failed = len(timed_fail) + len(fails)
        if trace:
            metrics = {k: (v, PER_LAYER[k]) for k, v in per_layer(res, source_bytes).items()}
            # the spans outlive the run directory, one file per workload
            shutil.copyfile(os.path.join(out_dir, "spans.jsonl"),
                            os.path.join(build_dir(), f"spans-{workload}.jsonl"))
            traced = [e for e in res["execs"] if e["traced"]]
            print(json.dumps({"workload": workload, "traced_queries": len(traced),
                              "max_unaccounted_s": max(map(unaccounted_s, traced)),
                              "unaccounted_tolerance": UNACCOUNTED_TOL}))
        else:
            e2e, info = end_to_end(res)
            metrics = {k: (v, END_TO_END[k]) for k, v in e2e.items()}
            info["failed_ratio"] = failed / attempted
            print(json.dumps({"workload": workload, **info}))
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def selfcheck():
    """Each workload once on tiny inputs, in both modes: every metric name
    and unit is emitted and every output check passes."""
    ok = True
    for w, size in SELFCHECK.items():
        for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
            r = run_once(w, 1, 1, trace, size)
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            good = r["correct"] and r["failed"] == 0 and got == names
            print(f"selfcheck {w} trace={trace}: {'ok' if good else 'FAILED'}")
            ok &= good
    sys.exit(0 if ok else 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if a.selfcheck:
        selfcheck()
    if not a.workload:
        fail("--workload is required")
    print(json.dumps(run_once(a.workload, a.seed, a.seconds, a.trace,
                              WORKLOADS[a.workload])))


if __name__ == "__main__":
    main()
