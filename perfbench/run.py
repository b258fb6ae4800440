#!/usr/bin/env python3
"""Run one benchmark workload at one seed and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout of the engine. The script
  1. builds the engine and the harness (perfbench/build.sbt) once per
     source state, keeping the outputs under .bench_build/;
  2. generates the workload's tables from the seed (gen.py), once per
     (seed, mode, scale);
  3. runs the harness (perfbench.Main) in two JVMs ("forks") one after
     the other, in one with --trace 1. Each fork times JVM launch to
     session-ready and its warm-up (cold) pass, then runs its share of
     the warm passes. Together these take about --seconds (their count
     is --seconds divided by a nominal pass time), traced with
     --trace 1. The last fork then writes every query's result with
     graft.Verify, untimed;
  4. compares those results with their DuckDB oracle through
     tools/check.py;
  5. prints one JSON line: correct, attempted, failed and the metrics
     (end-to-end with --trace 0, per-layer with --trace 1).

The load is a closed loop with one client: queries run one at a time,
in the workload's fixed order. The exit code is non-zero only on a
harness error; failing or wrong queries are counted in `failed`.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

# every workload's tables are generated at this scale factor (lineitem
# 60k rows, 500 documents, 200 embeddings): small enough that a run's
# passes fit its time budget, large enough that execution dominates the
# text workload
SF = 0.01
# nominal warm-pass time of every workload: a run makes --seconds / PASS_S
# warm passes (at least two), so that the number of latency samples, and
# with it the tail percentile, is the same in every run
PASS_S = 5.0
# an untraced run is made of this many identical harness JVMs ("forks")
# run one after the other. Each gives one set-up and one cold-pass
# sample and runs its share of the warm passes. A JVM has one cold pass,
# and each JVM settles into its own JIT state, so more than one JVM is
# what steadies the cold-pass time and spreads the warm samples.
FORKS = 2
HEAP = "2g"
BUILD_TIMEOUT_S = 850
# the forks and the oracle check together must end within this many
# seconds of the first fork's launch
RUN_TIMEOUT_S = 160
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END_UNITS = {
    "setup_s": "s", "cold_pass_s": "s", "pass_wall_s": "s", "pass_cpu_s": "s",
    "query_p50_s": "s", "query_tail_s": "s",
}
KERNELS = ["minhash_sig", "md5_min_shingle", "md5_simhash", "jaro_winkler",
           "array_dot", "srp_codes", "nfc_normalize", "tokenize_regex"]
LAYER_UNITS = {
    "tables.open_s": "s", "tables.open_jobs": "count",
    "build_s": "s", "build.self_s": "s", "build.jobs": "count",
    "build.stages": "count", "build.task_s": "s", "build.footer_jobs": "count",
    "build.footer_job_share": "ratio",
    "plan_s": "s", "plan.exchanges": "count", "plan.reused_exchanges": "count",
    "plan.sort_merge_joins": "count", "plan.single_partition_windows": "count",
    "exec_s": "s", "exec.self_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_s": "s", "exec.core_util": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.gc_s": "s", "exec.task_skew": "ratio", "exec.failed_tasks": "count",
    "cache.blocks_written": "count", "cache.peak_storage_mb": "MB",
    "cache.rdds_left": "count",
    "stream.batches": "count", "stream.batch_s": "s", "stream.state_rows": "count",
    "stream.state_mb": "MB",
    "trace.overhead_frac": "ratio",
    "peak_rss_mb": "MB",
}
LAYER_UNITS.update({"kernel.%s.ns_per_row" % k: "ns/row" for k in KERNELS})


class HarnessError(Exception):
    pass


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def load_workloads():
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def check_checkout():
    """The engine sources, its build and the oracle checker must be here."""
    need = ["build.sbt", os.path.join("src", "main", "scala", "graft", "SparkEntry.scala"),
            os.path.join("tools", "check.py")]
    missing = [p for p in need if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        raise HarnessError("not a checkout of the engine (missing %s)" % ", ".join(missing))


def source_stamp():
    """Hash of every file the build reads, so a rebuild happens exactly
    when a source or build file changed."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names]
    for p in sorted(files):
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()[:16]


def run_child(cmd, timeout, **kw):
    """subprocess.run that kills the child (and waits for it) on timeout
    or interrupt."""
    p = subprocess.Popen(cmd, **kw)
    try:
        p.wait(timeout=timeout)
    except BaseException:
        p.kill()
        p.wait()
        raise
    return p.returncode


def build():
    """The runtime classpath of the harness, building it if needed.

    The build outputs (target/) hold one source state at a time, so the
    classpath file names the state it was built from, and any other
    state, an earlier one too, is built anew."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built, _, cp = f.read().strip().partition("\n")
        if built == stamp and all(os.path.exists(p) for p in cp.split(os.pathsep)):
            return cp
        os.remove(cp_file)
    os.makedirs(os.path.join(BUILD, "logs"), exist_ok=True)
    tmp = cp_file + ".tmp"
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-J-XX:-UsePerfData", "-Djava.io.tmpdir=" + sbt_tmp, "-Djna.tmpdir=" + sbt_tmp,
           "-Dsbt.ivy.home=" + os.path.join(BUILD, "ivy2"),
           "-Dperfbench.classpath=" + tmp, "writeClasspath"]
    log("building engine and harness (sbt)")
    with open(os.path.join(BUILD, "logs", "build.log"), "w") as out:
        rc = run_child(cmd, BUILD_TIMEOUT_S, cwd=HERE, env=env,
                       stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(tmp):
        raise HarnessError("build failed (rc=%s), see .bench_build/logs/build.log" % rc)
    with open(tmp) as f:
        cp = f.read().strip()
    with open(tmp, "w") as f:
        f.write(stamp + "\n" + cp)
    os.replace(tmp, cp_file)
    return cp


def java_cmd(cp, tmpdir):
    opens = []
    for p in ADD_OPENS:
        opens += ["--add-opens", p + "=ALL-UNNAMED"]
    return (["java"] + opens +
            ["-Xms" + HEAP, "-Xmx" + HEAP, "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmpdir,
             "-Dspark.local.dir=" + os.path.join(tmpdir, "spark"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-Dderby.system.home=" + tmpdir,
             "-cp", cp, "perfbench.Main"])


def launch(cmd, env, log_path, timeout):
    """Run a harness JVM to its end; returns its spawn time."""
    with open(log_path, "a") as err:
        t0 = time.time()
        rc = run_child(cmd, timeout, cwd=os.path.dirname(log_path), env=env,
                       stdout=err, stderr=err, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise HarnessError("harness JVM exited %d, see %s" % (rc, log_path))
    return t0


def oracle_check(data, verify_out, queries, log_path, timeout):
    """query -> True/False from tools/check.py (DuckDB oracle, values
    hash-compared with columns sorted by name). A query with no result
    counts as failed."""
    with open(log_path, "w") as out:
        run_child([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                   data, verify_out, ",".join(queries)],
                  timeout, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                  stdin=subprocess.DEVNULL)
    verdict = {}
    with open(log_path) as f:
        for line in f:
            parts = line.split()
            if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
                verdict[parts[1].rstrip(":")] = parts[0] == "PASS"
    return {q: verdict.get(q, False) for q in queries}


def cpu_ticks():
    """(steal, total) CPU ticks since boot from /proc/stat: time the
    hypervisor gave this machine's CPUs to other guests, which the load
    average does not show."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def run(args):
    workloads = load_workloads()
    if args.workload not in workloads:
        raise HarnessError("unknown workload %r (have %s)" % (args.workload, ", ".join(workloads)))
    check_checkout()
    w = workloads[args.workload]
    cpus = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()[0]
    steal_start = cpu_ticks()

    cp = build()
    data = gen.ensure(os.path.join(BUILD, "data"), args.seed, w["mode"], SF)
    passes = max(2, round(args.seconds / PASS_S))
    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = os.path.join(BUILD, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    log_path = os.path.join(work, "jvm.log")
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
    jvm = java_cmd(cp, tmpdir)

    started = time.time()

    def remaining():
        left = started + RUN_TIMEOUT_S - time.time()
        if left <= 0:
            raise HarnessError("run took longer than %d s" % RUN_TIMEOUT_S)
        return left

    forks = 1 if args.trace else FORKS
    verify_out = os.path.join(work, "verify")
    dumps, setups = [], []
    try:
        for i in range(forks):
            dump_path = os.path.join(work, "fork%d.json" % i)
            cmd = jvm + ["--data", data, "--queries", ",".join(w["queries"]),
                         "--passes", str(max(1, passes // forks)),
                         "--trace", str(args.trace), "--cpus", str(cpus), "--out", dump_path]
            if i == forks - 1:
                cmd += ["--verify-out", verify_out]
            t0 = launch(cmd, env, log_path, remaining())
            with open(dump_path) as f:
                dumps.append(json.load(f))
            setups.append(dumps[-1]["ready_ms"] / 1000.0 - t0)
        log("%d fork(s) done after %.1f s" % (forks, time.time() - started))
        checks = oracle_check(data, verify_out, w["queries"], os.path.join(work, "check.log"),
                              remaining())
        log("oracle check done after %.1f s" % (time.time() - started))
    finally:
        shutil.rmtree(tmpdir, ignore_errors=True)

    load_end = os.getloadavg()[0]
    steal_end = cpu_ticks()
    guard = {"load_avg_start": load_start, "load_avg_end": load_end, "nproc": cpus,
             "contended": load_start > cpus / 2.0,
             "steal_frac": (steal_end[0] - steal_start[0]) / max(1, steal_end[1] - steal_start[1])}
    if guard["contended"]:
        log("WARN: run started at load average %.2f > nproc/2 = %.1f; numbers are "
            "contention-inflated" % (load_start, cpus / 2.0))
    dump = dumps[-1]
    if args.trace:
        values, attempted, failed = metrics.layers(dump, checks)
        units = LAYER_UNITS
        artifact = {"per_query": [metrics.per_query(tp) for tp in dump["traced"]],
                    "per_pass": [metrics.traced_pass(tp, cpus) for tp in dump["traced"]]}
        with open(os.path.join(work, "layers.json"), "w") as f:
            json.dump(artifact, f, indent=1)
        detail = {}
    else:
        values, attempted, failed, detail = metrics.end_to_end(dumps, setups, checks)
        units = END_TO_END_UNITS
    detail.update(guard)
    detail.update({"workload": args.workload, "seed": args.seed, "queries": len(w["queries"]),
                   "oracle_failures": sorted(q for q, ok in checks.items() if not ok),
                   "query_errors": sorted({q["name"] for d in dumps
                                           for p in [d["cold"]] + d["warm"] + d["traced"]
                                           for q in p["queries"] if not q["ok"]}),
                   "artifacts": os.path.relpath(work, ROOT)})
    missing = set(units) - set(values)
    if missing:
        raise HarnessError("metrics not produced: %s" % sorted(missing))
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        run(args)
    except (HarnessError, subprocess.TimeoutExpired, OSError, ValueError, KeyError) as e:
        log("error: %s" % e)
        return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
