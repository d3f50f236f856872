#!/usr/bin/env python3
"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It builds the program and the
harness from source with sbt (only when a source changed since the last
build), runs the workload over the tables in `fixture/sf0.01` in one
fresh JVM with pass orders permuted from the seed (see
harness/src/main/scala/perfbench/Harness.scala), checks every query's output against DuckDB, and prints one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones, with `--trace 1`
the per-layer ones from the traced pass. `--fresh-oracle` recomputes the
DuckDB answers instead of reading them from the cache. Everything the
run writes stays under `perfbench/.work` and `perfbench/.build` (plus the
sbt target directories of the checkout).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import oracle  # noqa: E402
import stats  # noqa: E402

HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
# the engine's sf0.01 test tables (seed 42), kept in the benchmark's own
# directory; read only
DATA = os.path.join(HERE, "fixture", "sf0.01")

# Untimed passes before timing; the first is reported as cold_pass_s.
# README.md shows how far the JIT has come after them.
WARMUP = 5
# Timed passes at the least, however short --seconds is.
MIN_PASSES = 4
# a fixed driver heap: the live heap stays under 100 MB at this scale,
# and a fixed size keeps heap resizing out of the timings
HEAP = "1g"
RUN_DEADLINE_S = 170
BUILD_DEADLINE_S = 840

# the JVM flags the program's own build passes to a forked run (build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s",
              "min_sum_s": "s", "task_cpu_s": "s", "jobs": "count",
              "live_heap_mb": "MB"}
PER_LAYER = {
    "queries.build_s": "s", "queries.build_jobs": "count",
    "queries.build_task_cpu_s": "s", "rules.plan_s": "s", "exec.s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.core_util": "ratio", "exec.task_cpu_s": "s", "exec.task_run_s": "s",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.spill_mb": "MB",
    "sources.input_rows": "count", "sources.input_mb": "MB",
    "sources.write_mb": "MB", "streaming.batches": "count",
    "streaming.input_rows": "count", "streaming.state_rows": "count",
    "storage.blocks_left": "count", "storage.peak_mb": "MB",
    "codegen.compiles": "count", "codegen.compile_s": "s", "jvm.jit_s": "s",
    "jvm.gc_s": "s", "trace.overhead_s": "s",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def steal_jiffies():
    """Time the hypervisor gave this machine's CPUs to others, if known."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def run_proc(cmd, cwd, env, log_path, deadline):
    """Runs `cmd` with its output in `log_path`; kills its whole process
    group and stops the benchmark when `deadline` passes."""
    with open(log_path, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdin=subprocess.DEVNULL,
                                stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"[perfbench] {cmd[0]} did not finish in time")


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    files = []
    for base in (ROOT, HARNESS):
        files += [os.path.join(base, "build.sbt")]
        files += sorted(glob.glob(os.path.join(base, "project", "*.properties")))
        files += sorted(glob.glob(os.path.join(base, "project", "*.sbt")))
        for dirpath, dirnames, names in os.walk(os.path.join(base, "src")):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no JVM statistics file under the system temp dir
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile program and harness; returns the run classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            raise SystemExit(f"[perfbench] no program sources here ({need} missing)")
    digest = sources_digest()
    stamp = os.path.join(BUILD, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("digest") == digest:
            return saved["classpath"]
    log("building program and harness with sbt")
    os.makedirs(BUILD, exist_ok=True)
    t0 = time.time()
    sbt_log = os.path.join(BUILD, "sbt.log")
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                     "export Runtime/fullClasspath"],
                    HARNESS, sbt_env(), sbt_log, time.time() + BUILD_DEADLINE_S)
    with open(sbt_log) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        raise SystemExit(f"[perfbench] build failed, see {sbt_log}")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return classpath


def workload_queries(name):
    path = os.path.join(HERE, "workloads", f"{name}.txt")
    if not os.path.exists(path):
        raise SystemExit(f"[perfbench] unknown workload {name}")
    with open(path) as f:
        return [l.strip() for l in f if l.strip() and not l.startswith("#")]


def run_harness(classpath, queries, data, work, args, deadline):
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-cp", classpath, "perfbench.Harness",
              "--queries", ",".join(queries), "--data", data, "--work", work,
              "--seconds", str(args.seconds), "--seed", str(args.seed),
              "--trace", str(args.trace), "--warmup", str(WARMUP),
              "--min-passes", str(MIN_PASSES), "--cores", str(cores())])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    code = run_proc(cmd, ROOT, None, os.path.join(work, "jvm.log"), deadline)
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-3000:]
        raise SystemExit(f"[perfbench] harness exited with {code}:\n{tail}")
    with open(os.path.join(work, "harness.json")) as f:
        return json.load(f)


def summarize(h, queries, verdicts):
    """Failed operations, correctness and end-to-end metrics. A query
    that threw anywhere, or whose result does not match its oracle, counts
    as failed in every timed pass, and its samples are left out of
    min_sum_s. The run is incorrect when a query ran but its result does
    not match its oracle (or could not be checked against it)."""
    mismatched = {q for q in queries
                  if q not in h["failures"] and verdicts.get(q) is not None}
    bad = set(h["failures"]) | mismatched
    failed = len(h["passes"]) * len(bad)
    samples = {q: v for q, v in h["samples"].items() if q not in bad}
    return failed, not mismatched, {
        "setup_s": h["setup_s"],
        "cold_pass_s": h["warm_passes_s"][0],
        "pass_s": stats.median([p["wall_s"] for p in h["passes"]]),
        "min_sum_s": stats.min_sum(samples),
        "task_cpu_s": stats.median([p["task_cpu_s"] for p in h["passes"]]),
        "jobs": stats.median([p["jobs"] for p in h["passes"]]),
        "live_heap_mb": h["live_heap_mb"],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fresh-oracle", action="store_true",
                    help="recompute DuckDB answers instead of using the cache")
    args = ap.parse_args()
    t0 = time.time()

    queries = workload_queries(args.workload)
    classpath = build()
    deadline = time.time() + RUN_DEADLINE_S
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_jvm, steal0 = time.time(), steal_jiffies()
        h = run_harness(classpath, queries, DATA, work, args, deadline)
        t_check, steal1 = time.time(), steal_jiffies()
        verdicts = oracle.check(DATA, os.path.join(work, "results"), h["oracle_sql"],
                                queries, os.path.join(WORK, "oracle"), args.fresh_oracle)
        for q in queries:
            why = h["failures"].get(q) or verdicts.get(q)
            if why:
                log(f"FAILED {q}: {why}")
        failed, correct, e2e = summarize(h, queries, verdicts)
        if args.trace:
            per_layer = dict(h["trace"])
            per_layer["trace.overhead_s"] = per_layer.pop("trace.pass_s") - e2e["pass_s"]
            metrics = {k: {"value": per_layer[k], "unit": u} for k, u in PER_LAYER.items()}
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(os.path.join(work, "trace.json"), os.path.join(
                WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        parts = " ".join(f"{k} {v:.1f}" for k, v in h["parts_s"].items())
        log(f"{args.workload} seed {args.seed}: {len(h['passes'])} timed passes; "
            f"run {time.time() - t0:.1f} s = before JVM {t_jvm - t0:.1f}, "
            f"JVM {t_check - t_jvm:.1f} ({parts}), check {time.time() - t_check:.1f}"
            + (f"; CPU steal during the JVM {(steal1 - steal0) / os.sysconf('SC_CLK_TCK') / (t_check - t_jvm) / cores():.1%}"
               if steal0 is not None else ""))
    finally:
        if os.path.exists(os.path.join(work, "harness.json")):
            os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
            shutil.copy(os.path.join(work, "harness.json"), os.path.join(
                WORK, "runs", f"{args.workload}-seed{args.seed}.json"))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": len(h["passes"]) * len(queries),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
