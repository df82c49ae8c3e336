#!/usr/bin/env python3
"""Benchmark runner for graft.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a graft checkout. The first run builds the harness
together with graft's sources (sbt, offline), generates the benchmark
tables and derives each batch line's expected digest from its DuckDB
oracle; later runs reuse all three until a source changes. A run starts
one JVM (Spark `local[nproc]`), which prints one `metric` line per
metric and its operation tally; the last line printed here is the
result JSON. With --trace 0 it holds the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones. `llm_batch` and
`dedup_stream` are not in BENCHMARK.json but run the same way by hand.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
LINES = ("q01 q02 q03 q04 q05 q06 q07 q08 q09 q10 q11 q12 q13 q14 q15 q16 q17 q51 q81 q82 q92 q103 "
         "q18 q19 q20 q21 q22 q37 q75 q78 q84 q91 q25 q26 q44 q54 q56 q42 q58 q60 q38 q59 q70").split()
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio java.util "
    "java.util.concurrent java.util.concurrent.atomic sun.nio.ch sun.nio.cs "
    "sun.security.action sun.util.calendar").split()]
RUN_TIMEOUT_S = 170
BY_HAND_TIMEOUT_S = 900  # llm_batch and dedup_stream, which are not in BENCHMARK.json
WORKLOADS = ("flink_surface", "llm_batch", "cdc_upsert", "dedup_stream")
# Per-layer metrics (name prefixes) that a workload's traced run does not
# exercise: they read 0. Any other per-layer metric missing is an error.
_BATCH_ONLY = ("queries.", "planning.", "CachePool.", "trace.overhead", "exec.speedup_vs_1core")
NOT_EXERCISED = {
    "flink_surface": ("sources.", "streaming.", "sinks.", "commit_p99_ms"),
    "cdc_upsert": _BATCH_ONLY,
    "dedup_stream": _BATCH_ONLY + ("sources.", "sinks.", "commit_p99_ms",
                                   "streaming.trigger_ms", "streaming.add_batch_ms",
                                   "streaming.query_planning_ms", "streaming.wal_commit_ms",
                                   "streaming.state_"),
}
NOT_EXERCISED["llm_batch"] = NOT_EXERCISED["flink_surface"]


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory graft's own build.sbt uses."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(os.path.join(ROOT, "build.sbt")).read())
    if not m:
        sys.exit("perfbench: no Spark jars found; set SPARK_HOME")
    return m.group(1)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def tree_hash(*dirs):
    h = hashlib.sha1()
    for d in dirs:
        for base, subdirs, files in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project", ".work"))
            for f in sorted(files):
                p = os.path.join(base, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft plus the harness unless the sources are unchanged,
    and list the oracle SQL of the compiled catalog."""
    stamp = os.path.join(WORK, "build.stamp")
    want = tree_hash(os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                     os.path.join(BENCH, "build.sbt"))
    if os.path.exists(stamp) and open(stamp).read() == want and os.path.isdir(CLASSES):
        return
    log("building graft and the harness (sbt, offline)")
    env = dict(os.environ, COURSIER_MODE="offline", PERFBENCH_SPARK_JARS=spark_jars())
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = "-Dsbt.offline=true -Xmx2g"
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0:
        sys.exit(f"perfbench: build failed, see {WORK}/build.log")
    rc, _ = java(["oracles", os.path.join(WORK, "oracles.tsv")], 120)
    if rc != 0:
        sys.exit("perfbench: could not list the oracle SQL")
    with open(stamp, "w") as f:
        f.write(want)


def java(args, timeout, stdout=None, stderr=None):
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={WORK}/tmp", "-Dspark.ui.enabled=false"]
           + ADD_OPENS + ["-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main"] + args)
    proc = subprocess.Popen(cmd, stdout=stdout, stderr=stderr, stdin=subprocess.DEVNULL)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: the benchmark JVM ran past {timeout} s and was stopped")
    return proc.returncode, out


def prepare(sf):
    """Tables for scale `sf` plus the expected digests of every line."""
    d = os.path.join(WORK, f"sf{sf}")
    oracles = os.path.join(WORK, "oracles.tsv")
    key = hashlib.sha1(open(oracles, "rb").read() + open(os.path.join(BENCH, "gen_data.py"), "rb").read()
                       + open(os.path.join(BENCH, "oracle.py"), "rb").read()).hexdigest()
    stamp = os.path.join(d, "ready")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return d
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    log(f"generating sf{sf} tables and oracle digests")
    subprocess.check_call([sys.executable, os.path.join(BENCH, "gen_data.py"), str(sf), d])
    subprocess.check_call([sys.executable, os.path.join(BENCH, "oracle.py"), oracles, d,
                           os.path.join(d, "expected.tsv")] + LINES)
    with open(stamp, "w") as f:
        f.write(key)
    return d


def run_jvm(workload, seed, seconds, trace, data, small=False, extra=(), timeout=RUN_TIMEOUT_S):
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    args = ["run", "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", data, "--work", work, "--cores", str(cores),
            "--small", "1" if small else "0"] + list(extra)
    logf = os.path.join(WORK, "logs", f"{workload}-{seed}-{trace}.log")
    with open(logf, "w") as err:
        rc, out = java(args, timeout, stdout=subprocess.PIPE, stderr=err)
    out = out.decode("utf-8", "replace").splitlines()
    result = [l for l in out if l.startswith("RESULT ")]
    if rc != 0 or not result:
        sys.exit(f"perfbench: the benchmark JVM failed (exit {rc}), see {logf}")
    for l in out:
        if l.startswith("metric ") or l.startswith("attempted "):
            print(l)
    with open(logf) as f:
        for l in f:
            if l.startswith("perfbench: FAILED") or l.startswith("perfbench: INVALID"):
                print(l.rstrip())
    return json.loads(result[-1][len("RESULT "):])


def selftest():
    """Tiny scale: all workloads pass; an injected wrong expected digest
    and a dropped event are each reported as failed operations."""
    build()
    data = prepare(0.001)
    checks = []
    for w in ("flink_surface", "llm_batch", "cdc_upsert", "dedup_stream"):
        r = run_jvm(w, 1, 2, 0, data, small=True)
        checks.append((f"{w} runs clean", r["correct"] and r["failed"] == 0 and r["attempted"] > 0))
    r = run_jvm("flink_surface", 1, 2, 0, data, small=True, extra=["--bad-expected", "q01"])
    checks.append(("wrong expected digest is a failed operation", not r["correct"] and r["failed"] >= 1))
    r = run_jvm("cdc_upsert", 1, 2, 0, data, small=True, extra=["--drop-event", "1"])
    checks.append(("dropped event is a failed operation", not r["correct"] and r["failed"] >= 1))
    r = run_jvm("dedup_stream", 1, 2, 1, data, small=True)
    checks.append(("traced run", r["correct"] and "streaming.cm_jobs_per_batch" in r["metrics"]))
    for name, ok in checks:
        print(("PASS " if ok else "FAIL ") + name)
    return 0 if all(ok for _, ok in checks) else 1


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: no graft sources next to the benchmark; run from a graft checkout")
    os.makedirs(WORK, exist_ok=True)
    if a.selftest:
        sys.exit(selftest())
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    if a.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    build()
    data = prepare(0.1)
    t0 = time.time()
    kept = a.workload in [w["name"] for w in spec["workloads"]]
    r = run_jvm(a.workload, a.seed, a.seconds, a.trace, data,
                timeout=RUN_TIMEOUT_S if kept else BY_HAND_TIMEOUT_S)
    log(f"{a.workload} seed {a.seed}: JVM {time.time() - t0:.1f} s")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        got = r["metrics"].get(m["name"])
        if got is None and not (a.trace and m["name"].startswith(NOT_EXERCISED[a.workload])):
            sys.exit(f"perfbench: {a.workload} did not measure {m['name']}")
        metrics[m["name"]] = {"value": got["value"] if got else 0.0, "unit": m["unit"]}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
