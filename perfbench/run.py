#!/usr/bin/env python3
"""Benchmark of the ingestion dataflow and the query surface.

Run from the root of the repository:

    python3 perfbench/run.py --workload ingest_batch --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

The first run builds the program together with the harness in
`perfbench/` (sbt, offline); later runs reuse the build while the sources
are unchanged. Each run generates its inputs from the seed, measures one
workload on `local[4]` for about `--seconds` of timed work, checks every
output, prints a human-readable report and, as its last line, one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`). It exits nonzero when a check fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
# the repository's sf0.01 test tables, which the query mix reads
TABLES = os.path.join(HERE, "data", "sf0.01")
# a run, build excepted, ends within this many seconds
RUN_BUDGET_S = 175
JVM_TIMEOUT_S = 165
# BENCHMARK.json lists the workloads a full set of runs can afford;
# ingest_batch (one SendToWarehouseJob.execute) runs on request or with
# --workload all.
WORKLOADS = ["ingest_batch", "ingest_stream", "query_mix"]
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME, else the
    first spark-submit on PATH that sits in a full Spark distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    fail("no Spark installation found (set SPARK_HOME or put spark-submit on PATH)", 2)


def sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
    return sorted(files)


def build():
    """Compiles program and harness unless the sources are unchanged."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are missing", 2)
    if not os.path.isfile(os.path.join(ROOT, "scripts", "check.py")):
        fail("the oracle checker (scripts/check.py) is missing", 2)
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.isfile(stamp) and open(stamp).read() == digest.hexdigest() \
            and os.path.isdir(CLASSES):
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_JARS=spark_jars())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false",
                                 "-J-XX:-UsePerfData", "compile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0:
        fail(f"build failed (exit {rc}); see {log}", 3)
    with open(stamp, "w") as fh:
        fh.write(digest.hexdigest())


def run_jvm(workload, seed, seconds, trace, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result = os.path.join(work, "result.json")
    cmd = ["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx4g", "-XX:-UsePerfData", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={tmp}",
        "-Dderby.system.home=" + tmp,
        "-cp", f"{CLASSES}:{spark_jars()}/*", "perfbench.Main",
        workload, str(seed), str(seconds), str(trace), work, result, TABLES]
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.isfile(result):
        with open(log, errors="replace") as fh:
            tail = fh.read()[-3000:]
        fail(f"{workload} run failed (exit {rc}):\n{tail}", 4)
    with open(result) as fh:
        return json.load(fh)


def oracle_failures(results, timeout):
    """Compares each dumped query result with its SparkEntry.oracleSql run
    in DuckDB, with the repository's own checker."""
    try:
        proc = subprocess.run([sys.executable, os.path.join(ROOT, "scripts", "check.py"), TABLES, results],
                              cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                              stdin=subprocess.DEVNULL, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return [f"oracle compare did not finish in {timeout:.0f} s"]
    fails = [l for l in proc.stdout.splitlines() if l.startswith("FAIL")]
    if proc.returncode != 0 and not fails:
        fails = [f"oracle compare exited {proc.returncode}: {proc.stdout[-2000:]}"]
    with open(os.path.join(results, "oracle_sql.json")) as fh:
        expected = set(json.load(fh))
    passed = {l.split()[1] for l in proc.stdout.splitlines() if l.startswith("PASS")}
    if expected - passed and not fails:
        fails = [f"no oracle pass for {sorted(expected - passed)}"]
    return fails


def run_one(spec, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    res = run_jvm(workload, seed, seconds, trace, work)
    failures = list(res["failures"])
    if workload == "query_mix":
        results = os.path.join(work, "results")
        t1 = time.time()
        failures += oracle_failures(results, max(1.0, RUN_BUDGET_S - (t1 - t0)))
        res["report"].append(f"oracle compare of {len(glob.glob(os.path.join(results, 'q*')))} "
                             f"query results took {time.time() - t1:.1f} s")
    names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
    source = res["per_layer" if trace else "end_to_end"]
    missing = [n for n in names if n not in source or source[n]["value"] is None]
    if missing:
        failures.append(f"metrics not measured: {missing}")
    for line in res["report"]:
        print(f"[{workload}] {line}")
    for f in failures:
        print(f"[{workload}] CHECK FAILED: {f}")
    print(f"[{workload}] run took {time.time() - t0:.1f} s, seed {seed}")
    return {
        "correct": not failures and res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: source[n] for n in names if n in source},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root", 2)
    with open(spec_path) as fh:
        spec = json.load(fh)
    chosen = WORKLOADS if a.workload == "all" else [a.workload]
    if any(w not in WORKLOADS for w in chosen):
        fail(f"unknown workload {a.workload}; choose one of {WORKLOADS} or all", 2)
    build()
    ok = True
    for w in chosen:
        out = run_one(spec, w, a.seed, a.seconds, a.trace)
        for name, m in out["metrics"].items():
            print(f"[{w}] {name} = {m['value']:.6g} {m['unit']}")
        ok = ok and out["correct"]
        print(json.dumps(out))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
