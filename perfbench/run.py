#!/usr/bin/env python3
"""One command for the repository benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the checkout root. Builds the benchmark package (perfbench/build.sbt:
the engine's main sources plus the benchmark's own) when its inputs changed,
runs the named workload in a JVM sized from the machine (nproc, MemTotal),
checks the outputs, and prints as the last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (0 for a layer the workload does not run).
Exits non-zero, printing no result, when the benchmark cannot run.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

WORKLOADS = ("cdc-catchup", "cdc-paced", "analytics-suite")
BUILD_DIR = os.path.join(".bench_build", "perfbench")
TIME_LIMIT_S = 165
# analytics-suite: table scale (1.0 = 60,000 lineitems), the data seed, and
# the fixed query set
TABLE_SCALE = "0.25"
TABLE_SEED = 42
QUERIES_FILE = os.path.join("perfbench", "queries.txt")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join("src", "main"), os.path.join("perfbench", "src"),
             os.path.join("perfbench", "build.sbt"), os.path.join("perfbench", "project")]
    for root in roots:
        paths = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs
            if "target" not in d.split(os.sep))
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile once per source state; returns the runtime classpath."""
    if not os.path.isdir(os.path.join("src", "main", "scala")):
        fail("no engine sources under src/main/scala: run from a checkout root")
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    if "SPARK_HOME" not in os.environ:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("SPARK_HOME is unset and spark-submit is not on PATH")
        os.environ["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    digest = source_digest()
    stamp = os.path.join(BUILD_DIR, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building the benchmark package (sbt)")
    os.makedirs(BUILD_DIR, exist_ok=True)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd="perfbench", stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=840)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    classpath = lines[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def machine():
    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    mem_kb = 4 << 20
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    heap_mb = max(1024, min(3072, mem_kb // 1024 // 6))
    return max(1, cpus), heap_mb


def run_jvm(classpath, args, work, deadline):
    cpus, heap_mb = machine()
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xms{heap_mb}m", f"-Xmx{heap_mb}m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main", "--cpus", str(cpus), "--work", work] + args
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("workload timed out")
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        fail(f"workload process exited with {proc.returncode} and no result")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def analytics_tables():
    """The analytics input, generated once per checkout: the data is fixed
    (the seed permutes the query order), like a shared test data set."""
    tables = os.path.abspath(os.path.join(".bench_build", f"tables-{TABLE_SCALE}-{TABLE_SEED}"))
    if not os.path.isdir(tables):
        tmp = tables + f".tmp{os.getpid()}"
        os.makedirs(tmp)
        subprocess.run([sys.executable, os.path.join("perfbench", "tables.py"), tmp,
                        str(TABLE_SEED), TABLE_SCALE], check=True)
        os.rename(tmp, tables)
    return tables


def oracle_check(tables, results, queries):
    """The repo's DuckDB gate (tools/check.py) over the warm-pass results:
    {query: reason} for each query that threw in the warm pass
    (results/failed.json) or differs from its oracle SQL."""
    with open(os.path.join(results, "failed.json")) as f:
        bad = json.load(f)
    chk = subprocess.run([sys.executable, os.path.join("tools", "check.py"), tables, results,
                          ",".join(queries)],
                         stdout=subprocess.PIPE, text=True, check=True)
    for line in chk.stdout.splitlines():
        if line.startswith("FAIL "):
            name, _, why = line[len("FAIL "):].partition(": ")
            bad.setdefault(name, why)
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    classpath = build()
    deadline = time.time() + TIME_LIMIT_S  # the build is not part of a run's time limit
    work = os.path.abspath(os.path.join(".bench_build", "runs", f"{a.workload}-{a.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    tables = None
    try:
        if a.workload == "analytics-suite":
            tables = analytics_tables()
            with open(QUERIES_FILE) as f:
                queries = [l.strip() for l in f if l.strip() and not l.startswith("#")]
            args += ["--tables", tables, "--queries", ",".join(queries)]
        res = run_jvm(classpath, args, work, deadline)
        if tables:
            bad = oracle_check(tables, os.path.join(work, "results"), queries)
            for name, why in bad.items():
                log(f"oracle: {name}: {why}")
            if bad:
                res["failed"] += len(bad)
                res["causes"]["warm-pass result missing or different from the DuckDB oracle"] = len(bad)
        if a.trace:
            keep = os.path.join(".bench_build", "traces")
            os.makedirs(keep, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(keep, f"{a.workload}-{a.seed}.spans.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for cause, n in res.get("causes", {}).items():
        log(f"check failed x{n}: {cause}")
    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    got = res["metrics"]
    metrics = {}
    for m in names:
        v = got.get(m["name"], {}).get("value", 0.0)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if a.trace and "failed_frac" in metrics:
        metrics["failed_frac"]["value"] = res["failed"] / max(res["attempted"], 1)
    print(json.dumps({"correct": res["failed"] == 0 and res["attempted"] > 0,
                      "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
