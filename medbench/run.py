#!/usr/bin/env python3
"""Medallion + curation benchmark.

Usage, from the repository root:

    python3 medbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark (the program's sources plus the driver under
medbench/src) with sbt on first use, runs one workload in a fresh JVM with
a local Spark session on every core, checks the outputs (per run inside
the JVM; against the DuckDB oracle SQL here, for the medallion workloads)
and prints one JSON object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Everything it writes stays under medbench/target and
medbench/work.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CLASSPATH = os.path.join(HERE, "target", "medbench-classpath.txt")
WORKLOADS = ("x12_daily_incremental", "curation_chain")
# One run must end within 180 s; the first one in a checkout also builds.
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 700
# Spark's task threads and the collector's threads: half the cores, so the
# JIT's compiler threads, the driver thread and the machine's other work
# find a free core instead of preempting a task (a stage waits for its
# slowest task).
THREADS = max(1, (os.cpu_count() or 2) // 2)
JAVA_OPTS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
] + ["-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UseAdaptiveSizePolicy", "-Xmn1g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"medbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for base in (os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "src", "main", "scala"),
                 HERE):
        for d, _, fs in os.walk(base):
            if base == HERE and d != HERE:
                continue
            for f in fs:
                if f.endswith((".scala", ".sbt")):
                    yield os.path.join(d, f)


def build():
    """Compiles with sbt unless the recorded classpath is newer than every
    source file, and returns the classpath."""
    if os.path.exists(CLASSPATH):
        built = os.path.getmtime(CLASSPATH)
        if all(os.path.getmtime(f) <= built for f in sources()):
            with open(CLASSPATH) as f:
                return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_LIMIT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "classes" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def canon(cols, rows):
    """Column-name order and a sorted row list of values as text; floats to
    9 significant digits, since the two engines may sum in different orders.
    Values compare as text because the program reads partition columns back
    with inferred types (transaction_type '837' becomes the integer 837)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm(v):
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, (list, tuple)):
            return repr([norm(x) for x in v])
        return str(v)
    return ([cols[i] for i in order],
            sorted(tuple(norm(r[i]) for i in order) for r in rows))


def oracle_failures(checks):
    """Runs each oracle query and the query over the written output in
    DuckDB and returns the names whose results differ."""
    if not checks:
        return []
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    bad = []
    for c in checks:
        try:
            got = []
            for sql in (c["oracle"], c["written"]):
                cur = con.execute(sql)
                got.append(canon([d[0] for d in cur.description], cur.fetchall()))
            if got[0] != got[1]:
                bad.append(f'{c["name"]}: written output differs from the oracle '
                           f'({len(got[1][1])} vs {len(got[0][1])} rows)')
            elif not got[0][1]:
                bad.append(f'{c["name"]}: oracle and output are both empty')
        except Exception as e:  # a failed query is a failed check
            bad.append(f'{c["name"]}: {e}')
    return bad


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources at {os.path.join(ROOT, 'src', 'main', 'scala')}")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java must be on PATH")
    cp = build()
    started = time.monotonic()
    work = os.path.join(HERE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        try:
            proc = subprocess.run(
                ["java", *JAVA_OPTS, f"-Dmedbench.threads={THREADS}",
                 f"-XX:ParallelGCThreads={THREADS}",
                 f"-Djava.io.tmpdir={work}/tmp", "-cp", cp,
                 "graft.medbench.Main", "--workload", a.workload,
                 "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", work],
                cwd=work, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=RUN_LIMIT_S - 10)
        except subprocess.TimeoutExpired:
            fail("the run did not finish in time")
    with open(os.path.join(work, "jvm.out"), "w") as f:
        f.write(proc.stdout)
    result = None
    for line in proc.stdout.splitlines():
        if line.startswith("MEDBENCH_RESULT "):
            result = json.loads(line[len("MEDBENCH_RESULT "):])
    if proc.returncode != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"the run exited with {proc.returncode} and no result")
    t = time.monotonic()
    bad = oracle_failures(result.pop("oracle_checks"))
    print(f"medbench: oracle checks took {time.monotonic() - t:.2f} s", file=sys.stderr)
    for b in bad:
        print(f"medbench: oracle check failed: {b}", file=sys.stderr)
    if bad:
        result["correct"] = False
        result["failed"] = min(result["attempted"], result["failed"] + 1)
    print(f"medbench: {a.workload} seed {a.seed}: {result['attempted']} runs, "
          f"{result['failed']} failed, {time.monotonic() - started:.1f} s",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
