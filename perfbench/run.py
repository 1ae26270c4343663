#!/usr/bin/env python3
"""Crawl-engine benchmark.

Run one workload:
    python3 perfbench/run.py --workload seeded_crawl --seed 1 --seconds 10 --trace 0

Compare two sets of result records (JSON lines written by runs):
    python3 perfbench/run.py compare A.jsonl B.jsonl

A run builds the engine together with the benchmark program (sbt, in
perfbench/) when the sources are newer than the last build, then starts one
JVM for the workload. It prints the run's full record (workload, seed, every
metric with its unit, sample counts, checks) as one JSON line, appends it to
.bench_work/records.jsonl, and prints the result line as the last line of
standard output. It exits non-zero when a check fails or the run breaks.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_SRC = os.path.join(MAIN_SRC, "graft")
WORK_ROOT = os.path.join(ROOT, ".bench_work")
CLASSPATH_FILE = os.path.join(HERE, "target", "bench-classpath.txt")
RECORD_PREFIX = "GRAFTBENCH_RECORD "
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every source the build compiles: the repo's main sources (the engine
    and the Spark bridge it calls) and the benchmark program."""
    for base in (MAIN_SRC, os.path.join(HERE, "src", "main")):
        for d, _, files in os.walk(base):
            for f in files:
                if f.endswith((".scala", ".java")):
                    yield os.path.join(d, f)
    yield os.path.join(HERE, "build.sbt")


def build():
    """Compile with sbt when a source is newer than the last build; return
    the runtime classpath."""
    if os.path.exists(CLASSPATH_FILE):
        stamp = os.path.getmtime(CLASSPATH_FILE)
        if all(os.path.getmtime(p) <= stamp for p in sources()):
            with open(CLASSPATH_FILE) as f:
                return f.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(proc.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CLASSPATH_FILE), exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    return cp


def cpu_count():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-Xms1g", "-Xmx1g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + opens + ["-cp", cp, "graftbench.Main"] + args)
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"the benchmark JVM ran past {JVM_TIMEOUT_S} s and was stopped", 3)
    record = None
    for line in out.splitlines():
        if line.startswith(RECORD_PREFIX):
            record = json.loads(line[len(RECORD_PREFIX):])
    if proc.returncode != 0 or record is None:
        sys.stderr.write(err[-6000:])
        fail(f"the benchmark JVM exited with code {proc.returncode} and no record", 3)
    return record


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main_run(argv):
    spec = load_spec()
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description="Run one crawl-engine benchmark workload.")
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    if not os.path.isdir(ENGINE_SRC):
        fail("the engine sources (src/main/scala/graft) are not in this checkout")
    if not os.path.isdir(os.path.join(os.environ.get("SPARK_HOME", ""), "jars")):
        fail("SPARK_HOME does not point at a Spark installation with jars/")
    cp = build()
    work = os.path.join(WORK_ROOT, f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    try:
        record = run_jvm(cp, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--cpus", str(cpu_count()), "--work", work], work)
    finally:
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
            shutil.move(spans, os.path.join(
                WORK_ROOT, "traces", f"{a.workload}-{a.seed}-{int(t0)}.json"))
        shutil.rmtree(work, ignore_errors=True)
    record["run_wall_s"] = time.time() - t0
    with open(os.path.join(WORK_ROOT, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    for m in wanted:
        got = record["metrics"].get(m["name"])
        if got is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": got["value"], "unit": m["unit"]}
    correct = bool(record["correct"]) and not missing
    failed = record["failed"] + len(missing)
    print(json.dumps(record))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": record["attempted"] + len(missing),
                      "failed": failed, "metrics": metrics}))
    sys.stdout.flush()
    if not correct:
        for c in record.get("checks", []):
            if not c["ok"]:
                print(f"perfbench: check {c['name']} failed: {c['detail']}", file=sys.stderr)
        sys.exit(1)


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "compare":
        sys.path.insert(0, HERE)
        import compare
        sys.exit(compare.main(sys.argv[2:], load_spec()))
    main_run(sys.argv[1:])


if __name__ == "__main__":
    main()
