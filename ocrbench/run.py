#!/usr/bin/env python3
"""Benchmark of record for the ocrspark extraction engine.

Usage, from the repository root:

    python3 ocrbench/run.py --workload contract_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (ocrbench/build.sh), runs one
workload in a single JVM pinned to four CPUs, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` gives the
end-to-end metrics, `--trace 1` the per-layer ones. Each run's full record is
appended to ocrbench/results/runs.jsonl; traced runs also write their spans
under ocrbench/results/spans/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("contract_batch", "checkpoint_resume")
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these opens (same list as
# the root build.sbt); ParallelGC with a large young generation matches the
# engine's production executor flags.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"ocrbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()

    build = subprocess.run(["bash", str(HERE / "build.sh")], stdout=sys.stderr)
    if build.returncode != 0:
        fail("build failed", build.returncode)

    cpus = sorted(os.sched_getaffinity(0))[:4]
    if len(cpus) < 4:
        fail(f"needs 4 CPUs, has {len(cpus)}", 2)
    jars = (HERE / "target" / "jars_dir").read_text().strip()
    java_home = os.environ.get("JAVA_HOME")
    java = str(Path(java_home) / "bin" / "java") if java_home else "java"
    work = HERE / "work" / f"{args.workload}-{os.getpid()}"
    results = HERE / "results"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    results.mkdir(parents=True, exist_ok=True)

    jvm = [java]
    for p in ADD_OPENS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jvm += [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:NewRatio=1", "-Djava.awt.headless=true",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", f"{HERE / 'target' / 'classes'}:{jars}/*", "ocrbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", str(work / "run"), "--results", str(results),
        "--cpus", ",".join(map(str, cpus)),
    ]
    launch_ns = time.time_ns()
    proc = subprocess.Popen(
        ["taskset", "-c", ",".join(map(str, cpus))] + jvm
        + ["--launch-epoch-ns", str(launch_ns)],
        cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {JVM_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited with {proc.returncode}", proc.returncode)

    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("benchmark JVM printed no record")
    record = json.loads(lines[-1])
    metrics = record["metrics"]
    missing = [m for m in declared_metrics(args.trace) if m not in metrics]
    if missing:
        fail(f"run did not measure {missing}")
    result = {
        "correct": record["failed"] == 0 and record["attempted"] > 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {m: metrics[m] for m in declared_metrics(args.trace)},
    }
    record["finished_epoch_s"] = time.time()
    with open(results / "runs.jsonl", "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
