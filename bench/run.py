#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 bench/run.py --workload batch_extract --seed 1 --seconds 15 --trace 0

Builds the harness (sbt, against the repository beside this directory) on
first use or when a source is newer than the last build, then runs one JVM
per invocation. See bench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
CLASSPATH = BENCH / "target" / "bench.classpath"
WORKLOADS = ("batch_extract", "stream_ingest", "query_sweep")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these (same list as build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    for root in (REPO / "src" / "main", BENCH / "src"):
        yield from root.rglob("*.scala")
    yield REPO / "build.sbt"
    yield BENCH / "build.sbt"


def build():
    if not (REPO / "build.sbt").is_file() or not (REPO / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no repository sources beside {BENCH.name}/ to build against")
    if CLASSPATH.is_file():
        built = CLASSPATH.stat().st_mtime
        if all(p.stat().st_mtime <= built for p in sources()):
            return
    sbt_tmp = BENCH / "target" / "sbt-tmp"  # keeps sbt's sockets and native libs in the checkout
    sbt_tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
           f"-Djava.io.tmpdir={sbt_tmp}", "writeClasspath"]
    print("[bench] building: " + " ".join(cmd), file=sys.stderr)
    try:
        r = subprocess.run(cmd, cwd=BENCH, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S, start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not CLASSPATH.is_file():
        fail(f"build failed (sbt exit {r.returncode})")


def run(args, extra):
    work_tmp = BENCH / "work" / f"tmp-{os.getpid()}"
    work_tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={work_tmp}",
        "-cp", CLASSPATH.read_text().strip(),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--bench", str(BENCH),
    ] + extra
    proc = subprocess.Popen(cmd, cwd=REPO, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work_tmp, ignore_errors=True)
        # the JVM deletes its own work dir; this covers a killed one
        shutil.rmtree(BENCH / "work" / f"run-{proc.pid}", ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark JVM exited {proc.returncode}")
    lines = [line for line in out.splitlines() if line.strip()]
    if not lines:
        fail("no result line")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result: {lines[-1]}")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    print(json.dumps(result))


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", choices=("fingerprint", "drop-url"),
                    help="test hook: make one output wrong so the checks must catch it")
    ap.add_argument("--record", action="store_true",
                    help="rewrite bench/queries.tsv from this run's query outputs")
    args = ap.parse_args()
    build()
    extra = (["--corrupt", args.corrupt] if args.corrupt else []) + (["--record"] if args.record else [])
    run(args, extra)


if __name__ == "__main__":
    main()
