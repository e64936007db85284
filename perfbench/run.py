#!/usr/bin/env python3
"""Build the engine with the benchmark and run one workload.

    python3 perfbench/run.py --workload extract_docs --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline); later runs reuse the build until
a source file changes. Each run starts one JVM with a Spark local[nproc]
session, prints the JVM's output and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. Inputs are generated once per seed and build, in a JVM
of their own before the measured one, and cached under
.bench_work/inputs; a traced run's spans are kept in .bench_work/traces.
Every other file a run writes goes to a scratch directory under
.bench_work/runs that is removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_work"
WORKLOADS = ("extract_docs", "store_stream", "curate_pack")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
# Spark on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_HEAP = "-Xmx3g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    singles = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
               BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    files = [p for r in roots for p in r.rglob("*") if p.is_file()]
    return sorted(files + [p for p in singles if p.is_file()])


def build():
    """Compile engine and benchmark unless the sources are unchanged;
    return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail(f"engine sources not found next to {BENCH.name}/ (run from a full checkout)")
    digest = hashlib.sha256()
    for p in source_files():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = digest.hexdigest()
    out = BENCH / "target"
    cp_file, stamp_file = out / "bench-classpath.txt", out / "bench-stamp.txt"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    try:
        res = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_LIMIT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(res.stdout)
        fail(f"build failed (sbt exit {res.returncode})")
    out.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(lines[-1].strip())
    stamp_file.write_text(stamp)
    return lines[-1].strip(), stamp


def input_cache(stamp):
    """The input cache of this build: inputs are keyed by the source
    stamp, so a changed generator never reads stale inputs. Drops the
    caches of other builds."""
    root = WORK / "inputs"
    current = root / stamp[:16]
    if root.is_dir():
        for p in root.iterdir():
            if p != current:
                shutil.rmtree(p, ignore_errors=True)
    return current


def java(classpath, main, tmp, *args):
    return (["java", JVM_HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath, main] + [str(a) for a in args])


def run(args, classpath, stamp):
    deadline = time.monotonic() + RUN_LIMIT_S
    # a caller stopping this script stops the JVMs it started too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    inputs = input_cache(stamp)
    if not (inputs / args.workload / f"seed-{args.seed}" / "_DONE").is_file():
        try:
            res = subprocess.run(
                java(classpath, "perfbench.Generate", run_dir / "tmp", "--workload", args.workload,
                     "--seed", args.seed, "--inputs", inputs),
                cwd=run_dir, stdout=subprocess.DEVNULL, timeout=RUN_LIMIT_S / 2)
        except subprocess.TimeoutExpired:
            shutil.rmtree(run_dir, ignore_errors=True)
            fail("input generation took too long", 3)
        if res.returncode != 0:
            shutil.rmtree(run_dir, ignore_errors=True)
            fail(f"input generation exited with {res.returncode}", 3)
    cmd = java(classpath, "perfbench.Main", run_dir / "tmp",
               "--workload", args.workload, "--seed", args.seed,
               "--seconds", args.seconds, "--trace", args.trace,
               "--inputs", inputs, "--work", run_dir,
               "--spawn-ms", int(time.time() * 1000))
    proc = subprocess.Popen(cmd, cwd=run_dir, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    timed_out = threading.Event()

    def kill():
        timed_out.set()
        os.killpg(proc.pid, signal.SIGKILL)

    timer = threading.Timer(max(1.0, deadline - time.monotonic()), kill)
    timer.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        trace = run_dir / "trace.json"
        if trace.is_file():
            (WORK / "traces").mkdir(parents=True, exist_ok=True)
            shutil.copy(trace, WORK / "traces" / f"{args.workload}-seed{args.seed}.json")
        shutil.rmtree(run_dir, ignore_errors=True)
    if timed_out.is_set():
        fail(f"run exceeded {RUN_LIMIT_S} s and was stopped", 3)
    if code != 0:
        fail(f"benchmark JVM exited with {code}", 3)
    try:
        result = json.loads(last)
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (TypeError, ValueError, AssertionError):
        fail("the benchmark printed no result line", 3)
    if not result["correct"]:
        fail("a correctness check failed (see the [check] lines above)", 1)
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    classpath, stamp = build()
    sys.exit(run(args, classpath, stamp))


if __name__ == "__main__":
    main()
