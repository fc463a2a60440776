#!/usr/bin/env python3
"""CDC replication benchmark launcher.

Usage, from the repository root:

    python3 cdcbench/run.py --workload cdc_stream --seed 1 --seconds 12 --trace 0

Builds the program and the benchmark from source (sbt, once per source
state; the classpath is cached under .bench_build/), then runs one workload
in a fresh JVM with a fixed heap cap and prints the result as the last line
of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are the per-layer metrics, and the run also prints each
layer's self time and the tracing overhead against the last untraced run of
the same workload.
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

WORKLOADS = ("cdc_stream", "cdc_history_read")
BENCH = "cdcbench"
STATE = os.path.join(".bench_build", BENCH)
HEAP_CAP_MB = 1536
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark on JDK 17 outside spark-submit needs these (the root build's list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build, so a changed program rebuilds."""
    h = hashlib.sha256()
    inputs = ["build.sbt", os.path.join("project", "build.properties"),
              os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for top in ("src/main", os.path.join(BENCH, "src/main")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for p in inputs:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Build with sbt when the sources changed; return the runtime classpath."""
    cp_file = os.path.join(STATE, "classpath")
    stamp_file = os.path.join(STATE, "stamp")
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(STATE, exist_ok=True)
    print("cdcbench: building (sbt)", file=sys.stderr)
    try:
        out = subprocess.run(
            ["sbt", "-batch", "-no-colors", "export Runtime/fullClasspath"],
            cwd=BENCH, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=BUILD_TIMEOUT_S)
    except FileNotFoundError:
        fail("sbt is not on PATH")
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    if out.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out.stdout[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def heap_mb():
    """Driver heap cap: fixed, and always well below physical memory."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return min(HEAP_CAP_MB, total_kb // 1024 // 4)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile("build.sbt") and os.path.isdir("src/main/scala")):
        fail("run from the repository root: the program's sources "
             "(build.sbt, src/main/scala) are missing")
    cp = classpath()
    heap = heap_mb()
    work = os.path.abspath(os.path.join(STATE, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xms{heap}m", f"-Xmx{heap}m", "-XX:+UseG1GC",
           "-XX:CompileThresholdScaling=0.25",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={os.path.abspath(BENCH)}/log4j2.properties",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "cdcbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--heap-mb", str(heap)]
    launch_ms = int(time.time() * 1000)
    proc = subprocess.Popen(cmd + ["--launch-ms", str(launch_ms)],
                            stdout=subprocess.PIPE, text=True)
    # a launcher stopped by a signal takes the JVM down with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    result, e2e = None, None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        elif line.startswith("E2E "):
            e2e = json.loads(line[len("E2E "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"run failed (exit {proc.returncode})")

    last = os.path.join(STATE, f"last-untraced-{a.workload}.json")
    if a.trace == 0:
        with open(last, "w") as f:
            json.dump({k: v["value"] for k, v in result["metrics"].items()}, f)
    elif os.path.isfile(last):
        with open(last) as f:
            base = json.load(f)
        print("tracing overhead vs the last untraced run: " + ", ".join(
            f"{k} {100.0 * (e2e[k] - base[k]) / base[k]:+.1f}%"
            for k in e2e if k in base and base[k]))
    else:
        print("tracing overhead: no untraced run of this workload yet")
    print(json.dumps(result))
    sys.stdout.flush()


if __name__ == "__main__":
    main()
