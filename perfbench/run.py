#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload hot_join --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine sources of
that checkout together with the benchmark driver (sbt, offline, into
.bench_build/); later runs reuse the build while no source file changed.
Each run generates its inputs from --seed under .bench_run/, runs one
closed-loop client on local[nproc], checks every operation against an
oracle, deletes its inputs, and prints as its last stdout line one JSON
object: {"correct", "attempted", "failed", "metrics"}. The line before it is
a stamp with the run's conditions (nproc, master, load average, -Xmx, seed,
input sizes, source hash, git commit). --trace 1 is the separate traced
run: its metrics are the per-layer ones, and all spans are written to
.bench_out/trace-<workload>-<seed>.json.

Exit code is non-zero, with no result line, when the build, the set-up or
the run fails, or when the run exceeds its time limit.
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
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "perfbench", "scala-2.13", "classes")
JAR = os.path.join(BUILD, "perfbench.jar")
# class-data-sharing archive of the classes a run loads: cuts JVM + Spark
# start-up by several seconds per run; made once per build
CDS = os.path.join(BUILD, "perfbench.jsa")
WORKLOADS = ("hot_join", "neighbours", "staged_pipeline")
# -Xms equal to -Xmx: the full GC after each timed operation would
# otherwise shrink the heap, and the next operations, sized by a heap that
# grows back over tens of operations, read that as a slow drift in latency
HEAP = "3g"
# a run must end within 180 s, or 900 s when it also builds
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 890
BUILD_LIMIT_S = 600

# Spark on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        log("no Spark installation found: set SPARK_HOME")
        sys.exit(2)
    return home


def source_files():
    files = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    files += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(src_hash):
    """Builds unless the last build was of these sources; True if it built."""
    stamp = os.path.join(BUILD, "perfbench.stamp")
    if os.path.exists(JAR) and os.path.exists(stamp) and open(stamp).read() == src_hash:
        return False
    log("building engine + benchmark (sbt compile)")
    os.makedirs(BUILD, exist_ok=True)
    if os.path.exists(stamp):
        os.remove(stamp)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false", "compile"]
    rc = run_bounded(cmd, HERE, BUILD_LIMIT_S, dict(os.environ, SPARK_HOME=spark_home()))
    if rc != 0:
        log(f"build failed (exit {rc})")
        sys.exit(3)
    # class-data sharing needs the classes in a jar
    with zipfile.ZipFile(JAR, "w") as z:
        for d, _, names in os.walk(CLASSES):
            for n in names:
                f = os.path.join(d, n)
                z.write(f, os.path.relpath(f, CLASSES))
    if os.path.exists(CDS):
        os.remove(CDS)
    log("recording the class-data-sharing archive (one short run)")
    train = os.path.join(ROOT, ".bench_run", f"cds-{os.getpid()}")
    try:
        rc = java_run(train, ["--workload", "hot_join", "--seed", "0", "--seconds", "1",
                              "--trace", "0"], [f"-XX:ArchiveClassesAtExit={CDS}", "-Xlog:cds=off",
                                                   "-Xlog:cds+dynamic=off"], 300)
    finally:
        shutil.rmtree(train, ignore_errors=True)
    if rc != 0:
        log(f"class-data-sharing run failed (exit {rc}); runs start without it")
    with open(stamp, "w") as fh:
        fh.write(src_hash)
    return True


def java_run(run_dir, args, jvm_flags, limit_s):
    """Runs perfbench.Main with its working files under run_dir."""
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
           + jvm_flags
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{JAR}:{os.path.join(spark_home(), 'jars')}/*", "perfbench.Main"] + args
           + ["--cores", str(len(os.sched_getaffinity(0))), "--run-dir", run_dir,
              "--result", os.path.join(run_dir, "result.json"),
              "--stamp", os.path.join(run_dir, "stamp.json")])
    return run_bounded(cmd, run_dir, limit_s)


def run_bounded(cmd, cwd, limit_s, env=None):
    """Runs cmd in its own process group with stdout sent to stderr; kills
    the whole group if it outlives limit_s. Returns the exit code."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr, env=env,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return proc.wait(timeout=limit_s)
    except subprocess.TimeoutExpired:
        log(f"timed out after {limit_s}s: {cmd[0]}")
        return -1
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        else:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
        sys.exit(2)
    src_hash = source_hash()
    limit_s = BUILD_RUN_LIMIT_S if build(src_hash) else RUN_LIMIT_S

    run_dir = os.path.join(ROOT, ".bench_run", f"{a.workload}-{a.seed}-{os.getpid()}")
    result = os.path.join(run_dir, "result.json")
    stamp = os.path.join(run_dir, "stamp.json")
    trace_out = os.path.join(ROOT, ".bench_out", f"trace-{a.workload}-{a.seed}.json")
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    load0 = os.getloadavg()
    cds = [f"-XX:SharedArchiveFile={CDS}"] if os.path.exists(CDS) else []
    try:
        limit = max(10, limit_s - (time.monotonic() - started))
        rc = java_run(run_dir, ["--workload", a.workload, "--seed", str(a.seed),
                                "--seconds", str(a.seconds), "--trace", str(a.trace),
                                "--trace-out", trace_out], cds, limit)
        if rc != 0 or not os.path.exists(result):
            log(f"run failed (exit {rc})")
            sys.exit(1)
        with open(stamp) as fh:
            st = json.load(fh)
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    st.update({"load_avg_start": list(load0), "load_avg_end": list(os.getloadavg()),
               "heap_max": HEAP, "class_data_sharing": bool(cds), "source_hash": src_hash,
               "git_commit": git_commit()})
    if a.trace == 0:
        for k, v in res["metrics"].items():
            log(f"{a.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"stamp": st}))
    print(json.dumps(res), flush=True)


if __name__ == "__main__":
    main()
