#!/usr/bin/env python3
"""Benchmark entry point: runs one workload and prints its metrics.

    python3 perfbench/run.py <pinned settings> --workload board --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark driver from source with sbt (perfbench/build.sbt); later runs
reuse the build while the sources are unchanged. Every run gets its own
scratch root under perfbench/work/, deleted when the run ends. The last
line of stdout is the result object; the lines before it are notes.

Workloads (see perfbench/WORKLOADS.md):
  board        rows of the query registry: driver-bound SQL/DataFrame rows,
               graph kernels, sources and sinks, a micro-batch stream
  pipeline     weather -> transform -> simulate on generated inputs

The seed fixes the op order of a board pass (seed 0: registry order).
The board data and the pipeline's generated inputs do not depend on it.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import threading
import time

import gen_inputs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
BUILD_STAMP = os.path.join(HERE, "target", "perfbench-classpath.txt")
# Class-data archive of the classes a run loads before its first op,
# written once per build (perfbench/src/main/scala/perfbench/Archive.scala).
ARCHIVE = os.path.join(HERE, "target", "perfbench.jsa")
RUN_TIMEOUT_S = 170
# Generator seed of the pipeline's inputs. It is fixed, like the board
# data: the reference's mixed-model fit iterates a data-dependent number
# of times, so inputs that changed with the run seed would move its time.
INPUT_SEED = 1

# Module options Spark 4 needs on JDK 17 outside spark-submit; the same
# list as the repository's own build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Digest of every input of the build, so edited sources rebuild."""
    h = hashlib.sha1()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(a, run_args):
    """Compile with sbt once per source digest and write the class-data
    archive; return the classpath."""
    digest = source_digest()
    if os.path.exists(BUILD_STAMP):
        with open(BUILD_STAMP) as f:
            stamp, cp = f.read().split("\n", 1)
        if stamp == digest:
            return cp.strip()
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    print(f"build: compiled in {time.time() - t0:.1f} s")
    write_archive(a, cp, run_args)
    os.makedirs(os.path.dirname(BUILD_STAMP), exist_ok=True)
    with open(BUILD_STAMP, "w") as f:
        f.write(digest + "\n" + cp + "\n")
    return cp


def java(a, cp, work, extra=()):
    """The JVM command line of a run, up to its main class."""
    # No hsperfdata file: the run writes only inside the checkout.
    cmd = ["java", f"-Xms{a.heap}", f"-Xmx{a.heap}", f"-XX:+Use{a.gc}",
           "-XX:-UsePerfData", *extra]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    return cmd + [f"-Djava.io.tmpdir={work}/tmp",
                  f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
                  "-cp", cp]


def scratch_root(kind):
    """A fresh scratch root under perfbench/work/ with its tmp directory."""
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{kind}-", dir=WORK)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def write_archive(a, cp, run_args):
    """Run Archive with the run's settings and dump the classes it loaded.
    Without an archive runs still work, only with a slower set-up; both
    sides of a comparison build the same way, so they agree on it."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    t0 = time.time()
    work = scratch_root("archive")
    try:
        p = subprocess.run(
            java(a, cp, work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) +
            ["perfbench.Archive"] + run_args(work),
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True, timeout=300)
        ok, log = p.returncode == 0 and os.path.exists(ARCHIVE), p.stdout
    except subprocess.TimeoutExpired:
        ok, log = False, "timed out\n"
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if ok:
        print(f"build: class-data archive written in {time.time() - t0:.1f} s")
    else:
        sys.stderr.write(log[-2000:])
        print("build: no class-data archive; runs load every class from the jars")
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)


def pipeline_inputs(seed):
    """Generated inputs for the pipeline, cached on disk per seed and
    generator version."""
    with open(gen_inputs.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:12]
    out = os.path.join(WORK, "inputs", f"seed-{seed}-{version}")
    done = os.path.join(out, "DONE")
    if os.path.exists(done):
        print(f"inputs: seed {seed} cached")
        return out
    t0 = time.time()
    shutil.rmtree(out, ignore_errors=True)
    gen_inputs.generate(seed, out)
    open(done, "w").close()
    print(f"inputs: seed {seed} generated in {time.time() - t0:.3f} s "
          "(outside every metric)")
    return out


def main():
    # A terminated run still stops its JVM and deletes its scratch root.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True,
                    choices=["board", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    # Settings pinned by the command in BENCHMARK.json, so both sides of a
    # comparison run identically.
    ap.add_argument("--cpus", type=int, required=True,
                    help="local[cpus] and as many shuffle partitions")
    ap.add_argument("--heap", required=True, help="-Xms and -Xmx")
    ap.add_argument("--gc", required=True, help="HotSpot collector name")
    ap.add_argument("--sf", required=True, help="board data scale")
    ap.add_argument("--lstm", required=True,
                    help="pipeline LSTM nSteps,hidden,epochs,patience")
    ap.add_argument("--record", default="",
                    help="write the board's expected counts and hashes here")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources not found; run from the root of a checkout")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME must name the Spark installation")
    data = os.path.join(HERE, "data", f"sf{a.sf}")
    if a.workload == "board" and not os.path.isdir(data):
        fail(f"no board data for sf {a.sf}")

    inputs = pipeline_inputs(INPUT_SEED)
    expected = os.path.join(HERE, "expected", "board.json")
    spans = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.jsonl") \
        if a.trace else ""

    def run_args(work):
        return ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", data, "--inputs", inputs, "--work", work,
                "--expected", expected, "--spans", spans, "--cpus", str(a.cpus),
                "--lstm", a.lstm, "--record", a.record]

    cp = build(a, run_args)
    work = scratch_root(f"run-{a.workload}")
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = java(a, cp, work, shared) + ["perfbench.Main"] + run_args(work)
    last = ""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith("{"):
                last = line
            else:
                print(line, flush=True)
        rc = proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not last:
        fail(f"run did not complete (exit {rc})")
    print(last, flush=True)


if __name__ == "__main__":
    main()
