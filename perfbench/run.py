#!/usr/bin/env python3
"""Run one graft benchmark workload.

    python3 perfbench/run.py --workload tenant_search --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds graft's main
sources and the benchmark program with sbt (offline) and caches the
classpath under .bench_build/perfbench; later runs reuse it until a
source file changes. The program's stdout is passed through; its last
line is the result JSON. Everything a run writes stays under
.bench_build/perfbench (scratch space is removed when the run ends;
reports and span files are kept in results/).

One extra option, not used in normal runs:
    --inject throw|wrong   make one op throw, or corrupt one answer, to
                           show that the correctness gate catches it
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA = os.path.join(HERE, "data", "sf0.1")
WORKLOADS = ("tenant_search", "curate_corpus")
BUILD_TIMEOUT_S = 840
HEAP = "2g"
# The JIT runs C1 only. With C2 (the default), a search's latency keeps
# falling for about 250 requests (about 55 s on 4 cores, 250 ms to
# 140 ms) and a curation's for its first three runs, longer than a run can
# warm up for; timed on that curve, runs of the same code spread by 30%.
# C1 code is at its steady speed after the first block of requests or
# the first curation, so every run times the same steady state, at about
# 1.5 times C2's steady latency.
JIT = "-XX:TieredStopAtLevel=1"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [GRAFT_SRC, os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(os.path.relpath(f, ROOT) for f in files)


def source_hash():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
        h.update(b"\0")
    return h.hexdigest()


def spark_jars():
    """The jars directory of the local Spark installation."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not home or not os.path.isdir(jars):
        log("cannot build: no Spark installation found (set SPARK_HOME)")
        sys.exit(3)
    return jars


def build(digest):
    """Compile with sbt unless the cached build matches `digest`; return the classpath."""
    stamp = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log("building graft and the benchmark program (sbt, offline) ...")
    t0 = time.time()
    out_path = os.path.join(BUILD, "build.log")
    with open(out_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = wait_or_kill(proc, BUILD_TIMEOUT_S)
    with open(out_path) as f:
        lines = f.read().splitlines()
    cp = [l.strip() for l in lines if l.strip().startswith("/") and "classes" in l and ":" in l]
    if rc != 0 or not cp:
        log(f"build failed (exit {rc}); last lines of {out_path}:")
        for l in lines[-30:]:
            print("    " + l, file=sys.stderr)
        sys.exit(3)
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1]


def wait_or_kill(proc, timeout_s):
    """Wait for `proc`; past `timeout_s`, or when this script is
    interrupted or terminated, kill its whole process group and wait."""
    try:
        return proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        log(f"timed out after {timeout_s} s; stopping it")
        stop(proc)
        return -1
    except BaseException:
        stop(proc)
        raise


def stop(proc):
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            return
        try:
            proc.wait(timeout=10)
            return
        except subprocess.TimeoutExpired:
            pass


def run_timeout(seconds):
    """Wall-time limit of one run: start-up, set-up and warm-up (about
    60 s on 4 cores), plus the timed work, which can take a few times
    the seconds asked for (a warm curation takes about 15 s, one runs
    per 15 s asked for, at least one per block of a traced run)."""
    return 120 + 12 * seconds


def commit():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return "unknown (not a git checkout)"
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--inject", choices=("throw", "wrong"))
    a = ap.parse_args()
    # SIGTERM becomes SystemExit, so wait_or_kill stops the child first
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in (GRAFT_SRC, os.path.join(DATA, "documents.parquet"),
                           os.path.join(DATA, "embeddings.parquet")) if not os.path.exists(p)]
    if missing:
        log("cannot run: missing " + ", ".join(os.path.relpath(p, ROOT) for p in missing) +
            " (run from the root of a graft checkout)")
        sys.exit(2)

    digest = source_hash()
    cp = build(digest)

    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    results = os.path.join(BUILD, "results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = [java, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC", JIT,
           "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--data", DATA, "--work", work,
            "--results", results, "--commit", commit(), "--source-hash", digest]
    if a.inject:
        cmd += ["--inject", a.inject]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        rc = wait_or_kill(proc, run_timeout(a.seconds))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc if rc >= 0 else 4)


if __name__ == "__main__":
    main()
