#!/usr/bin/env python3
"""Run graft.Bench with plain `java`, without sbt running beside it.

    SPARK_GRAFT_SF_DIR=path/to/sf0.1 SPARK_GRAFT_CPUS=4 python3 tools/bench.py

Run from the root of a checkout. Started as `sbt runMain graft.Bench`,
the bench shares the machine with sbt's own JVM, whose start-up and
compile check alone lift a 4-core box's 1-minute load past 1, so the
run can never stamp itself quiet (`loadavg_start` < 1). This tool asks
sbt (offline) once for the compiled runtime classpath and the forked
JVM options `build.sbt` declares, caches both under .bench_build/bench,
and starts `graft.Bench` with them. Later runs reuse the cache until a
main source file, the build definition, or an environment variable that
`build.sbt` reads changes. Bench inherits the environment
(`SPARK_GRAFT_SF_DIR`, `SPARK_GRAFT_CPUS`, `SPARK_GRAFT_ONLY`, ...),
writes BENCH_detail.json at the checkout root as under sbt, and its exit
code is this tool's.
"""
import hashlib
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".bench_build", "bench")
# the environment variables build.sbt reads into the forked JVM options
BUILD_ENV = ("SPARK_DRIVER_MEM", "SPARK_GRAFT_GC", "SPARK_GRAFT_JAVA_OPTS")
BUILD_TIMEOUT_S = 1200


def log(msg):
    print(f"[bench] {msg}", file=sys.stderr, flush=True)


def digest():
    """Hash of every file the build reads and of the build's environment."""
    files = [os.path.join(ROOT, "build.sbt")]
    for top in ("project", os.path.join("src", "main")):
        for d, dirs, names in os.walk(os.path.join(ROOT, top)):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
        h.update(b"\0")
    for k in BUILD_ENV:
        h.update(f"{k}={os.environ.get(k)}\0".encode())
    return h.hexdigest()


def build(stamp):
    """(classpath, JVM options), from the cache or from one sbt run."""
    stamp_file = os.path.join(CACHE, "stamp")
    launch_file = os.path.join(CACHE, "launch.txt")
    if os.path.exists(stamp_file) and os.path.exists(launch_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(launch_file) as f:
                    cp, *opts = f.read().splitlines()
                return cp, opts
    os.makedirs(CACHE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx3g")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "print javaOptions", "export Runtime/fullClasspath"]
    log("compiling and reading the launch settings (sbt, offline) ...")
    t0 = time.time()
    out_path = os.path.join(CACHE, "build.log")
    with open(out_path, "w") as out:
        try:
            rc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    with open(out_path) as f:
        lines = f.read().splitlines()
    # `print javaOptions` lists one option per "* " line; the classpath
    # export is the one line of absolute paths
    opts = [l[2:] for l in lines if l.startswith("* ")]
    cps = [l.strip() for l in lines if l.startswith("/") and "classes" in l and ":" in l]
    if rc != 0 or not cps or not opts:
        log(f"build failed (exit {rc}); last lines of {out_path}:")
        for l in lines[-30:]:
            print("    " + l, file=sys.stderr)
        sys.exit(3)
    with open(launch_file, "w") as f:
        f.write("\n".join([cps[-1]] + opts) + "\n")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cps[-1], opts


def main():
    if len(sys.argv) > 1:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    cp, opts = build(digest())
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    os.chdir(ROOT)
    # exec: Bench replaces this process, so nothing of the launcher stays
    # running beside it
    os.execvp(java, [java] + opts + ["-cp", cp, "graft.Bench"])


if __name__ == "__main__":
    main()
