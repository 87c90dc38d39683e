#!/usr/bin/env python3
"""Builds and runs the graft benchmark.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
        [--scale bench|smoke] [--plant-wrong-digest]

Workloads: tile_pipeline, catalog_mix, graph_distributed, hot_cell_join.

The first run compiles the engine's sources (src/main/scala) together with
the benchmark driver (perfbench/src) through perfbench/build.sbt, and
records a stamp of every source file; later runs reuse the classes while
the stamp holds. A run then starts two driver JVMs, one after the other:
  1. --prepare generates the workload's missing inputs (keyed by the stamp),
     so that the timed JVM never generates;
  2. the measuring JVM starts cold: setup_s runs from its launch to the end
     of a session plus one warm-up pass. It prints the result JSON as the
     last line of stdout.
Everything they write stays under .bench_build/ in the checkout.
"""
import hashlib
import os
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(BENCH, "target", "runtime-classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
RUN_TIMEOUT_S = 170

OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]


def log(msg):
    print("[run.py] " + msg, file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx3g" % repos)
    log("building (engine + benchmark driver) with sbt")
    rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "compile", "writeClasspath"], cwd=BENCH, env=env,
                         stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0 or not os.path.exists(CLASSPATH):
        log("build failed (exit %d)" % rc)
        sys.exit(1)
    os.makedirs(WORK, exist_ok=True)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    args = sys.argv[1:]
    if "--workload" not in args:
        log(__doc__)
        sys.exit(2)
    if not os.path.isdir(ENGINE_SRC):
        log("engine sources not found at %s" % os.path.relpath(ENGINE_SRC, ROOT))
        sys.exit(2)
    build()
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = open(CLASSPATH).read().strip()
    opens = [x for p in OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    java = (["java"] + opens + [
        # a fixed heap: a heap that grows through the run keeps changing
        # GC behaviour under the timed passes
        "-Xms2g", "-Xmx2g", "-XX:+UseG1GC",
        "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
        "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
        "-Dspark.ui.enabled=false",
        "-cp", cp, "graftbench.Main",
        "--work", WORK, "--expected", os.path.join(BENCH, "expected")] + args)
    deadline = time.time() + RUN_TIMEOUT_S

    def driver(*extra, result=True):
        """Runs one driver JVM; returns its last stdout line (which must be
        a JSON object when `result` is set), or exits 1."""
        launched = time.time()
        p = subprocess.Popen(java + ["--launched-at-ms", str(int(launched * 1000))] + list(extra),
                             cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=max(1.0, deadline - launched))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            log("run exceeded %d s" % RUN_TIMEOUT_S)
            sys.exit(1)
        lines = out.splitlines()
        for line in lines[:-1]:
            print(line, file=sys.stderr)
        if p.returncode != 0 or (result and (not lines or not lines[-1].startswith("{"))):
            log("driver JVM %s failed (exit %d)" % (" ".join(extra), p.returncode))
            sys.exit(1)
        return lines[-1] if lines else ""

    driver("--prepare", result=False)
    # write back freshly generated inputs before the timed JVM starts
    os.sync()
    print(driver(), flush=True)


if __name__ == "__main__":
    main()
