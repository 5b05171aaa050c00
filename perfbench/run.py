#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of the checkout. The first run compiles the program and
the harness with sbt (perfbench/build.sbt depends on the build one
directory up); later runs reuse the build until a source file changes.
Each run starts one JVM on all cores (Spark local[nproc]), prints every
metric as `name value unit`, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Every result line is also appended to .bench_build/results/results.jsonl,
which perfbench/compare.py reads. Optional: --break-check <check> shifts
one expected count by one, to show a failed check in the result.
"""
import argparse
import fcntl
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BUILD, "build.stamp")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"

JVM_OPTS = [
    "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
    "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", p + "=ALL-UNNAMED")]

# The program's build runs its JVMs with these (see build.sbt): large
# mallocs stay off mmap so JIT arenas do not cause TLB-shootdown storms.
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "MALLOC_ARENA_MAX": "4",
}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources_mtime():
    """Newest modification time over everything the build compiles."""
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
                os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        for d, dirs, files in os.walk(top):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def ensure_build():
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
            with open(STAMP) as f:
                if f.read().strip() == repr(sources_mtime()):
                    return
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            try:
                rc = subprocess.run(
                    ["sbt", "--batch", "-Dsbt.log.noformat=true",
                     "-Dsbt.server.autostart=false", "writeClasspath"],
                    cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                    stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = -1
        if rc != 0 or not os.path.isfile(CLASSPATH):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail("build failed (log: %s)" % log)
        with open(STAMP, "w") as f:
            f.write(repr(sources_mtime()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--break-check", default=None)
    a = ap.parse_args()

    # The program this benchmark measures lives one directory up.
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail("no program to measure: %s is missing" % os.path.join(ROOT, need))
    ensure_build()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    run_id = "%s-%d-%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    work = os.path.join(BUILD, "work", run_id)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(MALLOC_ENV)
    env.update({"SPARK_LOCAL_DIRS": os.path.join(work, "local"), "SPARK_GRAFT_TMPFS": "0"})
    cmd = (["java"] + JVM_OPTS + ["-Djava.io.tmpdir=" + tmp, "-cp", classpath,
           "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--bench-dir", BENCH, "--work-dir", work])
    if a.break_check:
        cmd += ["--break-check", a.break_check]

    started = time.time()
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if out is None:
        shutil.rmtree(work, ignore_errors=True)
        fail("run exceeded %d s" % RUN_TIMEOUT_S)
    lines = out.rstrip("\n").split("\n")
    result = None
    if proc.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    for name in os.listdir(work):
        if name.startswith("spans-"):
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            shutil.move(os.path.join(work, name), os.path.join(BUILD, "traces", name))
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        sys.stderr.write(out)
        fail("run failed (exit %d)" % proc.returncode)

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", "results.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "seconds": a.seconds, "wall_s": round(time.time() - started, 3),
                            "loadavg": os.getloadavg(),
                            "host": [l[2:] for l in lines if l.startswith("# host:")],
                            "result": result}) + "\n")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()


if __name__ == "__main__":
    main()
