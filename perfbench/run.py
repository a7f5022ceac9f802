#!/usr/bin/env python3
"""graft wire benchmark launcher.

    python3 perfbench/run.py --workload interactive|bulk \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the benchmark (its own sbt build, which compiles the repository's
main project from source) when the sources changed, generates the data set
once, then runs one workload in a fresh JVM and prints the JVM's result line
as the last line of stdout. Every file it writes stays under perfbench/.work
and the sbt target directories. A run that fails prints no result line and
exits non-zero; the JVM's stderr is kept in perfbench/.work/last-run.err.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
SF = 0.1
BUILD_TIMEOUT_S = 840
RUN_BUDGET_S = 170
DATA_MISSING = 3
MAIN = "graft.perfbench.Main"

# Spark on JDK 17 outside spark-submit needs these (as in the main build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(json.dumps({"error": msg}), file=sys.stderr)
    sys.exit(code)


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def source_fingerprint():
    """Hash of every build input: both builds' definitions and sources."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(d):
            inputs += [os.path.join(d, f) for f in sorted(os.listdir(d))
                       if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for dirpath, dirnames, files in os.walk(d):
            dirnames.sort()
            inputs += [os.path.join(dirpath, f) for f in sorted(files)]
    for p in inputs:
        st = os.stat(p)
        h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(p):
            fail(f"the repository's main project is missing ({p} not found)")
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath")
    stamp_file = os.path.join(WORK, "build.stamp")
    fp = source_fingerprint()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == fp:
                with open(cp_file) as c:
                    return c.read()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "-J-XX:-UsePerfData", "compile", "export Runtime/fullClasspath"],
                cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = f.read().splitlines()
    if proc.returncode != 0:
        fail(f"build failed; see {log}: " + " | ".join(lines[-5:]))
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(fp)
    return cps[-1]


def java_cmd(classpath, run_dir, args):
    mem = "2g"
    opts = [o for p in ADD_OPENS for o in ("--add-opens", p + "=ALL-UNNAMED")]
    return (["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
            + opts + ["-cp", classpath, MAIN] + args)


def run_jvm(cmd, deadline, err_path):
    """Run the JVM in its own process group; kill the group on timeout."""
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=BENCH, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
            return "timeout", ""
    return proc.returncode, out.decode("utf-8", "replace")


def tail(path, n=15):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["interactive", "bulk"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and a.workload is None:
        fail("--workload is required")
    classpath = build()
    # the first run of a checkout may spend its time building; a run's
    # own budget starts after the build
    deadline = time.time() + RUN_BUDGET_S
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    os.makedirs(os.path.join(run_dir, "tmp"))
    err_path = os.path.join(WORK, "last-run.err")
    try:
        common = ["--work", run_dir, "--data", os.path.join(WORK, f"data-sf{SF}"),
                  "--sf", str(SF), "--cpus", str(cpus())]
        if a.self_test:
            code, out = run_jvm(java_cmd(classpath, run_dir, ["--self-test"] + common),
                                deadline, err_path)
            print(out, end="")
            sys.exit(0 if code == 0 else 1)
        measure = ["--workload", a.workload, "--seed", str(a.seed),
                   "--seconds", str(a.seconds), "--trace", str(a.trace)] + common
        code, out = run_jvm(java_cmd(classpath, run_dir, measure), deadline, err_path)
        if code == DATA_MISSING:
            gen_err = os.path.join(WORK, "generate.err")
            gcode, _ = run_jvm(java_cmd(classpath, run_dir, ["--generate"] + common),
                               time.time() + 600, gen_err)
            if gcode != 0:
                fail("data generation failed:\n" + tail(gen_err))
            deadline = time.time() + RUN_BUDGET_S
            code, out = run_jvm(java_cmd(classpath, run_dir, measure), deadline, err_path)
        trace = os.path.join(run_dir, "trace.json")
        if os.path.exists(trace):
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.move(trace, os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if code != 0:
        fail(f"benchmark JVM exit status {code}:\n" + tail(err_path), code=1)
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        fail("the benchmark JVM printed no result line:\n" + "\n".join(lines[-5:]), code=1)
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
