#!/usr/bin/env python3
"""Benchmark of the graft library: builds it from source, runs one workload
for a seed, checks every gate result against its DuckDB oracle and prints
the metrics. The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Usage (from the root of the repository):

    python3 perfbench/run.py --workload etl --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --workload all --seed 1       # every workload
    python3 perfbench/run.py --selftest                    # benchmark self-tests

Build outputs go to target/ and perfbench/target/, run files to
.perfbench_work/ (deleted after the run) and .perfbench_out/ (logs, spans).
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_TIMEOUT_S = 700
RUN_TIMEOUT_S = 170
WORKLOADS = ["etl", "analytics"]

# Spark 4 on JDK 17 outside spark-submit needs these (the library's
# build.sbt passes the same list to its forked runs).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    and waits for it. Returns (returncode, stdout) or (None, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        out, _ = p.communicate()
        return None, out


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compiles the library and the harness with sbt (once per source
    state) and returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "perfbench-classpath.txt")
    stamp_file = cp_file + ".stamp"
    stamp = source_stamp()
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    code, out = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        fail(f"build failed (exit {code})")
    print(f"built in {time.time() - t0:.0f} s", file=sys.stderr)
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1].strip()


def jvm(cp, work, args):
    """Runs the harness JVM with its working files under `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # The serial collector sizes the heap from the data live after each
    # collection, not from pause-time goals that depend on host speed, so
    # the peak resident set follows the memory the program retains.
    cmd = ["java", "-Xmx2g", "-XX:+UseSerialGC",
           "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--root", ROOT, "--work", work,
            "--out", os.path.join(ROOT, ".perfbench_out")] + args
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    log = os.path.join(ROOT, ".perfbench_out", "jvm-%d.log" % os.getpid())
    with open(log, "w") as err:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=work, stderr=err)
    return code, out, log


def one(cp, workload, seed, seconds, trace):
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out, log = jvm(cp, work, ["--workload", workload, "--seed", str(seed),
                                        "--seconds", str(seconds), "--trace", str(trace)])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    result = None
    if code == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    for l in lines[:-1] if result else lines:
        print(l)
    if result is None:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload}: run failed (exit {code})", 1)
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        fail(f"{ROOT} does not hold the graft sources (build.sbt, src/main/scala/graft)")
    cp = classpath()

    if a.selftest:
        import selftest
        sys.exit(selftest.main(cp, jvm, ROOT, a.seed))
    if a.workload != "all":
        print(json.dumps(one(cp, a.workload, a.seed, a.seconds, a.trace)))
        return
    ok = True
    for w in WORKLOADS:
        print(f"== workload {w}")
        r = one(cp, w, a.seed, a.seconds, a.trace)
        ok = ok and r["correct"]
        print(json.dumps(r))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
