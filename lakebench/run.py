#!/usr/bin/env python3
"""Lake benchmark runner.

Run from the root of a checkout:

    python3 lakebench/run.py --workload cdc_cow --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt on first use
(lakebench/build.sbt compiles ../src/main together with lakebench/src),
then starts one JVM for the run. The JVM prints the result as the last
stdout line; its log goes to lakebench/out/<workload>-seed<n>-trace<t>.log.
"""
import argparse
import hashlib
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "lakebench.classpath")
STAMP = os.path.join(TARGET, "lakebench.stamp")
CDS_ARCHIVE = os.path.join(TARGET, "lakebench.jsa")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
RUN_TIMEOUT_S = 170

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"lakebench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, ds, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep)
            for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run(cmd, log, timeout, cwd=None, env=None):
    """Runs cmd in its own process group; stdout is returned, stderr
    goes to `log`. The whole group is killed on timeout, and whatever
    is left of it once cmd has exited."""
    with open(log, "ab") as err:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=err, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"{cmd[0]} timed out after {timeout}s (log: {log})", 4)
        finally:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            p.wait()
    return p.returncode, out.decode("utf-8", "replace")


def java_cmd(cp, extra, args):
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: Spark generates and loads new classes for every query, so
    # C2 compiles never finish within a run and their threads compete
    # with the workload; C1 code is ready after two warm-up batches.
    return ["java", *opens, "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
            "-XX:ParallelGCThreads=2", "-XX:TieredStopAtLevel=1",
            "-XX:ReservedCodeCacheSize=256m", "-XX:-UsePerfData",
            "-Xlog:disable", "-Xlog:all=warning:stderr", *extra,
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graft.lakebench.Main", *args, "--out", OUT]


def classpath():
    with open(CLASSPATH) as f:
        return f.read().strip()


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(OUT, "build.log")
    code, _ = run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "compile", "writeClasspath"], log, 840, cwd=HERE, env=env)
    if code != 0 or not os.path.exists(CLASSPATH):
        die(f"build failed (log: {log})", 3)
    # Class-data-sharing archive of the classes one short run loads: it
    # cuts JVM + Spark session start-up by about half. Best effort; a
    # run without it is only slower to start.
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    run(java_cmd(classpath(), [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"],
                 ["--workload", "cdc_cow", "--seed", "0", "--seconds", "1",
                  "--trace", "0"]), log, RUN_TIMEOUT_S, cwd=ROOT)
    with open(STAMP, "w") as f:
        f.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        die(f"engine sources not found under {ENGINE_SRC}; run from a "
            "checkout of the repository", 2)
    os.makedirs(OUT, exist_ok=True)
    build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    log = os.path.join(OUT, f"{tag}.log")
    if os.path.exists(log):
        os.remove(log)
    cds = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd = java_cmd(classpath(), cds,
                   ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace)])
    code, out = run(cmd, log, RUN_TIMEOUT_S, cwd=ROOT)
    sys.stdout.write(out)
    sys.stdout.flush()
    if code != 0:
        die(f"run failed with exit code {code} (log: {log})", code)


if __name__ == "__main__":
    main()
