#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first call builds the engine and
the benchmark driver with sbt (offline, into .bench_build/) and dumps a
class-data-sharing archive from one pass over every workload; a build
whose dump fails is an error. Later calls reuse both while the sources
are unchanged. The driver runs in one
JVM with Spark local[4]; its scratch files go to .bench_work/. The last
line of stdout is the result object.
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
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
ARCHIVE = os.path.join(BUILD, "app.jsa")
STAMP = os.path.join(BUILD, "stamp")
CLASSPATH = os.path.join(BUILD, "classpath")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
DEADLINE_S = 175  # a run must end within 180 s
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def interrupted(*_):
    raise KeyboardInterrupt


def wait(p, deadline):
    """Wait for child `p` until `deadline`; a timeout or a termination of
    this script kills it first. Returns its exit code, None on timeout."""
    try:
        return p.wait(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()


def source_stamp():
    """Hash of every input of the build: engine sources and the driver."""
    h = hashlib.sha256()
    tops = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.abspath(__file__),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def spark_jars():
    """The installed Spark distribution's jars directory."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark distribution found: set SPARK_HOME")
    return os.path.join(home, "jars")


def built():
    """The classpath of the last build if its sources are unchanged."""
    if all(os.path.exists(p) for p in (STAMP, CLASSPATH, ARCHIVE)):
        with open(STAMP) as f:
            if f.read() == source_stamp():
                with open(CLASSPATH) as g:
                    return g.read()
    return None


def build(deadline):
    """Compile with sbt and dump the class-data-sharing archive; returns
    the runtime classpath."""
    stamp = source_stamp()
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                       + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g -Dperfbench.sparkJars=" + spark_jars())
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        rc = wait(subprocess.Popen(cmd, cwd=HERE, env=env, stdout=out,
                                   stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL), deadline)
    if rc is None:
        fail(f"build timed out; see {log}")
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc}); see {log}")
    cp = lines[-1]
    # Class-data sharing: dump the classes one pass over every workload
    # loads, so each run's JVM maps them instead of loading ~10k classes
    # from jars (about 8 s less per run on 4 vCPUs). Every run requires
    # the archive, so a failed dump fails the build.
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    tmp = ARCHIVE + ".tmp"
    cds_log = os.path.join(BUILD, "cds.log")
    with open(cds_log, "w") as out:
        p = subprocess.Popen(java(cp, ["-XX:ArchiveClassesAtExit=" + tmp])
                             + ["perfbench.Main", "--train", WORK],
                             cwd=ROOT, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        rc = wait(p, deadline)
    if rc != 0 or not os.path.exists(tmp):
        fail(f"class-data-sharing archive dump failed (exit {rc}); see {cds_log}")
    os.replace(tmp, ARCHIVE)
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def java(cp, extra):
    """The JVM command line every driver process runs with."""
    return (["java", "-Xmx3g", "-XX:+UseParallelGC"] + extra
            + [x for o in JAVA_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")]
            + ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
               "-Dspark.ui.enabled=false", "-cp", cp])


def main():
    # a terminated run takes its children with it (see wait)
    signal.signal(signal.SIGTERM, interrupted)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"no engine sources under {ENGINE_SRC}: run from the root of a checkout")
    # a run that has to build may take 900 s; any other ends within 180 s
    cp = built()
    deadline = start + DEADLINE_S
    if cp is None:
        cp = build(start + 700)
        deadline = time.time() + DEADLINE_S
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    # -Xshare:on: a JVM that cannot map the archive stops instead of
    # running without it
    cmd = (java(cp, ["-Xshare:on", "-XX:SharedArchiveFile=" + ARCHIVE])
           + ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace, "--work", WORK,
              "--expected", os.path.join(HERE, "expected.json")])
    log = os.path.join(WORK, "logs", tag + ".log")
    out_file = os.path.join(WORK, "logs", tag + ".out")
    with open(log, "w") as err, open(out_file, "w") as out:
        rc = wait(subprocess.Popen(cmd, cwd=ROOT, stdout=out, stderr=err,
                                   stdin=subprocess.DEVNULL), deadline)
    if rc is None:
        fail(f"run exceeded {DEADLINE_S} s; see {log}")
    with open(out_file) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    if rc not in (0, 1) or not isinstance(result, dict) or "metrics" not in result:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"driver exited {rc} without a result; see {log}")
    for l in lines:
        print(l)
    sys.exit(rc)


if __name__ == "__main__":
    main()
