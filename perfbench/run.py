#!/usr/bin/env python3
"""Build graft together with the benchmark harness, run one workload and
print its report; the last line of stdout is one JSON object.

    python3 perfbench/run.py --workload commit_mix --seed 1 --seconds 10 --trace 0

The source tables come from $SPARK_GRAFT_SF_DIR, by default
~/testdata/sf0.1. The build (sbt, offline) happens on the first run in a
checkout and again only when a source file changes. Everything a run
writes stays under perfbench/.work, which is removed when it ends.
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
WORKLOADS = ("read_serve", "commit_mix", "curate_pipeline")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (the root build.sbt
# passes the same list to forked runs).
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(home):
    marker = os.path.join(HERE, "target", "perfbench.stamp")
    want = stamp()
    if os.path.exists(marker) and open(marker).read() == want:
        return
    env = dict(os.environ, SPARK_HOME=home)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    try:
        # sbt's output goes to stderr: stdout must end with the result
        rc = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                            cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(marker, "w") as fh:
        fh.write(want)


def interrupted(signum, frame):
    raise KeyboardInterrupt


def main():
    signal.signal(signal.SIGTERM, interrupted)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"graft's sources are not in {ROOT}/src/main/scala")
    data = os.environ.get("SPARK_GRAFT_SF_DIR",
                          os.path.join(os.path.expanduser("~"), "testdata", "sf0.1"))
    data = os.path.realpath(data)
    if not os.path.isfile(os.path.join(data, "lineitem.parquet")):
        fail(f"no test tables in {data}: set SPARK_GRAFT_SF_DIR")
    home = spark_home()
    build(home)

    work = os.path.join(HERE, ".work", f"{a.workload}-{os.getpid()}")
    # the traced run's spans outlive the run's scratch directory
    spans = os.path.join(HERE, ".work", f"spans-{a.workload}-seed{a.seed}.tsv")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + [x for m in OPENS for x in ("--add-opens", f"java.base/{m}=ALL-UNNAMED")]
    cmd += ["-Xms4g", "-Xmx4g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            "-cp", os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                                    os.path.join(home, "jars", "*")]),
            "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--data", data,
            "--work", work, "--fingerprints", os.path.join(HERE, "fingerprints.txt"),
            "--spans", spans]
    log_path = os.path.join(work, "jvm.log")
    t0 = time.time()
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                out = None
            finally:
                # also on SIGTERM/SIGINT: never leave the JVM running
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        with open(log_path) as fh:
            log_tail = fh.readlines()[-40:]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if out is None:
        sys.stderr.writelines(log_tail)
        fail(f"run did not finish within {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, AssertionError):
        result = None
    if proc.returncode != 0 or result is None:
        sys.stderr.writelines(log_tail)
        print("\n".join(lines), file=sys.stderr)
        fail(f"run failed (exit {proc.returncode}) after {time.time() - t0:.1f} s", 1)
    for l in lines[:-1]:
        print(l)
    print(f"run wall time {time.time() - t0:.1f} s")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
