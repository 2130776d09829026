#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload harvest_cycle|serve_mix|operator_suite \
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the engine's sources
together with the harness (perfbench/build.sbt, via sbt) and records a
stamp of the sources it built; later runs reuse that build until a
source changes. The first run of each workload after a build also dumps
the classes it loaded into a JVM class-data-sharing archive
(.bench_build/cds-<workload>.jsa); later runs of that workload map the
archive instead of loading and verifying those classes again, which
takes about 5 s off every fresh JVM's start. Each run gets a scratch
directory under .bench_build/work that is removed when the run ends. Needs java 17, sbt and SPARK_HOME
(a Spark 4 distribution whose jars/ is the engine's classpath).

Exit status is non-zero, with no result printed, when the engine sources
are missing, the build fails, or the run fails or times out.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
JAR = os.path.join(HERE, "target", "perfbench.jar")
WORKLOADS = ("harvest_cycle", "serve_mix", "operator_suite")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources_stamp():
    files = sorted(
        glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
        + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
        + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    h = hashlib.sha256()
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    return env


def build():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = sources_stamp()
    if os.path.isfile(JAR) and os.path.isfile(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return
    os.makedirs(BUILD, exist_ok=True)
    for f in glob.glob(os.path.join(BUILD, "cds-*")):
        os.remove(f)  # archives of the previous build's jar
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "package"],
                             cwd=HERE, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("engine sources (src/main/scala/graft) not found; run from a repository checkout")
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home or not os.path.isdir(os.path.join(spark_home, "jars")):
        fail("SPARK_HOME must name a Spark 4 distribution")
    build()

    cores = max(1, min(4, os.cpu_count() or 1))
    work = os.path.join(BUILD, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    archive = os.path.join(BUILD, f"cds-{a.workload}.jsa")
    pending = None
    if os.path.isfile(archive):
        cds = f"-XX:SharedArchiveFile={archive}"
    else:
        pending = f"{archive}.{os.getpid()}"
        cds = f"-XX:ArchiveClassesAtExit={pending}"
    cmd = (["java", "-Xmx2g", cds, "-Xlog:disable", "-Xlog:all=warning:stderr"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
              "-Djava.io.tmpdir=" + work,
              "-cp", JAR + os.pathsep + os.path.join(spark_home, "jars", "*"),
              "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", work, "--cores", str(cores),
              "--expected", os.path.join(HERE, "suite_rows.tsv")])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, start_new_session=True, text=True)

    def stop(*_):
        """Kill the JVM's process group, wait for it, drop the scratch dir."""
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if pending and os.path.isfile(pending):
            if proc.returncode == 0:
                os.replace(pending, archive)
            else:
                os.remove(pending)

    def interrupted(signum, _frame):
        stop()
        fail(f"interrupted by signal {signum}")

    signal.signal(signal.SIGTERM, interrupted)
    signal.signal(signal.SIGINT, interrupted)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"run timed out after {RUN_TIMEOUT_S} s")
    stop()
    if proc.returncode != 0:
        fail(f"run failed (exit {proc.returncode})")
    lines = [l for l in out.splitlines() if l.strip()]
    if not lines:
        fail("run printed no result")
    result = json.loads(lines[-1])
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want = {m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        fail(f"metrics {sorted(set(result['metrics']) ^ want)} differ from BENCHMARK.json")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
