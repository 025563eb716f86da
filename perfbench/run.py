#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload mining --seed 1 --seconds 8 --trace 0

Builds the engine and the harness (perfbench/build.sbt) when their sources
changed, then runs one closed-loop client in a fresh JVM with run-private
index, temp and Spark local dirs, and removes them afterwards. Every metric
is printed with its unit and sample count; the last line of stdout is the
result JSON. The exit code is non-zero when a key fails, a result
fingerprint mismatches reference/fingerprints.tsv, or the build fails.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
STAMP = os.path.join(BUILD, "stamp")
CLASSPATH = os.path.join(BUILD, "classpath")
DATA = os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.01"))
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JAVA_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def sources():
    """Every file the build reads, in a stable order."""
    out = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
           os.path.join(ROOT, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            out += [os.path.join(d, f) for f in sorted(files)]
    return out


def stamp():
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala")):
        sys.exit("perfbench: no engine sources next to perfbench/ (src/main/scala/graft)")
    want = stamp()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == want:
                return
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx3g"]))
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    with open(STAMP, "w") as f:
        f.write(want)
    print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    run_dir = os.path.join(HERE, ".run", uuid.uuid4().hex[:12])
    for sub in ("index", "tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    cores = len(os.sched_getaffinity(0))
    # JIT thresholds at a tenth of the default: set-ups and passes spread
    # less from run to run than with the default thresholds.
    # A fixed heap with 16 MB regions: a growing heap made passes speed up
    # across the timed window, and Spark's 1-8 MB buffers, humongous at the
    # default 2 MB regions, started a G1 marking cycle every second or two.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:G1HeapRegionSize=16m",
           "-XX:-UsePerfData", "-XX:CompileThresholdScaling=0.1",
           "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--sf", DATA, "--cores", str(cores), "--run-dir", run_dir,
            "--reference", os.path.join(HERE, "reference", "fingerprints.tsv")]
    env = dict(os.environ, SPARK_GRAFT_INDEX_DIR=os.path.join(run_dir, "index"))
    env.pop("SPARK_GRAFT_KEYS", None)
    # a SIGTERM still stops the JVM and removes the run dir
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {RUN_TIMEOUT_S} s", file=sys.stderr)
        code = 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
