#!/usr/bin/env python3
"""Run one workload of the graft benchmark.

    python3 perfbench/run.py --workload token_ingest --seed 1 --seconds 10 --trace 0

Builds the library (../src/main) and the harness (src/) from this
checkout with sbt, once per source change, then runs the workload in one
JVM on Spark local[k], k = nproc, with the heap sized from MemTotal. All
files go under perfbench/.work (removed at exit) and perfbench/out (span
files of traced runs). The last stdout line is the result object; the exit
code is non-zero when the build, a host check or an answer check failed.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
LIB_SRC = ROOT / "src" / "main"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
WORKLOADS = ("token_ingest", "token_scan", "lookup_mixed")
BUILD_TIMEOUT_S = 800

# Spark on JDK 17 outside spark-submit needs the module opens spark-submit
# would add (org.apache.spark.launcher.JavaModuleOptions).
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


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = str(Path(submit).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    return home


def source_stamp():
    h = hashlib.sha256()
    files = sorted(p for base in (LIB_SRC, HERE / "src") for p in base.rglob("*") if p.is_file())
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(home):
    if not LIB_SRC.is_dir():
        fail(f"library sources not found at {LIB_SRC.relative_to(ROOT)}: run from a full checkout")
    stamp = source_stamp()
    if STAMP.is_file() and STAMP.read_text() == stamp and CLASSES.is_dir():
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, SPARK_HOME=home)
    try:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "Compile / products"], cwd=HERE,
                           env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"build exceeded {BUILD_TIMEOUT_S} s")
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})")
    STAMP.write_text(stamp)


def shown(p):
    """`p` relative to the working directory when it lies below it."""
    return str(p.relative_to(Path.cwd()) if p.is_relative_to(Path.cwd()) else p)


def heap_mb():
    """A quarter of MemTotal, within [1 GiB, 6 GiB]: the host is shared."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1024, min(6144, int(line.split()[1]) // 1024 // 4))
    return 2048


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    home = spark_home()
    build(home)
    cores = len(os.sched_getaffinity(0))
    heap = heap_mb()
    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    span_file = HERE / "out" / f"trace-{a.workload}-seed{a.seed}.json"
    work.mkdir(parents=True, exist_ok=True)
    tmp = work / "tmp"
    tmp.mkdir()
    cmd = ["java", f"-Xmx{heap}m", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{Path(home) / 'jars' / '*'}", "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--cores", str(cores),
            "--work", shown(work), "--span-file", shown(span_file)]
    # Three setups, warm-up, checks, the ORC copy and the kernel timings
    # take a fixed time (about 40 s on a 4-core host); the window, rounded
    # up to whole rounds, grows with --seconds.
    timeout_s = 120 + 2 * a.seconds
    proc = subprocess.Popen(cmd, env=dict(os.environ, SPARK_HOME=home))
    try:
        code = proc.wait(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {timeout_s} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass
    sys.exit(code)


if __name__ == "__main__":
    main()
