#!/usr/bin/env python3
"""Product-workload benchmark for the PII scanner.

    python3 perfbench/run.py --workload pii_scan --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt (offline) into
.bench_build/ at the checkout root, rebuilding only when a source changed,
then runs one workload in a fresh JVM with a local Spark master. All run
state lives in a temp dir under .bench_build/tmp that is deleted at exit; the
full result record (and, with --trace 1, every span) is kept under
.bench_build/results/. The last line on stdout is the summary JSON object.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("pii_scan", "catalog_tag", "stream_scan", "near_dup")
HEAP = "2g"
# The JVM runs with the C1 compiler only, a fixed-size heap and the
# throughput collector. Under C2, operations kept speeding up for as long as a
# run lasted and whole runs landed 12-15% apart (profile-dependent
# compilation); C1 settles during warm-up and runs agree within ~5%. Absolute
# times are therefore C1 times (pii_scan passes take ~1.5x their C2 time).
# ScanCatalog and ScanStream run as one-shot CLI passes in a fresh JVM, where
# most code never reaches C2 either.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these opens (the same list the
# program's own build passes to its forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala; run from the root of a full checkout")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    sbt_tmp = os.path.join(BUILD, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
           "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global"),
           "-Djava.io.tmpdir=" + sbt_tmp,
           "compile", "export Runtime/fullClasspath"]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(BUILD, "tmp"))
    cmd = (["java"] + JVM_FLAGS + [
            f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--tmp", tmp, "--results", results, "--heap", HEAP])
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE, text=True)

    def stop(*_):
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)

    def terminated(*_):
        stop()
        fail("terminated")

    signal.signal(signal.SIGTERM, terminated)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop()
        fail(f"{a.workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        stop()
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if proc.returncode not in (0, 1) or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out[-4000:])
        fail(f"{a.workload} exited {proc.returncode} without a result")
    sys.stdout.write("\n".join(lines) + "\n")
    sys.stdout.flush()
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
