#!/usr/bin/env python3
"""End-to-end PDF -> vector-collection benchmark.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

The first call compiles the program (src/main/scala) and the benchmark
(perfbench/src) with the Scala compiler that ships in the Spark jar
directory named by build.sbt's `unmanagedBase`, into a jar under the build
directory ($CARGO_TARGET_DIR, default .bench_build), and records a
class-data-sharing archive from one short run. Each run then starts one JVM,
which generates the seeded corpus, drives the program through its public
entry points, checks every output and prints one JSON line last.
"""
import argparse
import hashlib
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    """The jar directory build.sbt compiles against (`unmanagedBase`)."""
    sbt = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(sbt):
        fail("build.sbt not found: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        fail(f"Spark jar directory {jars} not found")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail("src/main/scala not found: the benchmark builds the program from source")
    out = []
    for base in (main, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs if f.endswith(".scala")]
    return sorted(out)


def build(build_dir, jars):
    """Compile program + benchmark once per source state into a jar, then
    record a class-data-sharing archive from a short run of every path.
    Returns (jar, archive or None)."""
    srcs = sources()
    res = os.path.join(ROOT, "src", "main", "resources")
    h = hashlib.sha256()
    for p in srcs + [os.path.join(HERE, "log4j2.properties")]:
        h.update(os.path.relpath(p, ROOT).encode())
        h.update(open(p, "rb").read())
    out = os.path.join(build_dir, f"perfbench-{h.hexdigest()[:16]}")
    jar = os.path.join(out, "perfbench.jar")
    jsa = os.path.join(out, "perfbench.jsa")
    if os.path.isfile(os.path.join(out, ".complete")):
        return jar, (jsa if os.path.isfile(jsa) else None)
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    classes = os.path.join(tmp, "classes")
    os.makedirs(classes)
    argfile = os.path.join(tmp, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    cp = ":".join(jars)
    r = subprocess.run(
        ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed", 2)
    if os.path.isdir(res):
        shutil.copytree(res, classes, dirs_exist_ok=True)
    tmp_jar = os.path.join(tmp, "perfbench.jar")
    with zipfile.ZipFile(tmp_jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                full = os.path.join(d, f)
                z.write(full, os.path.relpath(full, classes))
    shutil.rmtree(classes)
    print(f"perfbench: compiled {len(srcs)} sources in {time.time() - t0:.1f}s",
          file=sys.stderr)
    # the archive is keyed to the exact class path, so it is recorded
    # against the final jar location
    os.rename(tmp, out)
    t0 = time.time()
    work = os.path.join(build_dir, f"perfbench-work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        # -Xlog:disable: the dump warns once per class it cannot archive
        code, _ = run_jvm(jvm_cmd(jar, [f"-XX:ArchiveClassesAtExit={jsa}",
                                        "-Xlog:disable"], work) +
                          ["perfbench.Main", "--workload", "archive", "--seed", "0",
                           "--seconds", "1", "--trace", "0", "--work", work],
                          relay=False)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.isfile(jsa):
        print("perfbench: no class-data-sharing archive; JVMs start without it",
              file=sys.stderr)
    print(f"perfbench: recorded start-up archive in {time.time() - t0:.1f}s",
          file=sys.stderr)
    open(os.path.join(out, ".complete"), "w").close()
    return jar, (jsa if os.path.isfile(jsa) else None)


def jvm_cmd(jar, cds, work):
    """The measuring JVM; `cds` holds its class-data-sharing flags."""
    # a fixed, pre-touched heap keeps VmHWM (peak_rss_mb) from depending
    # on when the collector chose to grow the heap; -XX:-UsePerfData keeps
    # the JVM from writing its perf-counter file to the system temp dir
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch"] + cds
    cmd += [f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    return cmd + ["-cp", ":".join([jar] + spark_jars())]


def run_jvm(cmd, relay=True):
    """Run one JVM, relay its stdout, kill its process group on timeout."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    lines = []

    def relay_out():
        for line in p.stdout:
            lines.append(line.rstrip("\n"))
            print(line, end="", flush=True, file=sys.stdout if relay else sys.stderr)

    t = threading.Thread(target=relay_out, daemon=True)
    t.start()
    try:
        p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print("perfbench: run exceeded its time limit", file=sys.stderr)
        return 124, lines
    t.join(timeout=10)
    return p.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and (a.workload is None or a.seed is None or a.seconds is None):
        fail("need --workload, --seed and --seconds (or --self-test)")

    jars = spark_jars()
    build_dir = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jar, jsa = build(build_dir, jars)
    work = os.path.join(build_dir, f"perfbench-work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    jvm = jvm_cmd(jar, [f"-XX:SharedArchiveFile={jsa}"] if jsa else [], work)
    try:
        if a.self_test:
            code, _ = run_jvm(jvm + ["perfbench.SelfTest"])
            sys.exit(code)
        trace_out = os.path.join(build_dir, "perfbench-traces",
                                 f"{a.workload}-seed{a.seed}.json")
        code, lines = run_jvm(jvm + [
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--trace-out", trace_out])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0:
        fail(f"run failed with exit code {code}", code if code > 0 else 1)
    if not lines or not lines[-1].startswith("{"):
        fail("run printed no result line", 1)


if __name__ == "__main__":
    main()
