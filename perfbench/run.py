#!/usr/bin/env python3
"""Benchmark launcher for the graft resolver.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload batch_live --seed 42 --seconds 20 --trace 0

Builds the library sources (src/main/scala) and the benchmark sources
(perfbench/src) with the Scala compiler jar that ships with Spark, into
.bench_build/ (rebuilt only when a source changes), then runs one
benchmark JVM on local[nproc] with shuffle partitions = nproc and the heap
set to half of RAM (2-8 GB). The JVM's result object is printed as the
last line of stdout. Exit code 0 only when every check passed.
`--corrupt-reference` flips the reference fingerprint to prove that a
mismatch fails the run.
"""
import argparse
import hashlib
import os
import re
import shutil
import subprocess
import sys
import threading
from pathlib import Path

ROOT = Path.cwd()
BUILD = ROOT / ".bench_build"
BENCH_SRC = Path(__file__).resolve().parent / "src"
ARCHIVE = BUILD / "classes.jsa"
RESULT_PREFIX = "PERFBENCH_RESULT "
RUN_TIMEOUT_S = 170

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


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else build.sbt's unmanagedBase."""
    cands = []
    if os.environ.get("SPARK_HOME"):
        cands.append(Path(os.environ["SPARK_HOME"]) / "jars")
    sbt = ROOT / "build.sbt"
    if sbt.is_file():
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text())
        if m:
            cands.append(Path(m.group(1)))
    for c in cands:
        if list(c.glob("spark-core_*.jar")):
            return c
    fail("no Spark jar directory found (set SPARK_HOME)")


def build(jars):
    main_src = ROOT / "src" / "main" / "scala"
    if not main_src.is_dir() or not BENCH_SRC.is_dir():
        fail("library sources not found: run from the root of a graft checkout")
    sources = sorted(main_src.rglob("*.scala")) + sorted(BENCH_SRC.glob("*.scala"))
    compiler = sorted(jars.glob("scala-compiler-2.13.*.jar"))
    if not compiler:
        fail(f"no scala-compiler jar in {jars}")
    h = hashlib.sha256(Path(__file__).read_bytes())
    for f in sources:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    h.update(str(sorted(p.name for p in jars.glob("*.jar"))).encode())
    stamp = BUILD / "stamp"
    classes = BUILD / "classes"
    if stamp.is_file() and stamp.read_text() == h.hexdigest():
        return
    shutil.rmtree(classes, ignore_errors=True)
    stamp.unlink(missing_ok=True)
    tool_cp = os.pathsep.join(str(jars / n) for n in (
        compiler[-1].name, compiler[-1].name.replace("compiler", "library"),
        compiler[-1].name.replace("compiler", "reflect")))
    for out, srcs, extra in (("main", [f for f in sources if f.is_relative_to(main_src)], []),
                             ("bench", [f for f in sources if f.is_relative_to(BENCH_SRC)], [classes / "main"])):
        (classes / out).mkdir(parents=True)
        argfile = BUILD / f"{out}.sources"
        argfile.write_text("\n".join(str(f) for f in srcs))
        cp = os.pathsep.join([str(e) for e in extra] + [str(jars / "*")])
        print(f"perfbench: compiling {len(srcs)} {out} sources", file=sys.stderr)
        r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", tool_cp, "scala.tools.nsc.Main", "-nowarn",
                            "-classpath", cp, "-d", str(classes / out), f"@{argfile}"])
        if r.returncode != 0:
            fail(f"compiling the {out} sources failed")
    for out in ("main", "bench"):
        r = subprocess.run(["jar", "cf", str(BUILD / f"{out}.jar"), "-C", str(classes / out), "."])
        if r.returncode != 0:
            fail(f"packaging the {out} classes failed")
    ARCHIVE.unlink(missing_ok=True)
    stamp.write_text(h.hexdigest())


def run_jvm(jars, args):
    """One benchmark JVM in a fresh work dir under .bench_build; its stdout
    is forwarded except the result line, which is returned.

    The first run after a build records a class data sharing archive at
    exit; later runs map the loaded classes from it instead of parsing them
    from the jars, which takes several seconds off every JVM start."""
    cores = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    work = BUILD / "work" / str(os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cmd = ["java", f"-Xmx{heap_gb()}g", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-XX:SharedArchiveFile={ARCHIVE}" if ARCHIVE.is_file() else f"-XX:ArchiveClassesAtExit={ARCHIVE}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(BUILD / "bench.jar"), str(BUILD / "main.jar"), str(jars / "*")]),
            "perfbench.PerfBench"] + args + ["--work", str(work), "--out", str(BUILD / "out"), "--cores", str(cores)]
    result = None
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, cwd=str(work))
    timer = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_PREFIX):
                result = line[len(RESULT_PREFIX):].strip()
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        code = proc.wait()
    finally:
        timer.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code, result


def heap_gb():
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(8, kb // 2097152))
    except (OSError, StopIteration, ValueError):
        return 2


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--corrupt-reference", action="store_true")
    a = ap.parse_args()

    jars = spark_jars()
    build(jars)
    code, result = run_jvm(jars, ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                            "--trace", a.trace, "--corrupt-reference", "1" if a.corrupt_reference else "0"])
    if result is None:
        fail(f"benchmark JVM ended with code {code} and no result")
    print(result, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
