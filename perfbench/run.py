#!/usr/bin/env python3
"""Dedup benchmark: builds the engine from source, runs one workload, prints
one JSON result line.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run it from the repository root. The engine (src/main) and the benchmark
(perfbench/src) are compiled with the Scala compiler that ships in Spark's
jars, into $CARGO_TARGET_DIR (default .bench_build), keyed by a hash of their
sources, so a second run reuses the build. Everything the run writes stays
under that directory. See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

WORKLOADS = ("crawl_mix", "dup_dense", "daily_incremental")
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "2g"
RUN_LIMIT_S = 170


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def tree_files(root, exts):
    out = []
    for d, _, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(out)


def digest(paths, salt=""):
    h = hashlib.sha256(salt.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_jar(spark_jars, classpath, sources, resources, jar):
    """Compiles `sources` into `jar` (with the files under `resources`) once;
    the jar only appears when the build is complete."""
    if os.path.exists(jar):
        return
    out = jar + ".classes"
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(spark_jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", out]
    if classpath:
        cmd += ["-classpath", classpath]
    r = subprocess.run(cmd + sources, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail(f"compile failed ({r.returncode}) for {len(sources)} sources")
    # class data sharing (below) only archives classes that come from jars
    with zipfile.ZipFile(jar + ".tmp", "w") as z:
        for base in [out] + ([resources] if resources else []):
            for f in tree_files(base, ("",)):
                z.write(f, os.path.relpath(f, base))
    os.replace(jar + ".tmp", jar)
    shutil.rmtree(out, ignore_errors=True)
    print(f"[perfbench] compiled {len(sources)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)


def spark_jars_dir():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open("build.sbt") as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else ""
    except OSError:
        return ""


def engine_java_flags():
    """The engine's `-Dspark.*` defaults from build.sbt, so the benchmark runs
    the engine as configured in the repository."""
    try:
        with open("build.sbt") as f:
            return re.findall(r'"(-Dspark\.[^"]+)"', f.read())
    except OSError:
        return []


def pid_alive(pid):
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True


def sweep(runs):
    """Removes run directories (Spark's blockmgr-*/spark-* scratch among them)
    left behind by killed predecessors."""
    if not os.path.isdir(runs):
        return
    for name in os.listdir(runs):
        m = re.match(r".*-(\d+)$", name)
        if m and not pid_alive(int(m.group(1))):
            shutil.rmtree(os.path.join(runs, name), ignore_errors=True)
            print(f"[perfbench] swept stale run dir {name}", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the self-test")
    a = ap.parse_args()

    engine_src = os.path.join("src", "main", "scala")
    engine_res = os.path.join("src", "main", "resources")
    bench_src = os.path.join("perfbench", "src")
    for d in (engine_src, engine_res, bench_src):
        if not os.path.isdir(d):
            fail(f"{d} not found: run from the repository root")
    spark_jars = spark_jars_dir()
    if not os.path.isdir(spark_jars):
        fail(f"Spark jars not found at '{spark_jars}': set SPARK_HOME")

    build = os.path.join(os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build")),
                         "perfbench")
    os.makedirs(build, exist_ok=True)
    engine_files = tree_files(engine_src, (".scala",))
    bench_files = tree_files(bench_src, (".scala",))
    engine_hash = digest(engine_files + tree_files(engine_res, ("",)))
    bench_hash = digest(bench_files + [os.path.join("perfbench", "run.py")], engine_hash)
    engine_jar = os.path.join(build, f"engine-{engine_hash}.jar")
    bench_jar = os.path.join(build, f"bench-{bench_hash}.jar")
    cds = os.path.join(build, f"cds-{bench_hash}.jsa")
    cp = os.pathsep.join([bench_jar, engine_jar, os.path.join(spark_jars, "*")])
    runs = os.path.join(build, "runs")
    cache = os.path.join(build, f"corpus-{bench_hash}")
    with open(os.path.join(build, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        compile_jar(spark_jars, None, engine_files, engine_res, engine_jar)
        compile_jar(spark_jars, engine_jar + os.pathsep + os.path.join(spark_jars, "*"),
                    bench_files, None, bench_jar)
        if not os.path.exists(cds):
            # A class-data-sharing archive of the classes a run loads, made
            # by one smoke run: Spark loads thousands of classes at session
            # start and in its first queries, which would otherwise be
            # seconds of every run's set-up.
            t0 = time.time()
            launch(cp, ["-XX:ArchiveClassesAtExit=" + cds + ".tmp"], runs, cache,
                   ["--workload", "crawl_mix", "--seed", "1", "--seconds", "0",
                    "--trace", "0", "--smoke", "1"], quiet=True)
            if os.path.exists(cds + ".tmp"):
                os.replace(cds + ".tmp", cds)
            print(f"[perfbench] class-data archive in {time.time() - t0:.1f} s", file=sys.stderr)

    shared = ["-XX:SharedArchiveFile=" + cds] if os.path.exists(cds) else []
    code, out = launch(cp, shared, runs, cache,
                       ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--smoke", "1" if a.smoke else "0"])
    lines = [l for l in out.splitlines() if l.strip()]
    if lines:
        print(lines[-1], flush=True)
    sys.exit(code)


def launch(cp, jvm_flags, runs, cache, args, quiet=False):
    """Runs the benchmark JVM in its own work directory and waits for it.
    Returns its exit code and standard output."""
    sweep(runs)
    work = os.path.join(runs, f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
           + [f"-Xmx{HEAP}", f"-Xms{HEAP}", f"-Djava.io.tmpdir={tmp}",
              "-Dlog4j2.configurationFile=" + os.path.abspath(
                  os.path.join("perfbench", "log4j2.properties"))]
           + engine_java_flags() + jvm_flags
           + ["-cp", cp, "perfbench.Main", "--work", work, "--cache", cache] + args)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE,
                            stderr=subprocess.DEVNULL if quiet else sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_LIMIT_S} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out


if __name__ == "__main__":
    main()
