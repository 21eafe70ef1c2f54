#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --record-expected <graft.Verify output dir>

Builds the engine's main sources together with the benchmark (sbt, once
per source state), then runs perfbench.Main in a JVM. Its last stdout line
is the result; the full run record and its spans are written
under perfbench/.work/records/. Exits non-zero without a result when the
engine sources are missing or the build or run fails.

--record-expected rewrites perfbench/expected.json from a graft.Verify dump
of perfbench/data/sf0.01 (check the dump with tools/selfcheck.py first).
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main")
BENCH_SRC = os.path.join(HERE, "src", "main")
BUILD_FILES = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
TARGET = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(TARGET, "perfbench-classpath.txt")
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data", "sf0.01")
EXPECTED = os.path.join(HERE, "expected.json")
WORKLOADS = ("relational", "llm_ops", "catalog_ingest")
# A fixed heap and young generation, so the peak resident set follows the
# old generation's high-water mark (live data such as caches) rather than
# the collector's resizing decisions; two malloc arenas keep native memory
# from varying with thread scheduling. The serial collector promotes and
# compacts in one fixed order, so the old generation's high-water mark
# repeats from run to run, and no parallel GC workers spin while they wait
# for one another.
JVM_MEMORY = ["-XX:+UseSerialGC", "-Xms1g", "-Xmx1g", "-Xmn256m"]
# the JIT compiler threads live as long as the JVM, so the CPU time the
# benchmark leaves out for them is all accounted (see CpuClock.scala)
JVM_JIT = ["-XX:-UseDynamicNumberOfCompilerThreads"]
# local[N]: at these input sizes ops are latency-bound, and two task
# threads leave headroom on a shared machine
CORES = min(2, os.cpu_count() or 1)
RUN_TIMEOUT_S = 170
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every source and build file the benchmark's classes depend on."""
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """The benchmark's runtime classpath, building first when sources changed."""
    stamp = source_fingerprint()
    if os.path.exists(CLASSPATH_FILE):
        with open(CLASSPATH_FILE) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    print("[perfbench] building engine and benchmark (sbt)", file=sys.stderr)
    # resolve only from local caches unless the caller configured sbt
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g "
                           f"-Dsbt.repository.config={repos}")
    proc = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    # sbt's own lines are tagged "[info]", "[success]" and so on; the
    # exported classpath is the one untagged line
    cps = [l.strip() for l in proc.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        sys.stderr.write(proc.stdout[-4000:])
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = cps[-1]
    os.makedirs(TARGET, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as fh:
        fh.write(stamp + "\n" + cp + "\n")
    return cp


def git_head():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except OSError:
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=("0", "1"))
    ap.add_argument("--ops", default="bench", choices=("bench", "all"),
                    help="query workloads: the benchmark's cut or the whole inventory")
    ap.add_argument("--record-expected", metavar="VERIFY_DIR")
    args = ap.parse_args()
    if not args.record_expected and None in (args.workload, args.seed, args.seconds, args.trace):
        ap.error("--workload, --seed, --seconds and --trace are required")

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, os.getcwd())}")
    cp = classpath()

    run_id = (f"record-expected-{os.getpid()}" if args.record_expected else
              f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    work = os.path.join(WORK, run_id)
    record = os.path.join(WORK, "records", run_id + ".json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"), MALLOC_ARENA_MAX="2")
    mode = (["--record-expected", os.path.abspath(args.record_expected)] if args.record_expected else
            ["--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", args.trace, "--ops", args.ops, "--record", record,
             "--git-head", git_head(), "--heap", " ".join(JVM_MEMORY),
             "--t0-ms", str(int(time.time() * 1000))])
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           JVM_MEMORY + JVM_JIT + [f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--data", DATA, "--expected", EXPECTED, "--work", work, "--cores", str(CORES)] + mode)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, env=env, text=True, start_new_session=True)
    # the benchmark's own runs are bounded; whole-inventory and
    # expected-recording runs take as long as the inventory needs
    bounded = args.ops == "bench" and not args.record_expected
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S if bounded else None)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not (lines or args.record_expected):
        fail(f"benchmark JVM exited {proc.returncode} without a result")
    if lines:
        print(lines[-1])


if __name__ == "__main__":
    main()
