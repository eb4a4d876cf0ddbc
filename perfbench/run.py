#!/usr/bin/env python3
"""Benchmark launcher for the FHIR ETL program.

Builds the program and the benchmark harness from source (once per source
state), then runs one workload in a fresh JVM and prints the harness's
one-line JSON result as the last line of stdout.

    python3 perfbench/run.py --workload etl_all_studies --seed 1 --seconds 20 --trace 0

Everything it writes stays inside the checkout: build output and the
generated inputs under `.bench_build/`, scratch space under `.bench_work/`
(removed when the run ends) and the full per-run record under
`.bench_records/`.
"""

import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build" / "perfbench"
INPUTS = BUILD / "inputs"
WORKLOADS = ("etl_all_studies", "load_cold_rerun")

# Fixed so that spill and GC behave the same on every run.
HEAP = "3g"
MAX_CORES = 4
BUILD_TIMEOUT_S = 840
GENERATE_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170

# What Spark 4 needs on JDK 17 outside spark-submit; the same list the
# program's own build passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", BENCH / "src" / "main"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless this source state was built already; return
    the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    log("building the program and the benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.override.build.repos=true -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "perfbench/compile", "export perfbench/Runtime/fullClasspath"]
    proc = subprocess.run(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                          stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    sys.stderr.write(proc.stdout)
    paths = [ln for ln in proc.stdout.splitlines()
             if ln.startswith("/") and ":" in ln and " " not in ln]
    if proc.returncode != 0 or not paths:
        raise SystemExit(f"build failed (sbt exit {proc.returncode})")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(paths[-1])
    stamp_file.write_text(stamp)
    return paths[-1]


def java(classpath, work):
    """The JVM command line, with its scratch space under `work`."""
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    return cmd + [f"-Djava.io.tmpdir={work / 'tmp'}",
                  f"-Dderby.stream.error.file={work / 'derby.log'}",
                  "-cp", classpath, "perfbench.Main"]


def generate_inputs(classpath, cores):
    """Write the workloads' inputs once per source state: generation is
    seed-independent, and paying it in every run would not fit the run
    budget. Returns the inputs directory."""
    stamp = source_stamp()
    stamp_file = INPUTS / "stamp.txt"
    if stamp_file.exists() and stamp_file.read_text() == stamp:
        return INPUTS
    log("generating the workloads' inputs")
    shutil.rmtree(INPUTS, ignore_errors=True)
    work = ROOT / ".bench_work" / f"generate-{os.getpid()}"
    try:
        subprocess.run(java(classpath, work) + [
            "--generate", str(INPUTS), "--work", str(work), "--cores", str(cores)],
            cwd=work, stdout=sys.stderr, stderr=sys.stderr, check=True,
            timeout=GENERATE_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    stamp_file.write_text(stamp)
    return INPUTS


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    args = ap.parse_args()

    missing = [p for p in ("build.sbt", "src/main/scala/graft/Cli.scala")
               if not (ROOT / p).is_file()]
    if missing:
        log(f"the program's sources are not here: missing {', '.join(missing)}")
        return 2
    if shutil.which("sbt") is None or shutil.which("java") is None:
        log("sbt and java must be on the PATH")
        return 2

    classpath = build()
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    inputs = generate_inputs(classpath, cores)
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    record = (ROOT / ".bench_records" /
              f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    cmd = java(classpath, work) + [
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", args.trace,
        "--inputs", str(inputs), "--work", str(work), "--record", str(record),
        "--cores", str(cores)]
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
        return 3
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    log(f"jvm exit {proc.returncode} after {time.monotonic() - t0:.1f} s; record {record}")
    if lines and lines[-1].startswith("{"):
        print(lines[-1], flush=True)
    return proc.returncode


if __name__ == "__main__":
    sys.exit(main())
