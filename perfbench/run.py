#!/usr/bin/env python3
"""graft benchmark: build it from source, run one workload, print one
JSON result line.

Run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                           [--cores <n>]

The first run builds the program's sources together with the benchmark
harness (perfbench/build.sbt, via sbt) and caches the classpath under
perfbench/.build; later runs rebuild only when a source file changed. Each
run starts one JVM (graftbench.Main) at local[<cores>], cores defaulting to
the processors this process may use, and waits for it. Scratch files go to
perfbench/.work. Exit status: 0 when every output checked out, 1 when a
check failed (the result line still prints), 2 on a usage error or a
missing program, 3 when the JVM died without a result, 4 on a build
failure or timeout, 5 when the reported metrics differ from BENCHMARK.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_MARKER = os.path.join(PROGRAM_SRC, "graft", "pipeline", "Linkage.scala")
WORKLOADS = ("er_self_30k", "dedup_ops_sf01")
RESULT_TAG = "GRAFTBENCH_RESULT "
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JVM_OPTIONS = os.path.join(HERE, "jvm.options")


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_fingerprint():
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        st = os.stat(f)
        h.update(f"{os.path.relpath(f, ROOT)}|{st.st_size}|{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def classpath():
    """Build if any source changed since the cached build; return the classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        cached = json.load(open(stamp))
        if cached.get("fingerprint") == fp:
            return cached["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, cwd=HERE, stdout=subprocess.PIPE, stderr=log,
                               stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(4, f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(r.stdout)
    if r.returncode != 0:
        fail(4, f"build failed (sbt exit {r.returncode}); log: {log_path}")
    lines = [l.strip() for l in r.stdout.splitlines() if l.strip()]
    cp = next((l for l in reversed(lines) if ".jar" in l and not l.startswith("[")), None)
    if cp is None:
        fail(4, f"build printed no classpath; log: {log_path}")
    # the work dir holds state of one build (recorded outputs, oracle answers)
    shutil.rmtree(os.path.join(WORK, "run"), ignore_errors=True)
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp}, f)
    return cp


def heap():
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        gb = max(2, min(6, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration):
        gb = 4
    return f"{gb}g"


def check_names(metrics, section):
    """A run must report exactly the metrics BENCHMARK.json declares."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        return
    spec = {m["name"]: m["unit"] for m in json.load(open(spec_path))[section]}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != spec:
        fail(5, f"metrics differ from BENCHMARK.json {section}: "
                f"missing {sorted(set(spec) - set(got))}, extra {sorted(set(got) - set(spec))}, "
                f"unit changes {sorted(k for k in spec.keys() & got.keys() if spec[k] != got[k])}")


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=int, default=1)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    p.add_argument("--cores", type=int, default=None)
    a = p.parse_args()

    nproc = len(os.sched_getaffinity(0))
    cores = nproc if a.cores is None else a.cores
    if not 1 <= cores <= nproc:
        fail(2, f"--cores {cores} asked for, but this machine gives this process {nproc}")
    if not os.path.isfile(PROGRAM_MARKER):
        fail(2, f"program sources not found under {PROGRAM_SRC}; run from a graft checkout")

    cp = classpath()
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    with open(JVM_OPTIONS) as f:
        flags = [l.strip() for l in f if l.strip() and not l.lstrip().startswith("#")]
    cmd = [
        java, *flags, f"-Xmx{heap()}",
        f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "-cp", cp, "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores),
        "--work", os.path.join(WORK, "run"), "--checkout", ROOT,
    ]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(4, f"{a.workload} did not finish within {RUN_TIMEOUT_S} s")
    result = None
    for line in out.splitlines():
        if line.startswith(RESULT_TAG):
            result = line[len(RESULT_TAG):]
        else:
            print(line, file=sys.stderr)
    if result is None:
        fail(3, f"the JVM exited {proc.returncode} without a result")
    check_names(json.loads(result)["metrics"], "per_layer" if a.trace else "end_to_end")
    print(result)
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
