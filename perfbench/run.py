#!/usr/bin/env python3
"""Layered benchmark for graft.

Builds graft's main sources together with the benchmark's own Scala
sources (``perfbench/src``) using the Scala compiler that ships in the
Spark distribution's ``jars/`` directory, then runs one workload in a
fresh JVM:

    python3 perfbench/run.py --workload ml_dataset --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --selftest

The last line of standard output is the result JSON. Everything the
run writes stays under ``perfbench/.build`` (compiled jar and its
class-data-sharing archive, reused while the sources are unchanged), ``perfbench/.work`` (Spark scratch and
stores, removed after each run) and ``perfbench/.out`` (traced runs'
span files).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")
CDS = os.path.join(BUILD, "perfbench.jsa")

WORKLOADS = ("ml_dataset", "store_churn", "curate_docs")
CORES = 4            # local[k]; capped at nproc below
DRIVER_HEAP = "2g"
RUN_TIMEOUT_S = 170  # the run itself, after any build

# What spark-submit adds for Spark 4 on JDK 17 when the session is
# created from a plain `java` launch (JavaModuleOptions).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark distribution found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(GRAFT_SRC):
        fail(f"graft sources not found at {os.path.relpath(GRAFT_SRC)}; "
             "run from the root of a graft checkout")
    out = []
    for base in (GRAFT_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile graft + benchmark sources into one jar; skipped when the
    jar was built from byte-identical sources."""
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    jar = os.path.join(BUILD, "perfbench.jar")
    stamp_file = os.path.join(BUILD, "sources.sha256")
    if os.path.exists(jar) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return jar
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
           "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", jar, "@" + args_file]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0 or not os.path.exists(jar):
        fail("build failed")
    # A class-data-sharing archive of what a store_churn set-up and
    # warm-up round load: every later JVM maps Spark's and graft's
    # classes instead of loading them, which halves start-up and the
    # first set-up.
    run_jvm(jar, jars, "perfbench.Main",
            ["--workload", "store_churn", "--seed", "0", "--seconds", "0",
             "--trace", "0"],
            trace=False, jvm_flags=[f"-XX:ArchiveClassesAtExit={CDS}"])
    if not os.path.exists(CDS):
        fail("class-data-sharing archive was not written")
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    print(f"perfbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return jar


def run_jvm(jar, jars, main, main_args, trace, jvm_flags=None):
    cores = max(1, min(CORES, os.cpu_count() or 1))
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(OUT, exist_ok=True)
    props = [f"-Djava.io.tmpdir={tmp}",
             f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
             f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
             "-Dderby.system.home=" + os.path.join(run_dir, "derby")]
    if trace:
        # counts list/open/create/rename/delete on file:// paths
        props.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingFs")
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={CDS}"]
    # -XX:-UsePerfData: no hsperfdata files outside the checkout
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{DRIVER_HEAP}",
            "-XX:+UseParallelGC"] + jvm_flags +
           opens + props + ["-cp", jar + os.pathsep + os.path.join(jars, "*"), main] +
           main_args + ["--work", run_dir, "--out", OUT])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            env=env, cwd=run_dir, start_new_session=True,
                            text=True)
    lines = []
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        lines = out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S}s", 3)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        print("\n".join(lines), file=sys.stderr)
        fail(f"{main} exited with {proc.returncode}", 4)
    return lines


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return f.read().split()[:3]
    except OSError:
        return None


def report(lines, trace, load_before):
    """Print the run's environment and detail lines, then the result:
    every metric BENCHMARK.json declares for this mode, with its unit."""
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as f:
        spec = json.load(f)
    declared = spec["per_layer" if trace else "end_to_end"]
    parsed = [json.loads(l) for l in lines if l.startswith("{")]
    if not parsed or "metrics" not in parsed[-1]:
        fail("the run printed no result")
    raw = parsed[-1]
    env = next((p["env"] for p in parsed if "env" in p), {})
    env.update(loadavg_before=load_before, loadavg_after=loadavg(),
               nproc=os.cpu_count(), trace=trace)
    print(json.dumps({"env": env}))
    for p in parsed:
        if "detail" in p:
            print(json.dumps(p))
    names = [m["name"] for m in declared]
    got = raw["metrics"]
    if set(got) != set(names):
        fail(f"metrics differ from BENCHMARK.json: missing "
             f"{sorted(set(names) - set(got))}, undeclared "
             f"{sorted(set(got) - set(names))}")
    bad = [n for n in names if not isinstance(got[n], (int, float))]
    if bad:
        fail(f"no value for {bad}")
    print(json.dumps({
        "correct": bool(raw["correct"]),
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                    for m in declared}}))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        ap.error("--workload is required")
    jars = spark_jars()
    jar = build(jars)
    if a.selftest:
        print("\n".join(run_jvm(jar, jars, "perfbench.SelfTest", [],
                                trace=False)))
        return
    load_before = loadavg()
    lines = run_jvm(jar, jars, "perfbench.Main",
                    ["--workload", a.workload, "--seed", str(a.seed),
                     "--seconds", str(a.seconds), "--trace", str(a.trace)],
                    trace=a.trace == 1)
    report(lines, a.trace == 1, load_before)


if __name__ == "__main__":
    main()
