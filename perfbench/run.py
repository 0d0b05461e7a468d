#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload build_bulk --seed 1 --seconds 15 --trace 0

Compiles the engine (src/main/scala) and the harness (perfbench/src) with the
Scala compiler that ships in Spark's jars, caching the classes under
.bench_build/perfbench keyed by a hash of the sources. Then runs the workload
in a fresh JVM with its own Spark session and its own work directory (removed
afterwards), writes the full result document to perfbench/results/, prints a
human-readable summary, and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json; with
--trace 1 they are its per-layer metrics.
"""
import argparse
import glob
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
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RESULTS = os.path.join(HERE, "results")
WORKLOADS = ("build_bulk", "query_serve", "nrt_mixed")
HEAP = "3g"  # fixed: a growing heap adds its own warm-up to the first operations

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail("no Spark installation with a Scala compiler found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def scala_sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def compile_once(name, srcs, classpath, jars):
    """Compile `srcs` into a directory keyed by their hash; reuse it if built."""
    out = os.path.join(BUILD, f"{name}-{digest(srcs)}")
    if os.path.exists(os.path.join(out, ".ok")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = (["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", jars, "scala.tools.nsc.Main",
            "-usejavacp", "-nowarn", "-d", out] + (["-cp", classpath] if classpath else []) + srcs)
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(out, ignore_errors=True)
        fail(f"compiling {name} failed:\n" + r.stdout[-4000:])
    open(os.path.join(out, ".ok"), "w").close()
    print(f"perfbench: compiled {name} ({len(srcs)} files) in {time.time() - t0:.1f}s",
          file=sys.stderr)
    return out


def build():
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    engine = scala_sources(engine_src)
    if not engine:
        fail(f"engine sources not found under {os.path.relpath(engine_src, ROOT)}")
    jars = spark_jars()
    engine_cls = compile_once("engine", engine, None, jars)
    harness_cls = compile_once("harness", scala_sources(os.path.join(HERE, "src")), engine_cls, jars)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([harness_cls, engine_cls, resources, jars])


def java_cmd(cp, main_class, args, work):
    """The JVM command for a harness main class, with its temp dir in `work`."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    return (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
            [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
             "-cp", cp, main_class] + args)


def run_jvm(cmd, work, timeout_s):
    """Run `cmd` with its output in `work`/jvm.log; kill it after `timeout_s`."""
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = p.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = None
    with open(log_path, errors="replace") as f:
        tail = f.read()[-6000:]
    return code, tail


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    a = ap.parse_args()

    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    wanted = bench["per_layer" if a.trace else "end_to_end"]

    t0 = time.time()
    cp = build()
    stem = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-tiny" if a.size == "tiny" else "")
    out = os.path.join(RESULTS, stem + ".json")
    if os.path.exists(out):
        os.remove(out)
    work = os.path.join(BUILD, "work", f"{stem}-{os.getpid()}")
    try:
        code, tail = run_jvm(java_cmd(cp, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--size", a.size, "--out", out, "--work", work], work),
            work, timeout_s=120 + 3 * a.seconds)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        sys.stderr.write(tail)
        fail(f"workload {a.workload} did not finish (exit {code})")
    res = json.load(open(out))

    section = res["per_layer"] if a.trace else res["end_to_end"]
    missing = [m["name"] for m in wanted if m["name"] not in section]
    if missing:
        fail(f"workload {a.workload} did not report {missing}")
    for name, m in res["named"].items():
        print(f"{a.workload:12s} {name:28s} {m['value']:>14.6g} {m['unit']:7s} (n={m['n']})")
    for name, m in res["per_layer"].items():
        print(f"{a.workload:12s} {name:36s} {m['value']:>14.6g} {m['unit']}")
    for note in res["notes"]:
        print(f"{a.workload:12s} note: {note}")
    for f in res["failures"]:
        print(f"{a.workload:12s} FAILED: {f}")
    print(f"perfbench: wall {time.time() - t0:.1f}s, workload {a.workload}, seed {a.seed}, "
          f"attempted {res['attempted']}, failed {res['failed']}, results {os.path.relpath(out, ROOT)}")
    metrics = {m["name"]: {"value": section[m["name"]]["value"], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
