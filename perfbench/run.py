#!/usr/bin/env python3
"""Seeded benchmark of the graft engine: index build, BM25 top-k serving and
NRT (near-real-time) updates.

Run from the root of a checkout:

    python3 perfbench/run.py --workload build_serve --seed 1 --seconds 10 --trace 0

Workloads: build_serve, nrt (or `all`, which runs both in turn).
`--trace 1` runs the traced variant that reports per-layer metrics.

The script compiles the engine's sources together with the harness
(perfbench/build.sbt, output in .bench_build/) when they changed since the
last build, runs one JVM with the workload, relays its report and prints
as its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. It exits non-zero when any checked operation failed, naming
each failure, or when the engine sources are missing.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "perfbench", "scala-2.13", "classes")
STAMP = os.path.join(BUILD_DIR, "perfbench.stamp")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
WORKLOADS = ("build_serve", "nrt")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
JVM_HEAP = "3g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of every input of the build: engine sources and the harness."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".properties", ".sbt"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {os.path.relpath(ENGINE_SRC, ROOT)}")
    if not os.environ.get("SPARK_HOME"):
        fail("SPARK_HOME is not set (the Spark jars come from $SPARK_HOME/jars)")
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD_DIR, exist_ok=True)
    log = os.path.join(BUILD_DIR, "sbt.log")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile"]
    with open(log, "w") as fh:
        code = run_group(cmd, cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                         timeout=BUILD_TIMEOUT_S)
    if code != 0:
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {code}); log in {os.path.relpath(log, ROOT)}")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group.
    Waits until the process has ended either way."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def run_one(workload, seed, seconds, trace, extra):
    tag = f"{workload}-seed{seed}-trace{trace}"
    work = os.path.join(WORK_ROOT, f"{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT_DIR, exist_ok=True)
    jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")] +
           [f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", CLASSES + os.pathsep + jars, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", OUT_DIR,
            "--cores", str(cores)] + extra)
    out_path = os.path.join(work, "stdout.txt")
    log_path = os.path.join(OUT_DIR, f"{tag}.log")
    try:
        with open(out_path, "w") as out, open(log_path, "w") as err:
            code = run_group(cmd, timeout=RUN_TIMEOUT_S, stdout=out, stderr=err)
        with open(out_path) as fh:
            lines = fh.read().splitlines()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code == -9:
        print(f"perfbench: {tag} timed out after {RUN_TIMEOUT_S}s; log in "
              f"{os.path.relpath(log_path, ROOT)}", file=sys.stderr)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        for line in lines:
            print(line)
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-30:]))
        print(f"perfbench: {tag} produced no result (exit {code})", file=sys.stderr)
        return None, lines, 1
    return result, lines[:-1], code


def declared_metrics(trace):
    """Metric names BENCHMARK.json declares for this kind of run, if any."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: flip one bit of one expected score, so the "
                         "run must report a failed operation and exit non-zero")
    a = ap.parse_args()
    build()
    extra = ["--corrupt-expected", "1"] if a.corrupt_expected else []
    workloads = WORKLOADS if a.workload == "all" else (a.workload,)
    results, codes = {}, []
    for w in workloads:
        result, report, code = run_one(w, a.seed, a.seconds, a.trace, extra)
        for line in report:
            print(line)
        codes.append(code)
        results[w] = result
    if any(r is None for r in results.values()):
        sys.exit(1)
    if a.workload == "all":
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items()
                        for k, v in r["metrics"].items()},
        }
    else:
        final = results[a.workload]
        declared = declared_metrics(a.trace)
        if final["correct"] and declared is not None and set(final["metrics"]) != declared:
            print("perfbench: metrics differ from BENCHMARK.json: missing "
                  f"{sorted(declared - set(final['metrics']))}, extra "
                  f"{sorted(set(final['metrics']) - declared)}", file=sys.stderr)
            sys.exit(1)
    print(json.dumps(final))
    sys.exit(0 if final["correct"] and final["failed"] == 0 and
             all(c == 0 for c in codes) else 1)


if __name__ == "__main__":
    main()
