#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the graft library and the harness from source on first use (into
`.bench_build/`), generates the workload's inputs from the seed, runs one
JVM with one Spark session, checks the outputs, and prints one JSON line
as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones. Diagnostics go to standard error.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ("lifecycle", "heavy_sf0.05")
# Task threads: one per core, at most four (the host the reference
# figures come from has four).
THREADS = max(1, min(4, os.cpu_count() or 1))
HEAP = "3g"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r)
            if "target" not in os.path.relpath(d, r).split(os.sep) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt (offline); return the classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("no graft sources next to the benchmark (expected ../build.sbt and ../src/main/scala)")
    os.makedirs(BUILD, exist_ok=True)
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = (f"-Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g "
                       f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} "
                       + env.get("SBT_OPTS", ""))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
            timeout=840)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    with open(log_path, "a") as log:
        log.write(r.stdout)
    if r.returncode != 0 or not lines or lines[-1].startswith("["):
        die(f"build failed (see {log_path})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_jvm(cp, workload, seed, seconds, trace, work, data, out, setup_start_ms, deadline):
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [a for p in JVM_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", workload, str(seed), str(seconds),
              str(trace), work, data, out, str(THREADS), str(setup_start_ms)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = -9
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        die(f"JVM exited with {rc}:\n{tail}")
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    setup_start_ms = int(time.time() * 1000)
    deadline = time.time() + 170
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        data = os.path.join(work, "data")
        gen_data.generate(a.workload, a.seed, data)
        out = os.path.join(work, "result.json")
        rec = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace, work, data, out,
                      setup_start_ms, deadline)
        problems = list(rec["problems"])
        problems += checks.outside_jvm(a.workload, rec.get("extra", {}), data)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    if a.trace:
        # the full per-layer record, including the workload's own layers
        os.makedirs(os.path.join(BUILD, "trace"), exist_ok=True)
        path = os.path.join(BUILD, "trace", f"{a.workload}-{a.seed}.json")
        with open(path, "w") as f:
            json.dump(rec["record"], f, indent=1, sort_keys=True)
        print(f"perfbench: trace record {path}: {json.dumps(rec['record'], sort_keys=True)}",
              file=sys.stderr)
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in rec["metrics"].items()}
    print(json.dumps({"correct": not problems, "attempted": int(rec["attempted"]),
                      "failed": int(rec["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
