#!/usr/bin/env python3
"""The repo benchmark: one closed-loop workload per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and the
benchmark's own code from source with sbt (`perfbench/build.sbt`) into
`perfbench/target`; later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed under `.bench_build/`, the
workload runs in one JVM on `local[k]` (k = min(4, available cores)) with
one client thread, outputs are checked after the timed region, and the
last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json,
with `--trace 1` the per-layer ones. `--size tiny` and `--plant-wrong`
serve the self-test (`perfbench/selftest.py`).
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("taxi_etl", "sql_lakehouse", "incremental_view", "corpus_curation")
# the workloads BENCHMARK.json lists; the class-data-sharing archive is
# recorded from tiny passes of these (the others run by hand load the rest
# of their classes from the jars)
MEASURED = ("taxi_etl", "incremental_view")
DEADLINE_S = 170
HEAP = "3g"
JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(build_dir, cores):
    """Compiles the program and the benchmark, then records a class-data-sharing
    archive from a tiny pass of every measured workload; returns the runtime
    classpath."""
    stamp_file = os.path.join(build_dir, "stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        cp = open(cp_file).read()
        if all(os.path.exists(p) for p in cp.split(os.pathsep) if p.startswith(HERE)):
            return cp
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(build_dir, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out,
                           stdin=subprocess.DEVNULL, text=True, timeout=800)
    lines = [l for l in p.stdout.splitlines() if "target" in l and ".jar" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-3000:])
        fail(f"build failed (see {log})")
    cp = lines[-1].strip()
    warm = os.path.join(build_dir, "warm")
    shutil.rmtree(warm, ignore_errors=True)
    for w in MEASURED:
        os.makedirs(os.path.join(warm, w, "in"))
        gen.generate(w, os.path.join(warm, w, "in"), 1, "tiny")
    archive = os.path.join(build_dir, "classes.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    run_java(cp, [f"-XX:ArchiveClassesAtExit={archive}"], "perfbench.Warm", [warm, str(cores), *MEASURED],
             warm, 600)
    shutil.rmtree(warm, ignore_errors=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def run_java(cp, flags, main, args, work, budget_s):
    cmd = (["java"] + flags + [f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.callstack.depth=80", "-XX:+UseParallelGC"] + JVM_OPENS
           + ["-cp", cp, main] + args)
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.out", "w") as out, open(f"{work}/jvm.err", "w") as err:
        p = subprocess.Popen(cmd, stdout=out, stderr=err, stdin=subprocess.DEVNULL,
                             start_new_session=True)
        try:
            p.wait(timeout=max(10, budget_s))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload did not finish within {budget_s:.0f} s")
    if p.returncode != 0:
        sys.stderr.write(open(f"{work}/jvm.err").read()[-4000:])
        fail(f"JVM exited with {p.returncode}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--plant-wrong", action="store_true")
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no program sources (src/main/scala/graft) in this checkout")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        fail("java and sbt are required")

    base = os.path.join(ROOT, ".bench_build", "perfbench")
    cores = min(4, len(os.sched_getaffinity(0)))
    cp = build(os.path.join(base, "build"), cores)
    t_run = time.monotonic()
    work = os.path.join(base, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "in")
    os.makedirs(inputs)
    gen.generate(a.workload, inputs, a.seed, a.size)
    t_jvm = time.monotonic()
    # the build, when there is one, has its own allowance
    budget = DEADLINE_S - (time.monotonic() - t_run) - 8
    archive = os.path.join(base, "build", "classes.jsa")
    run_java(cp, [f"-XX:SharedArchiveFile={archive}", "-Xshare:auto"], "perfbench.Main",
             [a.workload, inputs, work, str(a.seed), str(a.seconds), str(a.trace),
              a.size, "1" if a.plant_wrong else "0", str(cores)], work, budget)
    t_check = time.monotonic()
    result = json.load(open(os.path.join(work, "result.json")))
    problems = list(result["notes"]) + checks.check(a.workload, result, work, inputs)
    failed = result["failed"] + (len(problems) - len(result["notes"]))
    for p in problems:
        print(f"check: {p}", file=sys.stderr)
    print(f"perfbench {a.workload} seed={a.seed} samples={json.dumps(result['samples'])} "
          f"series_ms={json.dumps(result['series_ms'])} "
          f"phases_s={json.dumps(dict(result['phases'], generate=round(t_jvm - t_run, 2), jvm=round(t_check - t_jvm, 2), check=round(time.monotonic() - t_check, 2)))}")
    if a.trace:
        # keep the trace (spans and jobs) of the last traced run per workload
        kept = os.path.join(base, "traces", a.workload)
        shutil.rmtree(kept, ignore_errors=True)
        os.makedirs(kept)
        for f in ("spans.jsonl", "jobs.jsonl", "jvm.err"):
            if os.path.exists(os.path.join(work, f)):
                shutil.copy(os.path.join(work, f), kept)
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": result["attempted"],
                      "failed": failed, "metrics": result["metrics"]}))


if __name__ == "__main__":
    main()
