#!/usr/bin/env python3
"""Self-test of the benchmark, run from the root of a checkout:

    python3 perfbench/selftest.py

For every workload run.py knows (BENCHMARK.json lists the measured ones),
a tiny-size run must print every end-to-end metric
(untraced) and every per-layer metric (traced) of BENCHMARK.json with its
unit, and report correct outputs; a tiny run with a planted wrong output
must report `correct: false` with at least one failed operation. Exits 0
when all hold.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload, trace, plant=False):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    if plant:
        cmd.append("--plant-wrong")
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        return None, f"exit {p.returncode}: {p.stderr[-2000:]}"
    return json.loads(lines[-1]), p.stderr


def main():
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    want = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
            1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    problems = []
    sys.path.insert(0, HERE)
    from run import WORKLOADS
    for w in WORKLOADS:
        for trace in (0, 1):
            res, err = run(w, trace)
            if res is None:
                problems.append(f"{w} trace={trace}: {err}")
                continue
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if set(res) != {"correct", "attempted", "failed", "metrics"}:
                problems.append(f"{w} trace={trace}: keys {sorted(res)}")
            if got != want[trace]:
                problems.append(f"{w} trace={trace}: metrics/units differ: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}")
            if not all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()):
                problems.append(f"{w} trace={trace}: a value is not a number")
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{w} trace={trace}: not correct: {res} {err[-1500:]}")
            print(f"{w} trace={trace}: ok={res['correct']} attempted={res['attempted']}")
        res, err = run(w, 0, plant=True)
        if res is None or res["correct"] or res["failed"] < 1:
            problems.append(f"{w}: a planted wrong output was not reported: {res} {err[-1500:]}")
        else:
            print(f"{w} planted: reported {res['failed']} failed of {res['attempted']}")
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "PASS")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
