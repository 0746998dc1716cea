#!/usr/bin/env python3
"""Steadiness self-check: at a fixed seed, the work counts of a traced
run must repeat exactly across two runs.

    python3 perfbench/tests/test_steady.py [workload ...]

With `--seconds 1` every workload runs exactly its minimum number of
whole op cycles, so both runs perform the same ops. Compared: Spark jobs
per op, jobs per commit by verb, files written, and manifest versions and
live files at run end. Each run takes about a minute.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
SEED = 7


def counts(workload, run):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                    "--seed", str(SEED), "--seconds", "1", "--trace", "1"],
                   check=True, stdout=subprocess.DEVNULL)
    result = os.path.join(ROOT, ".bench_build", "runs", f"{workload}-{SEED}-t1", "result.json")
    with open(result) as f:
        res = json.load(f)
    assert res["correct"], f"{workload} run {run} was not correct: {res['errors']}"
    got = dict(res["counts"])
    got.update({k: v["value"] for k, v in res["per_layer"].items()
                if k.startswith("sources.jobs_per_commit.")})
    return got


def main(workloads):
    bad = 0
    for w in workloads:
        a, b = counts(w, 1), counts(w, 2)
        for k in sorted(set(a) | set(b)):
            if a.get(k) != b.get(k):
                bad += 1
                print(f"DIFF {w} {k}: {a.get(k)} != {b.get(k)}")
        print(f"{w}: {len(a)} counts compared")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or ["series_mutate", "analytics_mix"]))
