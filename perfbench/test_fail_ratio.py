#!/usr/bin/env python3
"""The benchmark's own check of its output check.

For each workload: a normal run must pass (correct, no failed iteration),
and a run whose expected oracle signature is corrupted must fail every
iteration (fail_ratio = 1) and report correct = false.

    python3 perfbench/test_fail_ratio.py [workload ...]

Without arguments it covers every workload gen.py knows, including
raster_tiles, which BENCHMARK.json leaves out of the timed set.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402


def run(workload, *extra):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "2", "--trace", "0", *extra],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, check=True)
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main():
    workloads = sys.argv[1:] or gen.WORKLOADS
    for w in workloads:
        good = run(w)
        assert good["correct"] and good["failed"] == 0, (w, good)
        bad = run(w, "--corrupt-expected")
        assert not bad["correct"], (w, bad)
        assert bad["failed"] == bad["attempted"] >= 1, (w, bad)
        print(f"{w}: ok ({good['attempted']} iterations pass; corrupted oracle "
              f"fails {bad['failed']}/{bad['attempted']}, fail_ratio 1)")


if __name__ == "__main__":
    main()
