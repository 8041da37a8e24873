#!/usr/bin/env python3
"""Checks that the batch_mix correctness gate catches a wrong result.

    python3 graftbench/selftest.py

Copies the pinned references with one query's digest corrupted, runs
batch_mix against the copy, and fails unless the run reports that query
as failed (fail ratio above 0) while every other query still passes.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    with open(os.path.join(HERE, "refs", "batch_mix.json")) as fh:
        refs = json.load(fh)
    victim = sorted(refs)[0]
    refs[victim]["digest"] = str(int(refs[victim]["digest"]) + 1)
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    bad = os.path.join(HERE, ".out", "corrupt_refs.json")
    with open(bad, "w") as fh:
        json.dump(refs, fh, indent=1)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0", "--refs", bad],
        stdout=subprocess.PIPE, text=True, check=True)
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    ratio = result["failed"] / result["attempted"]
    print(f"corrupted {victim}: correct={result['correct']} failed={result['failed']} "
          f"attempted={result['attempted']} fail_ratio={ratio:.3f}")
    if result["correct"] or result["failed"] != 1:
        sys.exit(f"selftest FAILED: expected exactly {victim} to fail")
    print("selftest passed")


if __name__ == "__main__":
    main()
