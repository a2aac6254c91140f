#!/usr/bin/env python3
"""Pin the output digests of star_mix, whose tables are fixed.

    python3 perfbench/pin.py

Runs star_mix's warm-up pass with its outputs dumped, compares every
output with the op's DuckDB oracle (minutes for some ops), and, when all
match, writes the outputs' digests into perfbench/expected.json. run.py
then checks each run's outputs against these digests. Re-pin only when
an engine change is meant to alter outputs, and review the diff.
"""
import argparse
import json
import os
import shutil
import sys

import run


def main():
    root = os.getcwd()
    jar = run.build(root, run.source_digest(root))
    args = argparse.Namespace(workload="star_mix", seed=0, seconds=0, trace=0)
    work = os.path.join(run.HERE, ".work", f"pin-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res, data, _, _ = run.execute(args, jar, work, dump=True)
        verdict = run.checks.check_oracles(
            data, os.path.join(work, "out"), res["check"], res["oracle"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for op, why in sorted(verdict.items()):
        print(f"{op}: {why or 'matches DuckDB'}")
    if any(verdict.values()):
        sys.exit(1)
    with open(os.path.join(run.HERE, "expected.json"), "w") as fh:
        json.dump({"star_mix": {op: e["digest"] for op, e in sorted(res["check"].items())}},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
