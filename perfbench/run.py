#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics,
``--trace 1`` the per-layer metrics of a traced run (see README.md). The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
line before it holds details (config, sample counts, percentiles, problems).
The exit code is 0 only when every answer was correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def engine_present() -> bool:
    return (os.path.isdir(os.path.join(ROOT, "search_engine_spark"))
            and os.path.isfile(os.path.join(ROOT, "tests", "oracle.py")))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["query", "fold"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if not engine_present():
        print(f"perfbench: no engine sources under {ROOT} "
              "(search_engine_spark/, tests/oracle.py)", file=sys.stderr)
        return 2
    sys.path.insert(1, ROOT)
    import harness
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # Python workers import the engine from the checkout; every temp file
    # stays inside the work directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    try:
        result, detail = harness.run(args.workload, args.seed, args.seconds,
                             bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    bad = [k for k, m in result["metrics"].items()
           if not math.isfinite(m["value"])]
    for k in bad:
        del result["metrics"][k]
    result["correct"] = result["correct"] and not bad
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
