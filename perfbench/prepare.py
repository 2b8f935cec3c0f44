"""Generate one workload's inputs and their expected results.

Run as its own process by ``run.py`` so that the oracle work (stdlib
JSON parsing, DuckDB) never shows in the measured process's memory:

    python3 perfbench/prepare.py --workload dbt_project --seed 1 --out DIR

Writes the generated inputs under DIR plus ``DIR/prepared.json`` with
the input sizes, the expected result of every operation and the time
each step took.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import workloads  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    t0 = time.perf_counter()
    sizes = workloads.generate(a.workload, a.seed, a.out)
    t1 = time.perf_counter()
    exp = workloads.expected(a.workload, a.out)
    t2 = time.perf_counter()
    with open(os.path.join(a.out, "prepared.json"), "w") as f:
        json.dump({"sizes": sizes, "expected": exp, "gen_s": t1 - t0, "expected_s": t2 - t1}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
