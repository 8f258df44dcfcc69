"""The benchmark's own test: Spark counters read from the status store must
repeat exactly.  Runs two traced onehop_serial runs with the same seed and
fails unless ``spark.jobs_per_op`` and ``spark.tasks_per_op`` agree.

    python3 perfbench/check_counters.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

COUNTERS = ("spark.jobs_per_op", "spark.tasks_per_op")
SEED = 1
SECONDS = 10


def traced_run(seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(os.path.dirname(__file__), "run.py"),
         "--workload", "onehop_serial", "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        check=True, capture_output=True, text=True,
    ).stdout
    result = json.loads(out.strip().splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"traced run reported wrong answers: {result}")
    return {k: result["metrics"][k]["value"] for k in COUNTERS}


def main() -> None:
    first = traced_run(SEED, SECONDS)
    second = traced_run(SEED, SECONDS)
    print(json.dumps({"first": first, "second": second}))
    if first != second:
        raise SystemExit("Spark counters differ between two traced runs")


if __name__ == "__main__":
    main()
