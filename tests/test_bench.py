"""bench.py's one-line JSON contract: the driver keeps only the last 2,000
characters of stdout, so that tail must carry the totals, the gate verdict
and the slowest queries."""

from __future__ import annotations

import json

import bench
from ploverdb_spark.catalog import all_queries

TAIL_CHARS = 2000


def test_bench_line_tail_holds_totals_and_slowest_queries():
    names = list(all_queries())
    assert len(names) >= 79
    # a spread of timings in no particular relation to registration order
    timings = {n: round((i * 37 % len(names)) / 10 + 0.05, 4) for i, n in enumerate(names)}
    line = bench.bench_line(
        timings,
        sf=0.1,
        load_start=0.42,
        reps=3,
        reps_file="bench_reps_last.json",
        load_end=0.51,
        gate_passed=True,
        io_bulk_mb_s=143.0,
    )
    assert "\n" not in line
    out = json.loads(line)
    assert set(out) == {
        "metric", "value", "unit", "sf", "host_load_avg_start", "reps",
        "reps_file", "queries", "host_load_avg_end", "gate_passed",
        "io_bulk_mb_s_end", "total_sec",
    }
    assert out["queries"] == timings
    assert out["total_sec"] == out["value"] == round(sum(timings.values()), 4)

    tail = line[-TAIL_CHARS:]
    assert '"total_sec"' in tail and '"gate_passed"' in tail
    slowest = sorted(timings, key=timings.get)[-10:]
    missing = [n for n in slowest if f'"{n}"' not in tail]
    assert not missing, missing
