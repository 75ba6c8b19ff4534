"""Toy-size self-test of the benchmark: every workload, timed and traced.

    python3 perfbench/selftest.py

Runs every workload on toy inputs in one Spark session, then asserts that
every output check passed and that every metric the benchmark promises is
emitted, with its unit. Exits 0 on success; takes about a minute on a
4-vCPU VM, most of it JVM start and cold first operations.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import run  # noqa: E402

NAMED = {
    "ingest": {"ingest_rows_per_s": "rows/s", "stored_bytes_per_sketch": "B"},
    "rollup": {"rollup_sketches_per_s": "sketches/s"},
    "point_query": {"point_query_p50_ms": "ms", "point_query_p90_ms": "ms",
                    "point_query_samples": "count"},
}
SHARED = {"setup_s": "s", "failed_ratio": "ratio"}


def check_record(rec: dict, trace: bool) -> list[str]:
    """Every problem found in one workload's record."""
    name = rec["workload"]
    problems = []
    if not rec["correct"] or rec["failed"]:
        problems.append(f"{name}: {rec['failed']} of {rec['attempted']} operations failed")
    wanted = {**SHARED, **NAMED[name]}
    if not trace:
        wanted["peak_rss_mb"] = "MB"
    for metric, unit in wanted.items():
        got = rec["named"].get(metric)
        if got is None or got[1] != unit:
            problems.append(f"{name}: {metric} missing or not in {unit}: {got}")
    line = run.result_line([rec], trace)
    units = run.PER_LAYER_UNITS if trace else run.END_TO_END_UNITS
    for metric, unit in units.items():
        got = line["metrics"].get(metric)
        if got is None or got["unit"] != unit or not isinstance(got["value"], (int, float)):
            problems.append(f"{name}: result metric {metric} missing or not in {unit}")
    for key in ("nproc", "python", "pyspark", "java"):
        if key not in rec["machine"]:
            problems.append(f"{name}: machine state lacks {key}")
    for key in ("load_before", "load_after", "canary_ms", "steal_share"):
        if key not in rec:
            problems.append(f"{name}: record lacks {key}")
    return problems


def main() -> int:
    from probes import machine_state

    if run.check_checkout(list(NAMED)):
        print("selftest: run from a full checkout", file=sys.stderr)
        return 2
    run.prepare_environment()
    bench = run.Bench("toy")
    problems = []
    t0 = time.perf_counter()
    try:
        for trace in (False, True):
            for name in NAMED:
                rec = bench.run(name, seed=7, seconds=0.5, trace=trace)
                rec["machine"] = machine_state(bench.spark)
                problems += check_record(rec, trace)
    finally:
        bench.close()
    elapsed = time.perf_counter() - t0
    print(json.dumps({"selftest_s": round(elapsed, 1), "problems": problems}))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
