"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Runs every workload of ``BENCHMARK.json`` on toy inputs in one Spark
session, untraced and traced, and checks that every end-to-end and
every per-layer metric is printed with its unit. Then it corrupts one
destination file after each sync and checks that the run reports the
operations as failed. Exits 0 when all checks pass.
"""

from __future__ import annotations

import json
import os
import sys

import run


def _check_metrics(result: dict, specs: list[dict], label: str) -> list[str]:
    problems = []
    metrics = result["metrics"]
    for spec in specs:
        got = metrics.get(spec["name"])
        if got is None:
            problems.append(f"{label}: {spec['name']} missing")
        elif got.get("unit") != spec["unit"] or not isinstance(
                got.get("value"), (int, float)):
            problems.append(f"{label}: {spec['name']} printed as {got}")
    extra = set(metrics) - {s["name"] for s in specs}
    if extra:
        problems.append(f"{label}: metrics not in BENCHMARK.json: {sorted(extra)}")
    if not result["correct"] or result["failed"]:
        problems.append(f"{label}: operations failed on correct inputs")
    return problems


def _corrupt_one_file(workload) -> None:
    rel = sorted(workload.tree.files)[0]
    with open(os.path.join(workload.dst, rel), "r+b") as f:
        first = f.read(1)
        f.seek(0)
        f.write(bytes([first[0] ^ 0xFF]))


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    run._prepare_env()
    problems: list[str] = []
    try:
        spark = run.start_session()
        for w in bench["workloads"]:
            name = w["name"]
            for trace, specs in ((False, bench["end_to_end"]),
                                 (True, bench["per_layer"])):
                result = run.run_benchmark(name, seed=1, seconds=0.1,
                                           trace=trace, toy=True, spark=spark)
                problems += _check_metrics(result, specs,
                                           f"{name} trace={trace}")
        result = run.run_benchmark("copy_sync_update", seed=2, seconds=0.1,
                                   trace=False, toy=True, spark=spark,
                                   corrupt=_corrupt_one_file)
        if result["correct"] or result["failed"] < 1:
            problems.append(
                "copy_sync_update: corrupted destination not reported")
    finally:
        run.stop_processes()
    for p in problems:
        print(f"selftest: {p}", file=sys.stderr)
    print(f"selftest: {'FAIL' if problems else 'ok'}")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
