"""Tiny-size smoke test of the benchmark itself.

    python3 perfbench/smoke_test.py

Runs every workload with a 1 s timed loop in one Spark session, untraced
and traced, and checks that each metric BENCHMARK.json names is emitted with
its unit and that every check passes; then corrupts the engine's timed
results and checks that the correctness gate fails the run. Takes a few
minutes on four cores.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import run as runner  # noqa: E402
import workloads  # noqa: E402


def expected_units() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    units = lambda key: {m["name"]: m["unit"] for m in spec[key]}  # noqa: E731
    return units("end_to_end"), units("per_layer")


def emitted_units(line: dict) -> dict:
    return {name: m["unit"] for name, m in line["metrics"].items()}


def main() -> int:
    end_to_end, per_layer = expected_units()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="smoke-", dir=os.path.join(HERE, ".work"))
    spark = runner.start_spark(work)
    try:
        for i, workload in enumerate(workloads.WORKLOADS):
            for trace, want in ((False, end_to_end), (True, per_layer)):
                run_dir = os.path.join(work, f"{workload}-{int(trace)}")
                os.makedirs(run_dir)
                run = workloads.run_workload(spark, workload, 100 + i, 1.0, trace, run_dir)
                line = workloads.result_line(run)
                json.dumps(line)
                assert emitted_units(line) == want, (workload, trace, emitted_units(line))
                assert line["correct"] and line["failed"] == 0, (workload, trace, line)
                assert line["attempted"] >= 1, line
                print(f"ok: {workload} trace={int(trace)} emits all "
                      f"{len(want)} metrics, {line['attempted']} operations passed")

        # corrupted engine results must fail the run
        orig = workloads.Run.search

        def corrupted(self, h, shape, q):
            rows, wall = orig(self, h, shape, q)
            rows = [r.asDict() for r in rows]
            if rows:
                rows[0]["score"] *= 1.01
            return rows, wall

        workloads.Run.search = corrupted
        try:
            run_dir = os.path.join(work, "corrupted")
            os.makedirs(run_dir)
            run = workloads.run_workload(
                spark, workloads.WORKLOADS[0], 200, 1.0, False, run_dir,
            )
        finally:
            workloads.Run.search = orig
        line = workloads.result_line(run)
        assert not line["correct"] and line["failed"] >= 1, line
        print(f"ok: a corrupted result fails the gate ({line['failed']} failed)")
    finally:
        runner.stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
