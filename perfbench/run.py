"""katta_spark benchmark runner.

    python3 perfbench/run.py --workload selective_search --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. Starts one local Spark session with one
task slot per available core, runs the workload (see workloads.py),
checks the engine's results and prints, as its last stdout line, one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones. The
line before it is a JSON object of workload descriptors and host
condition: sustained memcpy rate and load average before and after, and
the share of CPU time the hypervisor withheld during the run.

Everything the run writes goes under ``perfbench/.work/`` and the run's
own scratch directory there is removed at exit. Exits 0 when every check
passed, 1 when a check failed and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_condition(memstream) -> dict:
    return {"memstream_gb_s": memstream(), "load1": round(os.getloadavg()[0], 2)}


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user nice system idle
    iowait irq softirq steal ...), in clock ticks."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor withheld between two samples."""
    d = [b - a for a, b in zip(before, after)]
    return round(d[7] / sum(d), 4) if sum(d) else 0.0


def start_spark(work: str):
    """local[n] with n = usable cores and as many shuffle partitions;
    every temporary file of the driver, the JVM and the Python workers
    goes under ``work``."""
    from katta_spark.session import get_spark

    n = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's Python workers import the engine from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    return get_spark(
        "perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # no hsperfdata file under /tmp: the run writes only in `work`
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import katta_spark  # noqa: F401
        from bench import host_memstream_gb_s
    except ImportError as exc:
        print(f"perfbench: cannot import the engine: {exc}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    host_pre = host_condition(host_memstream_gb_s)
    ticks = cpu_ticks()
    t0 = time.perf_counter()
    spark = start_spark(work)
    try:
        run = workloads.run_workload(
            spark, args.workload, args.seed, args.seconds, bool(args.trace), work,
        )
        result = workloads.result_line(run)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    host_post = host_condition(host_memstream_gb_s)
    host_post["steal_frac_during_run"] = steal_frac(ticks, cpu_ticks())
    if run.tracer is not None:
        spans_path = os.path.join(
            HERE, ".work", f"spans-{args.workload}-{args.seed}.json"
        )
        with open(spans_path, "w") as fh:
            json.dump(run.tracer.spans, fh)
    desc = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": len(os.sched_getaffinity(0)),
        "wall_s": round(time.perf_counter() - t0, 3),
        **run.desc,
        "host_pre": host_pre,
        "host_post": host_post,
    }
    print(json.dumps(desc))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
