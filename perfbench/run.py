"""Benchmark entry point.

    python3 perfbench/run.py --workload <hourly_etl|registry_mix>
        --seed <n> --seconds <s> --trace <0|1> [--small] [--plant-fault]

Run from the root of a checkout. The run generates its inputs from the
seed, builds a SparkSession on local[nproc] through the package's
`build_session` (driver heap from SPARK_GRAFT_DRIVER_MEM, default 3g),
sets up, measures for about `--seconds` seconds, checks every timed
result against DuckDB, and prints as its last stdout line one JSON object
{"correct", "attempted", "failed", "metrics"}.

--trace 0 reports the end-to-end metrics:
    setup_s      the cold start (JVM launch and session build through
                 build_session) plus the first, cold, untimed operation
    op_s         median latency of one timed operation: an ETL hour, or a
                 pass over the registry rows
--trace 1 enables the Spark event log, wraps the package's public functions
and reports the per-layer metrics listed in BENCHMARK.json.

--small shrinks every input (used by the benchmark's tests);
--plant-fault corrupts one checked result, to show the check catches it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("hourly_etl", "registry_mix")


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--small", action="store_true")
    p.add_argument("--plant-fault", action="store_true")
    return p.parse_args(argv)


def _module(workload: str):
    from perfbench import etl, mix

    return {"hourly_etl": etl, "registry_mix": mix}[workload]


def run(args) -> dict:
    from perfbench import driver

    run_dir = harness.RunDir(f"{args.workload}-{args.seed}-{args.trace}").enter()
    spark = None
    try:
        mod = _module(args.workload)
        # inputs and oracle preparation: not part of set-up time
        state = mod.setup(run_dir, args.seed, args.small)
        t0 = harness.clock()
        spark = harness.build(run_dir, bool(args.trace))  # launches the JVM
        result = driver.measure(args, state, spark, harness.clock() - t0)
        harness.stop(spark)
        spark = None
        if args.trace:
            result = driver.layer_report(args, result, run_dir.eventlog)
        else:
            driver.record_untraced(args, result)
        return result
    finally:
        if spark is not None:
            harness.stop(spark)
        run_dir.remove()


def main(argv=None) -> int:
    args = parse(argv if argv is not None else sys.argv[1:])
    os.environ["TZ"] = "UTC"
    import time

    time.tzset()
    try:
        import pyspark  # noqa: F401

        import s3_to_redshift_with_airflow_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
