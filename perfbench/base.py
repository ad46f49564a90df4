"""Commit the `er_delta` base run in a process, and so a JVM, of its own.

    python3 -m perfbench.base <base_turns.parquet> <store_dir> <work_dir>

`perfbench/run.py` starts this once per source digest and reuses the
committed store. A separate process keeps the measured session cold
whether or not its run built the base; the engine caches JVM-side objects
per process, so a second session in the measuring process is not an option.
"""

from __future__ import annotations

import argparse
import sys

from perfbench.run import Bench


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("turns")
    ap.add_argument("store")
    ap.add_argument("work")
    args = ap.parse_args(argv)

    from payor_mdm_spark.plans.pipeline import run_pipeline
    from payor_mdm_spark.sources.catalog import CheckpointStore

    bench = Bench(argparse.Namespace(workload="er_base", seed=0, seconds=0, trace=0), args.work)
    spark = bench.start_spark()
    try:
        run_pipeline(spark, spark.read.parquet(args.turns), CheckpointStore(spark, args.store))
    finally:
        bench.stop_spark()
    return 0


if __name__ == "__main__":
    sys.exit(main())
