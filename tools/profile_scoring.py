"""Decompose the scored_pairs stage cost (guide §1.4 noop isolation).

Builds the same 30k-entity world the bench uses, materializes staged +
blocking_pairs exactly as run_pipeline does, then times, with the noop
sink so no slice pays for parquet encoding unless stated:

  1. rehydration joins only (pairs x staged slim projections);
  2. rehydration + native prep + ensemble (full score_pairs frame);
  3. the committed write (parquet to tmpfs) of the scored frame.

Each rep builds its frame inside the timed region: score_pairs takes
the pair keys eagerly, and for at most operators/scoring.LOCAL_SCORE_PAIRS
pairs runs the kernel on the driver there and then. The first rep of a
slice is the cold one (the first Python worker in the JVM boots in the
UDF path's first rep).

The JSON line also records the Spark core count (``cpus``: SPARK_GRAFT_CPUS,
else the cores this process may run on), the blocking pair count, the
median µs per pair of the score_pairs_noop slice, and ``driver_path``:
whether score_pairs scored on the driver (an Arrow local relation) or in
the pandas UDF.

Usage: python tools/profile_scoring.py [--entities 30000] [--reps 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--entities", type=int, default=30000)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    from payor_mdm_spark.datagen.transcripts import generate_world, write_world
    from payor_mdm_spark.operators.blocking import candidate_pairs
    from payor_mdm_spark.operators.rollup import rollup_conversations
    from payor_mdm_spark.operators.scoring import rehydrate_pairs, score_pairs
    from payor_mdm_spark.operators.staging import stage_records
    from payor_mdm_spark.session import get_spark

    # SPARK_GRAFT_CPUS overrides; by default use the cores this process may
    # run on, so the session never oversubscribes the host
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    shm = "/dev/shm" if os.path.isdir("/dev/shm") else None
    d = tempfile.mkdtemp(prefix="prof_scoring_", dir=shm)
    extra = {"spark.local.dir": os.path.join(d, "slocal")}
    spark = get_spark(
        app_name="profile-scoring", master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 16), extra_confs=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    t0 = time.time()
    world = generate_world(seed=42, n_entities=args.entities)
    turns_path, _ = write_world(world, d)
    gen_s = round(time.time() - t0, 2)

    turns = spark.read.parquet(turns_path)
    t0 = time.time()
    staged_full = stage_records(spark, rollup_conversations(turns))
    staged_full.write.mode("overwrite").parquet(os.path.join(d, "staged"))
    staged = spark.read.parquet(os.path.join(d, "staged")).drop("turns").cache()
    staged.count()
    staged_s = round(time.time() - t0, 2)

    t0 = time.time()
    pairs = candidate_pairs(staged)
    pairs.write.mode("overwrite").parquet(os.path.join(d, "pairs"))
    pairs = spark.read.parquet(os.path.join(d, "pairs"))
    blocking_s = round(time.time() - t0, 2)
    n_pairs = pairs.count()

    out = {"entities": args.entities, "cpus": cpus, "pairs": n_pairs,
           "gen_s": gen_s, "staged_s": staged_s, "blocking_s": blocking_s,
           "slices": {}}

    def timeit(name, build, write=False):
        samples = []
        for _ in range(args.reps):
            spark.sparkContext.setJobDescription(name)
            t0 = time.time()
            df = build()
            if write:
                df.write.mode("overwrite").parquet(os.path.join(d, "out_" + name))
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 2))
        out["slices"][name] = samples
        print(name, samples, file=sys.stderr, flush=True)
        return df

    timeit("rehydrate_noop", lambda: rehydrate_pairs(pairs, staged))
    scored = timeit("score_pairs_noop", lambda: score_pairs(pairs, staged))
    out["driver_path"] = (
        "LocalRelation" in scored._jdf.queryExecution().optimizedPlan().toString()
    )
    out["score_pairs_noop_us_per_pair"] = round(
        statistics.median(out["slices"]["score_pairs_noop"]) / max(n_pairs, 1) * 1e6, 2
    )
    timeit("score_pairs_write", lambda: score_pairs(pairs, staged), write=True)
    print(json.dumps(out), flush=True)
    shutil.rmtree(d, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
