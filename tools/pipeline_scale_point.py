"""End-to-end pipeline scaling at a data-dominated world size.

VERDICT r04 item 3: the prior end-to-end 2->8-core efficiency (0.198) was
measured on an 8k-entity world where ~35s of fixed per-stage cost (driver
orchestration, checkpoint commits, Python-worker startup) dominates a
40-80s job — it measured the fixed cost, not the design. This tool runs
the FULL ER pipeline (rollup -> staging -> blocking -> scoring ->
candidates -> clustering -> survivorship -> golden/xref/hierarchy) on a
sharded executor-side world large enough that data-parallel work is >= 5x
the fixed cost, at local[8] vs local[32], interleaved, and reports
end-to-end throughput + N->4N efficiency.

World + checkpoints + spark.local.dir all on tmpfs (the sandbox disk
throttles to ~4-46 MB/s under fsync; see bench_scaling.py docstring).

Usage: python tools/pipeline_scale_point.py [n_entities=100000] [reps=2]
Writes BENCH/pipeline_scale_point.json.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

# `python -c` puts its working directory first on sys.path, so a snippet
# run with cwd=REPO imports this checkout's engine
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GEN_SNIPPET = r"""
import json, os, sys
from payor_mdm_spark.session import get_spark
from payor_mdm_spark.datagen.transcripts import distributed_world

n_entities = int(sys.argv[1]); out = sys.argv[2]
spark = get_spark(app_name="genworld", master="local[32]",
                  shuffle_partitions=32,
                  extra_confs={"spark.local.dir": "/dev/shm/bench_spark_local"})
spark.sparkContext.setLogLevel("ERROR")
# n_families ~= n_entities / 2.3 (avg family size), same ratio bench.py uses
turns_df, truth_df = distributed_world(spark, 42, max(1, int(n_entities / 2.3)))
turns_df.write.mode("overwrite").parquet(os.path.join(out, "turns"))
n = spark.read.parquet(os.path.join(out, "turns")).count()
print(json.dumps({"turns": n}))
spark.stop()
"""

PIPE_SNIPPET = r"""
import json, os, sys, tempfile, time
from payor_mdm_spark.plans.pipeline import run_pipeline
from payor_mdm_spark.session import get_spark
from payor_mdm_spark.sources.catalog import CheckpointStore

cpus = int(sys.argv[1]); turns_path = sys.argv[2]
spark = get_spark(app_name=f"pipe{cpus}", master=f"local[{cpus}]",
                  shuffle_partitions=max(cpus, 16),
                  extra_confs={"spark.local.dir": "/dev/shm/bench_spark_local"})
spark.sparkContext.setLogLevel("ERROR")
turns = spark.read.parquet(turns_path); turns.count()
d = tempfile.mkdtemp(prefix=f"scalept{cpus}_", dir="/dev/shm")
store = CheckpointStore(spark, os.path.join(d, "ckpt"))
t0 = time.time()
res = run_pipeline(spark, turns, store, collect_metrics=True)
total = time.time() - t0
pairs = next(m["rows"] for m in res.metrics if m["stage"] == "scored_pairs")
print(json.dumps({"cpus": cpus, "seconds": round(total, 2), "pairs": pairs,
                  "pairs_per_sec": round(pairs / total, 1),
                  "stages": {m["stage"]: m["seconds"] for m in res.metrics}}))
import shutil
shutil.rmtree(d, ignore_errors=True)
spark.stop()
"""


def run_snippet(snippet: str, args: list[str], retries: int = 1) -> dict:
    """One attempt + ``retries``: the sandbox occasionally kills a Python
    Arrow worker mid-run (observed: SocketException connection reset after
    ~20 min of host stall), which is host flakiness, not plan behavior —
    a crashed sample is retried, never silently skipped."""
    for attempt in range(retries + 1):
        try:
            out = subprocess.run(
                [sys.executable, "-c", snippet, *args],
                capture_output=True, text=True, timeout=7200, cwd=REPO,
            )
        except subprocess.TimeoutExpired:
            # a hung sample is a failed attempt like a nonzero returncode —
            # without this the exception bypassed the retry loop entirely
            # (ADVICE r05)
            print(f"attempt {attempt + 1} timed out after 7200s", file=sys.stderr)
            continue
        if out.returncode == 0:
            line = [
                ln for ln in out.stdout.splitlines() if ln.startswith("{")
            ][-1]
            return json.loads(line)
        print(out.stderr[-3000:], file=sys.stderr)
        print(f"attempt {attempt + 1} failed", file=sys.stderr)
    raise RuntimeError("run failed after retries")


def main() -> None:
    n_entities = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    configs = (
        [int(c) for c in sys.argv[3].split(",")]
        if len(sys.argv) > 3
        else [2, 8, 32]
    )

    import tempfile

    d = tempfile.mkdtemp(prefix="scale_point_", dir="/dev/shm")
    gen = run_snippet(GEN_SNIPPET, [str(n_entities), d])
    turns_path = os.path.join(d, "turns")
    print(f"world ready: {gen['turns']} turns", file=sys.stderr)

    runs: dict[int, list[dict]] = {c: [] for c in configs}
    # palindromic sweep (e.g. 2,8,32,32,8,2): cancels linear host drift
    order = (configs + configs[::-1]) * reps
    taken = {c: 0 for c in configs}
    for cpus in order:
        if taken[cpus] >= reps:
            continue
        taken[cpus] += 1
        r = run_snippet(PIPE_SNIPPET, [str(cpus), turns_path])
        r["ts"] = round(time.time(), 1)
        runs[cpus].append(r)
        print(f"local[{cpus}]: {r['seconds']}s "
              f"({r['pairs_per_sec']} pairs/s)", file=sys.stderr)

    import shutil

    shutil.rmtree(d, ignore_errors=True)

    best = {c: min(runs[c], key=lambda r: r["seconds"]) for c in configs}
    out = {
        "n_entities": n_entities,
        "turns": gen["turns"],
        "pairs": best[configs[0]]["pairs"],
        "reps": reps,
        "configs": {
            str(c): {
                "sec_best": best[c]["seconds"],
                "samples": [r["seconds"] for r in runs[c]],
                "pairs_per_sec": best[c]["pairs_per_sec"],
                "stages": best[c]["stages"],
            }
            for c in configs
        },
    }
    for lo, hi in zip(configs, configs[1:]):
        if hi == 4 * lo:
            eff = (best[lo]["seconds"] / best[hi]["seconds"]) / 4.0
            out[f"end_to_end_efficiency_{lo}_to_{hi}"] = round(eff, 3)
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "pipeline_scale_point.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
