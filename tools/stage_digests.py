"""Digest and file count of every committed stage table of both DAGs, to
show that a change leaves the engine's output unchanged.

    python3 tools/stage_digests.py OUT.json [--docs DOCUMENTS.parquet ...]
    python3 tools/stage_digests.py --compare PARENT.json CHANGE.json

The first form runs, in one local session of this checkout's engine:
``run_pipeline`` on ``generate_world(42, 100)`` (scored on the driver) and
``generate_world(42, 3000)`` (scored by the pandas UDF), and
``run_docs_pipeline`` on the perfbench docs corpus (seed 1) plus each
``--docs`` parquet (doc_id, source, text). It writes, per run and table, the
order-independent md5 of the committed rows and the number of parquet files.
Run it from each checkout (it imports the engine next to it), then compare;
``--compare`` prints every difference and exits 1 if there is one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ER_WORLDS = ((42, 100), (42, 3000))


def committed(root: str) -> dict[str, dict]:
    from perfbench.measure import table_digest

    out = {}
    for name in sorted(os.listdir(root)):
        if not os.path.exists(os.path.join(root, name, "_SUCCESS")):
            continue
        files = sum(f.endswith(".parquet")
                    for _, _, fs in os.walk(os.path.join(root, name)) for f in fs)
        out[name] = {"digest": table_digest(root, name), "files": files}
    return out


def build(docs_paths: list[str]) -> dict[str, dict]:
    from payor_mdm_spark.datagen.transcripts import generate_world, write_world
    from payor_mdm_spark.plans.docs_pipeline import run_docs_pipeline
    from payor_mdm_spark.plans.pipeline import run_pipeline
    from payor_mdm_spark.session import get_spark
    from payor_mdm_spark.sources.catalog import CheckpointStore
    from perfbench import inputs
    from perfbench.run import COPY_SHARE, DOCS

    cores = os.cpu_count() or 4
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    runs = {}
    with tempfile.TemporaryDirectory(prefix="stage-digests-") as work:
        for seed, n in ER_WORLDS:
            d = os.path.join(work, f"er_{seed}_{n}")
            turns_path, _ = write_world(generate_world(seed, n), d)
            run_pipeline(spark, spark.read.parquet(turns_path),
                         CheckpointStore(spark, os.path.join(d, "store")),
                         collect_metrics=False)
            runs[f"er_{seed}_{n}"] = committed(os.path.join(d, "store"))
        os.makedirs(os.path.join(work, "docs_in"))
        corpora = {"docs_perfbench_1": inputs.docs_inputs(
            1, DOCS, COPY_SHARE, os.path.join(work, "docs_in")).docs_path}
        corpora.update({f"docs_{os.path.basename(p)}": p for p in docs_paths})
        for label, path in corpora.items():
            root = os.path.join(work, label)
            run_docs_pipeline(spark, spark.read.parquet(path),
                              CheckpointStore(spark, root), collect_metrics=False)
            runs[label] = committed(root)
    spark.stop()
    return runs


def compare(a: dict, b: dict) -> list[str]:
    diffs = []
    for run in sorted(set(a) | set(b)):
        ta, tb = a.get(run, {}), b.get(run, {})
        for table in sorted(set(ta) | set(tb)):
            if ta.get(table) != tb.get(table):
                diffs.append(f"{run}/{table}: {ta.get(table)} != {tb.get(table)}")
    return diffs


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?")
    ap.add_argument("--docs", nargs="*", default=[])
    ap.add_argument("--compare", nargs=2, metavar=("PARENT", "CHANGE"))
    args = ap.parse_args()
    if args.compare:
        a, b = (json.load(open(p)) for p in args.compare)
        diffs = compare(a, b)
        print("\n".join(diffs) or
              f"identical: {sum(len(t) for t in a.values())} tables in {len(a)} runs")
        return 1 if diffs else 0
    if not args.out:
        ap.error("give OUT.json or --compare")
    sys.path.insert(0, REPO)
    runs = build(args.docs)
    with open(args.out, "w") as f:
        json.dump(runs, f, indent=1, sort_keys=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
