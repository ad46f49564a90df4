"""Generate SCHEMAS.md: the engine's table contracts, from a live run."""

from __future__ import annotations

import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    from payor_mdm_spark.datagen.transcripts import generate_world, write_world
    from payor_mdm_spark.plans.pipeline import run_pipeline
    from payor_mdm_spark.session import get_spark
    from payor_mdm_spark.sources.catalog import CheckpointStore
    from payor_mdm_spark.sources.steward import (
        seed_abbreviation_dict, seed_survivorship_config,
    )

    spark = get_spark(app_name="gen-schemas", master="local[8]",
                      shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp(prefix="schemas_")
    turns_path, _ = write_world(generate_world(seed=42, n_entities=40), d)
    turns = spark.read.parquet(turns_path)
    store = CheckpointStore(spark, d + "/ckpt")
    seed_survivorship_config(spark, store)
    seed_abbreviation_dict(spark, store)
    res = run_pipeline(spark, turns, store, collect_metrics=True)

    lines = [
        "# SCHEMAS — table contracts\n",
        "Generated by tools/gen_schemas.py from a live pipeline run; these",
        "are the columns a consumer (steward UI, BI layer, downstream jobs)",
        "can rely on for every checkpointed table.\n",
        "## Input\n",
        "`turns(conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp)` — the BASELINE.json input_hint shape.\n",
    ]
    tables = list(res.tables.items()) + [
        ("run_metrics", store.read("run_metrics")),
        ("partition_metrics", store.read("partition_metrics")),
        ("survivorship_config", store.read("survivorship_config")),
        ("abbreviation_dict", store.read("abbreviation_dict")),
    ]
    for name, df in tables:
        lines.append(f"## {name}\n")
        lines.append("| column | type |")
        lines.append("| --- | --- |")
        for f in df.schema.fields:
            lines.append(f"| {f.name} | {f.dataType.simpleString()} |")
        lines.append("")
    with open(os.path.join(REPO, "SCHEMAS.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote SCHEMAS.md")


if __name__ == "__main__":
    main()
