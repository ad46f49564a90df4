"""Incremental runs must be bit-identical to a full rebuild.

run_incremental re-stages only delta conversations and re-scores only
pairs touching changed records; everything it skips must provably not
matter. Pinned here by comparing every output table of (full pipeline on
base) + (incremental delta) against (full pipeline on upserted corpus).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from payor_mdm_spark.plans.pipeline import STAGES, run_incremental, run_pipeline
from payor_mdm_spark.sources.catalog import CheckpointStore


@pytest.fixture(scope="module")
def worlds(spark, tmp_path_factory):
    from payor_mdm_spark.datagen.transcripts import generate_world, write_world

    d = str(tmp_path_factory.mktemp("inc_world"))
    turns_path, _ = write_world(generate_world(seed=42, n_entities=80), d)
    all_turns = spark.read.parquet(turns_path).cache()
    convs = [r.conv_id for r in all_turns.select("conv_id").distinct()
             .orderBy("conv_id").collect()]
    new_convs = set(convs[-12:])          # 12 conversations arrive later
    changed_conv = convs[0]               # 1 existing conversation is edited

    base = all_turns.filter(~F.col("conv_id").isin(*new_convs))
    edited = all_turns.filter(F.col("conv_id") == changed_conv).withColumn(
        "text",
        F.when(F.col("turn_idx") == 1, F.concat(F.col("text"), F.lit(" EDITED")))
        .otherwise(F.col("text")),
    )
    delta = all_turns.filter(F.col("conv_id").isin(*new_convs)).unionByName(edited)
    # the corpus a full rebuild should see after the upsert
    upserted = base.filter(F.col("conv_id") != changed_conv).unionByName(delta)
    return {"base": base.cache(), "delta": delta.cache(), "upserted": upserted.cache()}


def _snapshot(df, keys):
    cols = sorted(df.columns)
    return sorted(
        tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()
    )


def test_incremental_matches_full_rebuild(spark, worlds, tmp_path):
    inc_store = CheckpointStore(spark, str(tmp_path / "inc"))
    run_pipeline(spark, worlds["base"], inc_store, collect_metrics=False)
    # simulate a fresh session between runs (the CLI reality): no cached
    # blocks may mask lineage that still points at replaced checkpoint files
    spark.catalog.clearCache()
    inc = run_incremental(spark, worlds["delta"], inc_store, collect_metrics=False)

    full_store = CheckpointStore(spark, str(tmp_path / "full"))
    full = run_pipeline(spark, worlds["upserted"], full_store, collect_metrics=False)

    for stage in STAGES:
        got = _snapshot(inc.tables[stage], None)
        want = _snapshot(full.tables[stage], None)
        assert got == want, f"stage {stage} diverges between incremental and full"


def test_incremental_rescore_is_bounded(spark, worlds, tmp_path):
    """The Python-kernel stage must only touch pairs involving changed
    records or newly proposed pairs — measured by intersecting the final
    scored table with the base run's scored table."""
    store = CheckpointStore(spark, str(tmp_path / "b"))
    base_res = run_pipeline(spark, worlds["base"], store, collect_metrics=False)
    base_pairs = base_res.tables["scored_pairs"].select(
        "source_record_id_a", "source_record_id_b"
    ).count()
    inc = run_incremental(spark, worlds["delta"], store, collect_metrics=False)
    changed_ids = [
        r.source_record_id
        for r in inc.tables["staged"]
        .join(
            worlds["delta"].select(F.col("conv_id").alias("source_id")).distinct(),
            "source_id", "semi",
        )
        .select("source_record_id").collect()
    ]
    touching_changed = inc.tables["scored_pairs"].filter(
        F.col("source_record_id_a").isin(changed_ids)
        | F.col("source_record_id_b").isin(changed_ids)
    ).count()
    total = inc.tables["scored_pairs"].count()
    # the delta neighborhood is a small fraction of all pairs — the reused
    # majority (everything not touching a changed record) dominates
    assert touching_changed < total
    assert total >= base_pairs * 0.5  # sanity: reuse actually carried over


def test_incremental_upgrades_pre_geo_gate_store(spark, worlds, tmp_path):
    """A store committed BEFORE the geo_contradiction column existed must
    still satisfy the continue-from-committed-state contract: the reused
    pairs get the column backfilled by recompute (exact — their staged
    attributes are unchanged), and every stage still matches a full
    rebuild (ADVICE r03, medium)."""
    store = CheckpointStore(spark, str(tmp_path / "pre_geo"))
    run_pipeline(spark, worlds["base"], store, collect_metrics=False)
    # simulate the pre-upgrade on-disk layout: committed scored_pairs
    # without the geo column (checkpoint first — the write swaps files)
    legacy = store.read("scored_pairs").drop("geo_contradiction") \
        .localCheckpoint(eager=True)
    store.write("scored_pairs", legacy)
    spark.catalog.clearCache()

    inc = run_incremental(spark, worlds["delta"], store, collect_metrics=False)

    full_store = CheckpointStore(spark, str(tmp_path / "pre_geo_full"))
    full = run_pipeline(spark, worlds["upserted"], full_store,
                        collect_metrics=False)
    for stage in STAGES:
        got = _snapshot(inc.tables[stage], None)
        want = _snapshot(full.tables[stage], None)
        assert got == want, f"stage {stage} diverges after store upgrade"


def test_incremental_requires_prior_run(spark, worlds, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="incremental run needs"):
        run_incremental(spark, worlds["delta"], store)


def test_streaming_bridge_matches_full_rebuild(spark, worlds, tmp_path):
    """Two micro-batches through the streaming bridge (one conversation
    split ACROSS batches) must land on the same golden table as a batch
    rebuild over all turns."""
    import os

    from payor_mdm_spark.streaming.er_bridge import incremental_er_stream
    from payor_mdm_spark.streaming.ingest import read_turn_stream

    base, delta = worlds["base"], worlds["delta"]
    # batch 1: base minus the second half of one conversation's turns;
    # batch 2: the rest of that conversation + the delta conversations
    split_conv = base.select("conv_id").distinct().orderBy("conv_id").first().conv_id
    b1 = base.filter(
        (F.col("conv_id") != split_conv)
        | (F.col("turn_idx") < 2)
    )
    b2 = base.filter(
        (F.col("conv_id") == split_conv) & (F.col("turn_idx") >= 2)
    ).unionByName(delta.filter(F.col("conv_id") != split_conv))

    src = str(tmp_path / "stream_src")
    os.makedirs(src, exist_ok=True)
    store = CheckpointStore(spark, str(tmp_path / "bridge_ckpt"))
    stream_ckpt = str(tmp_path / "stream_ckpt")

    def run_once():
        q = incremental_er_stream(
            spark, read_turn_stream(spark, src), store, stream_ckpt,
            collect_metrics=False,
        ).start()
        q.awaitTermination(300)

    b1.write.mode("append").parquet(src)
    run_once()
    assert store.exists("golden")
    b2.write.mode("append").parquet(src)
    run_once()

    # ground truth: full rebuild on everything the stream saw
    full_store = CheckpointStore(spark, str(tmp_path / "bridge_full"))
    seen = b1.unionByName(b2)
    full = run_pipeline(spark, seen, full_store, collect_metrics=False)

    got = _snapshot(store.read("golden"), None)
    want = _snapshot(full.tables["golden"], None)
    assert got == want


def test_incremental_metrics_report_reuse(spark, worlds, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "m"))
    run_pipeline(spark, worlds["base"], store, collect_metrics=False)
    inc = run_incremental(spark, worlds["delta"], store, collect_metrics=True)
    by_stage = {m["stage"]: m for m in inc.metrics}
    assert "incremental_rescored_pairs" in by_stage
    assert "incremental_reused_pairs" in by_stage
    rescored = by_stage["incremental_rescored_pairs"]["rows"]
    reused = by_stage["incremental_reused_pairs"]["rows"]
    total = inc.tables["scored_pairs"].count()
    assert rescored + reused == total
    assert reused > 0 and rescored > 0
    # the stages the delta rebuilt are reported as built, not resumed
    for stage in ("staged", "blocking_pairs", "scored_pairs"):
        assert by_stage[stage]["skipped"] is False, stage
    # persisted run_metrics carries the same rows: one write holds every
    # stage plus the two incremental rows
    persisted = {r.stage: r.rows for r in store.read("run_metrics").collect()}
    assert set(persisted) == set(STAGES) | {
        "incremental_rescored_pairs", "incremental_reused_pairs",
    }
    assert persisted["incremental_rescored_pairs"] == rescored
    # partition lineage comes from the same commit stats as the stage rows
    parts = {
        r.stage: r.rows for r in store.read("partition_metrics")
        .groupBy("stage").agg(F.sum("rows").alias("rows")).collect()
    }
    assert parts == {stg: persisted[stg] for stg in STAGES}


def test_bridge_batch_replay_is_idempotent(spark, worlds, tmp_path):
    """foreachBatch is at-least-once: processing the SAME micro-batch twice
    (crash-before-commit replay) must leave every table identical."""
    from payor_mdm_spark.streaming.er_bridge import process_turn_batch

    store = CheckpointStore(spark, str(tmp_path / "replay"))
    b1 = worlds["base"]
    b2 = worlds["delta"]
    process_turn_batch(spark, store, b1, collect_metrics=False)
    process_turn_batch(spark, store, b2, collect_metrics=False)
    golden_once = _snapshot(store.read("golden"), None)
    scored_once = _snapshot(store.read("scored_pairs"), None)
    # replay the second batch (duplicate landing rows + re-run)
    process_turn_batch(spark, store, b2, collect_metrics=False)
    assert _snapshot(store.read("golden"), None) == golden_once
    assert _snapshot(store.read("scored_pairs"), None) == scored_once


def test_incremental_with_nothing_to_rescore(spark, worlds, tmp_path):
    """A delta that rescores no pair (here an empty one) still finishes:
    the observed rescore count reads 0 and every pair is reused."""
    store = CheckpointStore(spark, str(tmp_path / "zero"))
    base = run_pipeline(spark, worlds["base"], store, collect_metrics=False)
    base_scored = _snapshot(base.tables["scored_pairs"], None)
    inc = run_incremental(spark, worlds["delta"].limit(0), store,
                          collect_metrics=True)
    by_stage = {m["stage"]: m["rows"] for m in inc.metrics}
    assert by_stage["incremental_rescored_pairs"] == 0
    assert by_stage["incremental_reused_pairs"] == by_stage["scored_pairs"] > 0
    assert _snapshot(inc.tables["scored_pairs"], None) == base_scored
