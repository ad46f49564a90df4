"""End-to-end MDM pipeline driver.

The Spark analog of ``dbt run`` over the reference DAG (SURVEY §3.1):
staging(rollup) -> blocking -> scoring -> candidates -> match_groups ->
{survivorship, xref} -> golden -> hierarchy, each stage ending in a
checkpointed table write (resumable; north_rule). Stages run through
plans/stages.StageRunner, which writes the per-stage metrics tables (row
counts, durations, per-partition lineage) once, after the last stage — the
per-partition lineage/metrics requirement at scale.

No wall-clock leaks into data: ``run_ts`` is stamped once per run and passed
to every stage that needs a timestamp (vs the reference's per-row
current_timestamp(), match_candidates.sql:47).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from payor_mdm_spark.operators.blocking import candidate_pairs
from payor_mdm_spark.operators.candidates import build_candidates
from payor_mdm_spark.operators.clustering import build_match_groups
from payor_mdm_spark.operators.golden import build_xref, golden_records
from payor_mdm_spark.operators.hierarchy import (
    apply_hierarchy_overrides,
    infer_hierarchy,
)
from payor_mdm_spark.operators.rollup import rollup_conversations
from payor_mdm_spark.operators.scoring import add_geo_contradiction, score_pairs
from payor_mdm_spark.operators.staging import stage_records
from payor_mdm_spark.operators.survivorship import survive_groups
from payor_mdm_spark.plans.stages import RunResult, StageRunner
from payor_mdm_spark.sources.catalog import CheckpointStore

STAGES = (
    "staged", "blocking_pairs", "scored_pairs", "match_candidates",
    "match_groups", "survived", "golden", "xref", "hierarchy",
)


def run_pipeline(
    spark: SparkSession,
    turns: DataFrame,
    store: CheckpointStore,
    run_ts: str = "2026-01-01 00:00:00",
    resume: bool = False,
    steward_decisions: DataFrame | None = None,
    hierarchy_overrides: DataFrame | None = None,
    survivorship_rules: dict[str, str] | None = None,
    max_block_size: int | None = None,
    collect_metrics: bool = True,
) -> RunResult:
    """Run (or resume) the full DAG; every stage is checkpointed via
    ``store`` and downstream stages read the committed checkpoint, so a
    killed run restarts from the last completed stage."""
    runner = StageRunner(spark, store, run_ts, resume, collect_metrics,
                         "run_metrics", "partition_metrics")
    _run_stages(
        runner, lambda: stage_records(spark, rollup_conversations(turns)),
        score_pairs, steward_decisions, hierarchy_overrides,
        survivorship_rules, max_block_size,
    )
    return runner.finish()


def _run_stages(
    runner: StageRunner,
    build_staged: Callable[[], DataFrame],
    build_scored: Callable[..., DataFrame],
    steward_decisions: DataFrame | None,
    hierarchy_overrides: DataFrame | None,
    survivorship_rules: dict[str, str] | None,
    max_block_size: int | None,
) -> None:
    """The ER DAG's stages, in commit order. ``build_staged()`` builds the
    staged table; ``build_scored(pairs, staged, abbrevs=...)`` builds the
    scored pairs from the committed blocking pairs and staged records."""
    from payor_mdm_spark.config import MAX_BLOCK_SIZE

    store, run_ts = runner.store, runner.run_ts
    max_block = max_block_size or MAX_BLOCK_SIZE
    staged = runner.run("staged", build_staged)
    # staged is scanned by every blocking pass and both sides of the scoring
    # rehydration join — cache the committed snapshot WITHOUT the
    # packed-turns payload: no downstream stage reads `turns` (it lives in
    # the committed staged table for the record contract), and columnar-
    # caching the full conversation text roughly doubled the blocking
    # stage's cost at the 30k-entity bench point (guide §2.3: keys and
    # metadata travel, payloads don't; §5: caching competes with execution
    # memory).
    staged = staged.drop("turns").cache()
    runner.result.tables["staged"] = staged
    pairs = runner.run(
        "blocking_pairs",
        lambda: candidate_pairs(staged, max_block_size=max_block),
    )
    # dict-as-data: the seeded ABBREVIATION_DICT table (incl. steward MERGE
    # upserts) drives the ensemble router, mirroring survivorship_config;
    # config.ABBREVS is the fallback when the table was never seeded
    from payor_mdm_spark.sources.steward import load_abbreviation_dict

    abbrevs = load_abbreviation_dict(store)
    scored = runner.run(
        "scored_pairs", lambda: build_scored(pairs, staged, abbrevs=abbrevs)
    )
    candidates = runner.run(
        "match_candidates",
        lambda: build_candidates(scored, steward_decisions=steward_decisions, run_ts=run_ts),
    )
    groups = runner.run(
        "match_groups", lambda: build_match_groups(candidates, staged)
    )
    # rules-as-data: an explicit dict wins; otherwise the seeded
    # SURVIVORSHIP_CONFIG table (sources/steward.seed_survivorship_config)
    # drives the aggregation; the config constants are the last fallback
    rules = survivorship_rules
    if rules is None and store.exists("survivorship_config"):
        rules = {
            r["field_name"]: r["rule"]
            for r in store.read("survivorship_config").collect()
        }
    survived = runner.run(
        "survived", lambda: survive_groups(groups, staged, rules=rules)
    )
    golden = runner.run("golden", lambda: golden_records(survived, run_ts=run_ts))
    xref = runner.run("xref", lambda: build_xref(groups, staged))
    runner.run(
        "hierarchy",
        lambda: apply_hierarchy_overrides(
            infer_hierarchy(staged, xref, golden), hierarchy_overrides
        ),
    )


def audit_log(
    old: DataFrame | None, new: DataFrame, key: str, run_ts: str
) -> DataFrame:
    """Append-only change log between two golden snapshots
    (MDM_CHANGE_LOG analog, 06_create_audit_tables.sql:18-29)."""
    if old is None:
        return new.select(
            F.col(key).alias("entity_key"),
            F.lit("insert").alias("change_type"),
            F.lit(run_ts).cast("timestamp").alias("changed_at"),
        )
    o = old.select(F.col(key)).withColumn("_o", F.lit(1))
    n = new.select(F.col(key)).withColumn("_n", F.lit(1))
    joined = o.join(n, key, "full_outer")
    return joined.select(
        F.col(key).alias("entity_key"),
        F.when(F.col("_o").isNull(), "insert")
        .when(F.col("_n").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.lit(run_ts).cast("timestamp").alias("changed_at"),
    )


def run_incremental(
    spark: SparkSession,
    delta_turns: DataFrame,
    store: CheckpointStore,
    run_ts: str = "2026-01-01 00:00:00",
    steward_decisions: DataFrame | None = None,
    hierarchy_overrides: DataFrame | None = None,
    survivorship_rules: dict[str, str] | None = None,
    max_block_size: int | None = None,
    collect_metrics: bool = True,
) -> RunResult:
    """Process a conversation-granularity delta against an existing run.

    Contract: ``delta_turns`` carries the FULL turn set of every new or
    changed conversation (CDC upsert at conv_id granularity). The pipeline
    then does the minimum scale-relevant work:

    * re-rollup + re-stage ONLY the delta conversations (at the 10^12-turn
      design point staging dominates read I/O — unchanged conversations
      are never re-read);
    * blocking re-runs fully (native column math over the staged table —
      necessary, because a delta record can join or split blocks of
      UNCHANGED records, e.g. sorted-neighborhood adjacency);
    * pairwise scoring — the expensive Python-kernel stage — re-scores
      ONLY pairs that involve a changed record or are newly proposed;
      still-proposed pairs between unchanged records reuse their committed
      scores verbatim (scores are deterministic functions of the two
      records), with matched_block_keys refreshed from the new pair table;
    * the cheap downstream aggregates (candidates, CC, survivorship,
      golden, xref, hierarchy) rebuild through the same stage runner as a
      full run; staged and scored_pairs come from delta-aware builders.

    Output tables are bit-identical to a full rebuild on the upserted
    corpus — pinned by tests/test_incremental.py.
    """
    for required in ("staged", "scored_pairs"):
        if not store.exists(required):
            raise ValueError(
                f"incremental run needs a committed '{required}' stage; "
                "run run_pipeline() first"
            )

    old_staged = store.read("staged")
    # staged carries the conversation id as source_id (operators/staging.py)
    changed_convs = delta_turns.select(F.col("conv_id").alias("source_id")).distinct()
    staged_delta = stage_records(spark, rollup_conversations(delta_turns))
    # records whose content changed (old version of changed convs + new
    # versions): any pair touching one of these must be re-scored.
    # MATERIALIZE before the staged commit — the lineage reads the OLD
    # staged files, which the atomic swap deletes.
    changed_ids = (
        old_staged.join(changed_convs, "source_id", "semi")
        .select("source_record_id")
        .unionByName(staged_delta.select("source_record_id"))
        .distinct()
    ).localCheckpoint(eager=True)

    def build_staged() -> DataFrame:
        return old_staged.join(changed_convs, "source_id", "left_anti").unionByName(
            staged_delta.select(*old_staged.columns)
        )

    rescored_n = 0

    def build_scored(pairs: DataFrame, staged: DataFrame,
                     abbrevs: dict[str, str] | None) -> DataFrame:
        nonlocal rescored_n
        keys = ["source_record_id_a", "source_record_id_b"]
        reusable = (
            store.read("scored_pairs").drop("matched_block_keys")
            .join(pairs, keys)  # inner: drops no-longer-proposed pairs, refreshes keys
            .join(
                changed_ids.withColumnRenamed("source_record_id", keys[0]),
                keys[0], "left_anti",
            )
            .join(
                changed_ids.withColumnRenamed("source_record_id", keys[1]),
                keys[1], "left_anti",
            )
        )
        to_score = pairs.join(reusable.select(*keys), keys, "left_anti")
        if collect_metrics:
            # incremental lineage: how much Python-kernel work the delta
            # cost — counted BEFORE the scored commit (to_score's lineage
            # reads the old committed scored table) and without touching
            # the kernel (the count needs only pair keys)
            rescored_n = to_score.count()
        fresh = score_pairs(to_score, staged, abbrevs=abbrevs)
        # Recompute geo_contradiction for ALL reused pairs (not just
        # pre-upgrade stores missing the column): the recompute is exact for
        # reused pairs — their staged attributes are unchanged by definition
        # — and it makes a semantic upgrade of the contradiction rule (r4
        # added zip5) reach pairs committed under the old rule, preserving
        # the incremental == full-rebuild contract across engine upgrades.
        # Cost: one extra equi-join against a 4-column projection of staged.
        # (Applied after to_score so the anti-join plan stays two-table.)
        reusable = add_geo_contradiction(reusable, staged)
        return reusable.select(*fresh.columns).unionByName(fresh)

    # every stage is rebuilt, from the delta-aware builders above down;
    # drop the downstream tables first so a run killed midway cannot leave
    # a stale mix behind for a later resume
    for stg in (
        "match_candidates", "match_groups", "survived", "golden", "xref",
        "hierarchy",
    ):
        store.drop(stg)
    runner = StageRunner(spark, store, run_ts, False, collect_metrics,
                         "run_metrics", "partition_metrics")
    _run_stages(runner, build_staged, build_scored, steward_decisions,
                hierarchy_overrides, survivorship_rules, max_block_size)
    if collect_metrics:
        total_n = next(m["rows"] for m in runner.result.metrics
                       if m["stage"] == "scored_pairs")
        runner.record("incremental_rescored_pairs", rescored_n, skipped=False)
        runner.record("incremental_reused_pairs", total_n - rescored_n,
                      skipped=True)
    return runner.finish()
