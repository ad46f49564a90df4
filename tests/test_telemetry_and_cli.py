"""Telemetry rollups + the spark-submit job entry point."""

from pyspark.sql import functions as F

from payor_mdm_spark.config import MAX_BLOCK_SIZE
from payor_mdm_spark.operators.telemetry import (
    block_size_stats,
    decision_funnel,
    pair_yield_by_pass,
)


def test_block_size_stats(pipeline_run):
    staged = pipeline_run["res"].tables["staged"]
    stats = {r.block_key: r for r in
             block_size_stats(staged, MAX_BLOCK_SIZE).collect()}
    assert set(stats) == {
        "block_exact_key", "block_name_key", "block_zip3_name4", "block_abbr_key",
    }
    for r in stats.values():
        assert r.n_blocks > 0
        assert r.max_block_size >= r.p50_block_size
        assert r.presalt_pairs >= 0


def test_pair_yield_by_pass(pipeline_run):
    pairs = pipeline_run["res"].tables["blocking_pairs"]
    yields = {r.block_pass: r for r in pair_yield_by_pass(pairs).collect()}
    assert "exact_key" in yields
    assert "minhash_lsh" in yields
    total = pairs.count()
    for r in yields.values():
        assert 0 < r.pairs  # every pass contributes
        assert 0 <= r.exclusive_pairs <= r.pairs <= total


def test_decision_funnel(pipeline_run):
    cand = pipeline_run["res"].tables["match_candidates"]
    funnel = decision_funnel(cand).collect()
    assert sum(r.pairs for r in funnel) == cand.count()
    det_rows = [r for r in funnel if r.match_rule.startswith("DET")]
    assert all(r.auto_decision == "auto_match" for r in det_rows)


def test_run_pipeline_cli(tmp_path, spark):
    """jobs/run_pipeline.py end-to-end via its main() (the spark-submit
    surface), generating a small world and writing checkpoints."""
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from jobs.run_pipeline import main

    out = str(tmp_path / "run")
    rc = main(["--generate", "30", "--output", out])
    assert rc == 0
    golden = spark.read.parquet(out + "/golden")
    assert golden.count() > 0
    # resume path: second invocation skips completed stages and succeeds
    rc = main(["--generate", "30", "--output", out, "--resume"])
    assert rc == 0


def test_package_zip(tmp_path):
    from tools.package import build

    path = build(out_dir=str(tmp_path))
    import zipfile

    names = zipfile.ZipFile(path).namelist()
    assert "payor_mdm_spark/__init__.py" in names
    assert any(n.startswith("payor_mdm_spark/operators/") for n in names)
    # the C kernel source must ship: executors compile it at first use
    assert "payor_mdm_spark/native/jwkernels.c" in names


class TestServing:
    def test_dashboard_counts_and_histogram(self, pipeline_run):
        from payor_mdm_spark.operators.serving import (
            dashboard_counts, records_by_source, score_histogram,
        )

        t = pipeline_run["res"].tables
        counts = dashboard_counts(t)
        assert counts["golden_entities"] > 0
        assert counts["staged_records"] == t["staged"].count()
        hist = score_histogram(t["match_candidates"]).collect()
        assert sum(r.cnt for r in hist) == t["match_candidates"].count()
        srcs = {r.source_system for r in records_by_source(t["staged"]).collect()}
        assert srcs == {"crm", "claims", "credentialing", "cms_reference"}

    def test_completeness_and_match_rates(self, pipeline_run):
        from payor_mdm_spark.operators.serving import (
            completeness_by_source, cross_source_match_rates, review_queue,
        )

        t = pipeline_run["res"].tables
        comp = {r.source_system: r for r in
                completeness_by_source(t["staged"]).collect()}
        assert comp["crm"].name_raw_pct == 100.0
        assert 0.0 <= comp["claims"].exact_key_1_pct <= 100.0
        rates = cross_source_match_rates(t["match_candidates"]).collect()
        assert sum(r.pairs for r in rates) == t["match_candidates"].count()
        assert all(r.matches <= r.pairs for r in rates)
        q = review_queue(t["match_candidates"], limit=10).collect()
        scores = [r.overall_score for r in q]
        assert scores == sorted(scores, reverse=True)


def test_metrics_from_commit_stats_no_rescan(spark, world, tmp_path):
    """VERDICT r01 item 3: per-stage lineage must come from the write itself
    (parquet footers / manifest stats), not a second scan. Pinned two ways:
    (a) metrics row counts equal the tables' true counts; (b) the job count
    with metrics on exceeds metrics-off only by the two metrics-table
    writes — NOT by one extra count-job per stage."""
    from payor_mdm_spark.plans.pipeline import STAGES, run_pipeline
    from payor_mdm_spark.sources.catalog import CheckpointStore

    sc = spark.sparkContext
    turns = spark.read.parquet(world["turns_path"])

    sc.setJobGroup("metrics_off", "baseline")
    off = run_pipeline(
        spark, turns, CheckpointStore(spark, str(tmp_path / "off")),
        collect_metrics=False,
    )
    n_off = len(sc.statusTracker().getJobIdsForGroup("metrics_off"))

    sc.setJobGroup("metrics_on", "with lineage")
    store = CheckpointStore(spark, str(tmp_path / "on"))
    on = run_pipeline(spark, turns, store, collect_metrics=True)
    n_on = len(sc.statusTracker().getJobIdsForGroup("metrics_on"))
    sc.setJobGroup("", "")

    # (a) lineage numbers are the truth
    by_stage = {m["stage"]: m for m in on.metrics}
    for stg in STAGES:
        assert by_stage[stg]["rows"] == on.tables[stg].count()
    parts = {
        r.stage: r for r in store.read("partition_metrics")
        .groupBy("stage").agg(F.sum("rows").alias("rows")).collect()
    }
    for stg in STAGES:
        assert parts[stg].rows == by_stage[stg]["rows"]

    # (b) only the 2 metrics-table writes may add jobs (allow +3 headroom);
    # the old re-scan added >= 1 job per stage (9+)
    assert n_on - n_off <= 3, f"metrics collection added {n_on - n_off} jobs"
