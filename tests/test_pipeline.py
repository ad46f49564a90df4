"""End-to-end pipeline: cluster quality, dbt-contract assertions, resume.

Contract tests re-express the reference's dbt schema/data tests
(models/*/schema.yml; tests/assert_no_orphan_source_records.sql) as
assertions over the output DataFrames (SURVEY §5)."""

import pytest
from pyspark.sql import functions as F


def _pairwise_f1(truth_rows, xref_rows):
    ent = {r["conv_id"]: r["entity_id"] for r in truth_rows}
    cluster = {r["source_id"]: r["master_entity_id"] for r in xref_rows}
    ids = sorted(set(ent) & set(cluster))
    tp = fp = fn = 0
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            actual = ent[a] == ent[b]
            pred = cluster[a] == cluster[b]
            tp += actual and pred
            fp += (not actual) and pred
            fn += actual and (not pred)
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return 2 * p * r / (p + r) if p + r else 0.0


def test_pairwise_f1_above_target(spark, world, pipeline_run):
    truth = spark.read.parquet(world["truth_path"]).collect()
    xref = pipeline_run["res"].tables["xref"].select("source_id", "master_entity_id").collect()
    f1 = _pairwise_f1([r.asDict() for r in truth], [r.asDict() for r in xref])
    assert f1 >= 0.99, f"pairwise F1 {f1:.4f} below 0.99 target"


def test_candidate_contract(pipeline_run):
    cand = pipeline_run["res"].tables["match_candidates"]
    # unique candidate ids (match/schema.yml uniqueness)
    assert cand.groupBy("candidate_id").count().filter("count > 1").count() == 0
    # decision enums (match/schema.yml accepted_values)
    bad_auto = cand.filter(
        ~F.col("auto_decision").isin("auto_match", "review", "auto_no_match")
    ).count()
    bad_final = cand.filter(~F.col("final_decision").isin("match", "no_match")).count()
    assert bad_auto == 0 and bad_final == 0
    # canonical pair ordering
    assert cand.filter(
        F.col("source_record_id_a") >= F.col("source_record_id_b")
    ).count() == 0
    # DET rules imply overall_score 1.0, and auto_match UNLESS the
    # identifier-collision second factor fired (geo contradiction AND name
    # below config.DET_NAME_FLOOR -> review; config rationale)
    from payor_mdm_spark.config import DET_NAME_FLOOR

    det = cand.filter(F.col("match_rule") != "FUZZY")
    assert det.filter(F.col("overall_score") != 1.0).count() == 0
    collision = (
        F.coalesce(F.col("geo_contradiction"), F.lit(False))
        & (F.col("score_name") < DET_NAME_FLOOR)
    )
    assert det.filter(~collision & (F.col("auto_decision") != "auto_match")).count() == 0
    assert det.filter(collision & (F.col("auto_decision") != "review")).count() == 0


def test_match_groups_contract(pipeline_run):
    groups = pipeline_run["res"].tables["match_groups"]
    # one group assignment per record (unique source_record_id)
    assert groups.groupBy("source_record_id").count().filter("count > 1").count() == 0
    # exactly one survivor per group
    surv = groups.groupBy("match_group_id").agg(
        F.sum(F.col("is_survivor").cast("int")).alias("n")
    )
    assert surv.filter("n != 1").count() == 0


def test_no_orphan_source_records(pipeline_run):
    # anti-join must be empty (tests/assert_no_orphan_source_records.sql)
    staged = pipeline_run["res"].tables["staged"]
    xref = pipeline_run["res"].tables["xref"]
    orphans = staged.join(xref, "source_record_id", "left_anti")
    assert orphans.count() == 0


def test_xref_referential_integrity(pipeline_run):
    xref = pipeline_run["res"].tables["xref"]
    golden = pipeline_run["res"].tables["golden"]
    dangling = xref.join(
        golden.select(F.col("master_entity_id")), "master_entity_id", "left_anti"
    )
    assert dangling.count() == 0
    assert xref.groupBy("source_record_id").count().filter("count > 1").count() == 0


def test_golden_contract(pipeline_run):
    golden = pipeline_run["res"].tables["golden"]
    assert golden.groupBy("master_entity_id").count().filter("count > 1").count() == 0
    bad = golden.filter(
        (F.col("completeness_score") < 0) | (F.col("completeness_score") > 1)
    ).count()
    assert bad == 0
    assert golden.filter(F.col("name_raw").isNull()).count() == 0


def test_hierarchy_contract(pipeline_run):
    h = pipeline_run["res"].tables["hierarchy"]
    golden = pipeline_run["res"].tables["golden"]
    assert h.filter(F.col("parent_master_id") == F.col("child_master_id")).count() == 0
    for side in ("parent_master_id", "child_master_id"):
        dangling = h.join(
            golden.select(F.col("master_entity_id").alias(side)), side, "left_anti"
        )
        assert dangling.count() == 0
    # curated BCBS family must yield at least one inferred edge
    assert h.count() > 0


def test_resume_skips_completed_stages(spark, world, tmp_path):
    from payor_mdm_spark.plans.pipeline import run_pipeline
    from payor_mdm_spark.sources.catalog import CheckpointStore

    turns = spark.read.parquet(world["turns_path"])
    store = CheckpointStore(spark, str(tmp_path / "ckpt"))
    first = run_pipeline(spark, turns, store)
    g1 = {r.master_entity_id for r in first.tables["golden"].collect()}
    # simulate a crash after scoring: drop everything downstream
    for stg in ("match_candidates", "match_groups", "survived", "golden", "xref", "hierarchy"):
        store.drop(stg)
    second = run_pipeline(spark, turns, store, resume=True)
    by_stage = {m["stage"]: m for m in second.metrics}
    assert by_stage["staged"]["skipped"]
    assert by_stage["blocking_pairs"]["skipped"]
    assert by_stage["scored_pairs"]["skipped"]
    assert not by_stage["match_groups"]["skipped"]
    # resumed run reproduces identical golden output
    g2 = {r.master_entity_id for r in second.tables["golden"].collect()}
    assert g1 == g2


def test_steward_override_flips_decision(spark, world, tmp_path):
    from payor_mdm_spark.operators.candidates import build_candidates

    scored = spark.createDataFrame(
        [("a", "b", "FUZZY", 0.9), ("c", "d", "FUZZY", 0.9)],
        "source_record_id_a string, source_record_id_b string, "
        "match_rule string, overall_score double",
    )
    no_overlay = build_candidates(scored)
    assert {r.final_decision for r in no_overlay.collect()} == {"match"}
    cid = no_overlay.filter("source_record_id_a = 'a'").collect()[0].candidate_id
    steward = spark.createDataFrame(
        [(cid, "confirmed_no_match", "alice", None, "dup vendor")],
        "candidate_id string, steward_decision string, steward_user string, "
        "steward_timestamp timestamp, steward_notes string",
    )
    with_overlay = build_candidates(scored, steward_decisions=steward)
    rows = {r.source_record_id_a: r.final_decision for r in with_overlay.collect()}
    assert rows["a"] == "no_match" and rows["c"] == "match"


def test_data_contracts_pass_and_catch_corruption(spark, pipeline_run, tmp_path):
    """dbt-test analog (plans/contracts.validate_store): all green on a
    healthy run; a corrupted table fails its check."""
    from payor_mdm_spark.plans.contracts import validate_store
    from payor_mdm_spark.sources.catalog import CheckpointStore

    store = pipeline_run["store"]
    checks = validate_store(store)
    assert checks and all(c.passed for c in checks), [
        (c.table, c.check, c.failing_rows) for c in checks if not c.passed
    ]

    # corrupt a copy: duplicate a golden row -> uniqueness check fails
    bad = CheckpointStore(spark, str(tmp_path / "bad"))
    for name in ("staged", "golden", "xref"):
        bad.write(name, store.read(name))
    g = store.read("golden")
    bad.write("golden", g.unionByName(g.limit(1)))
    bad_checks = {(c.table, c.check): c for c in validate_store(bad)}
    assert not bad_checks[("golden", "master_entity_id unique")].passed


def test_borderline_geo_gate(spark):
    """Precision-tail second factor: a FUZZY score in the borderline band
    [0.85, 0.93) with a geographic contradiction demotes to review; the
    same score without one (or any score >= the ceiling, or missing
    geography) still auto-matches."""
    from payor_mdm_spark.operators.candidates import build_candidates

    base = {
        "source_record_id_a": "a", "source_record_id_b": "b",
        "match_rule": "FUZZY", "score_name": 0.86,
    }
    rows = [
        {**base, "overall_score": 0.86, "geo_contradiction": True},
        {**base, "overall_score": 0.86, "geo_contradiction": False},
        {**base, "overall_score": 0.86, "geo_contradiction": None},  # unknown geo
        {**base, "overall_score": 0.95, "geo_contradiction": True},  # above ceiling
        # DET second factor (config.DET_NAME_FLOOR): identifier collision =
        # geo contradiction AND weak name -> review; either factor absent
        # -> the reference's unconditional DET auto-match
        {**base, "match_rule": "DET-1", "overall_score": 1.0,
         "geo_contradiction": True, "score_name": 0.62},   # collision -> review
        {**base, "match_rule": "DET-2", "overall_score": 1.0,
         "geo_contradiction": True, "score_name": 0.95},   # strong name -> auto
        {**base, "match_rule": "DET-1", "overall_score": 1.0,
         "geo_contradiction": False, "score_name": 0.62},  # geo agrees -> auto
        {**base, "match_rule": "DET-1", "overall_score": 1.0,
         "geo_contradiction": True, "score_name": None},   # name unknown -> auto
    ]
    df = spark.createDataFrame(
        [(r["source_record_id_a"], r["source_record_id_b"], r["match_rule"],
          r["overall_score"], r["geo_contradiction"], r["score_name"])
         for r in rows],
        "source_record_id_a string, source_record_id_b string, "
        "match_rule string, overall_score double, geo_contradiction boolean, "
        "score_name double",
    )
    got = [r.auto_decision for r in build_candidates(df).collect()]
    assert got == ["review", "auto_match", "auto_match", "auto_match",
                   "review", "auto_match", "auto_match", "auto_match"]

    # without the column both gates are off (legacy scored frames)
    legacy = df.drop("geo_contradiction")
    got2 = [r.auto_decision for r in build_candidates(legacy).collect()]
    assert got2 == ["auto_match"] * 8


def test_legacy_mode_reference_parity(spark, pipeline_run):
    """VERDICT r04 item 6: with both second-factor gates off,
    auto_decision_col must reproduce the reference's plain-threshold CASE
    (match_candidates.sql:33-39) bit-for-bit on the golden seed-42 world's
    scored pairs — and the config kill-switches (ADVICE r04) must route
    build_candidates onto exactly that path even when the frame carries
    the gate columns."""
    from payor_mdm_spark import config
    from payor_mdm_spark.operators.candidates import (
        auto_decision_col,
        build_candidates,
    )

    scored = pipeline_run["res"].tables["scored_pairs"]
    # literal transcription of match_candidates.sql:33-39
    reference_case = (
        F.when(
            F.col("match_rule").isin("DET-1", "DET-2", "DET-3"), "auto_match"
        )
        .when(F.col("overall_score") >= 0.85, "auto_match")
        .when(F.col("overall_score") >= 0.60, "review")
        .otherwise("auto_no_match")
    )
    legacy = scored.withColumn(
        "legacy", auto_decision_col(geo_gated=False, det_gated=False)
    ).withColumn("ref", reference_case)
    assert legacy.filter(F.col("legacy") != F.col("ref")).count() == 0
    # the world must actually exercise every branch for parity to mean much
    seen = {r.ref for r in legacy.select("ref").distinct().collect()}
    assert seen == {"auto_match", "review", "auto_no_match"}

    old = config.ENABLE_GEO_GATE, config.ENABLE_DET_GATE
    try:
        config.ENABLE_GEO_GATE = config.ENABLE_DET_GATE = False
        off = build_candidates(scored).withColumn("ref", reference_case)
        assert off.filter(F.col("auto_decision") != F.col("ref")).count() == 0
    finally:
        config.ENABLE_GEO_GATE, config.ENABLE_DET_GATE = old


def test_geo_contradiction_includes_zip(spark):
    """The geographic contradiction covers state, city, AND zip5 (r4: the
    n=100k FP residue was same-city name twins with differing zips), is
    null-safe (missing geography is not a contradiction), and
    add_geo_contradiction OVERWRITES any committed value — so a semantic
    upgrade of the rule reaches pairs committed under the old rule."""
    from payor_mdm_spark.operators.scoring import add_geo_contradiction

    staged = spark.createDataFrame(
        [("r1", "MA", "BOSTON", "02101"),
         ("r2", "MA", "BOSTON", "02199"),   # same state+city, different zip
         ("r3", "MA", "BOSTON", None),      # zip unknown
         ("r4", "MA", "BOSTON", "02101")],
        "source_record_id string, state_code string, city string, "
        "zip_code string",
    )
    scored = spark.createDataFrame(
        # committed under the OLD (state|city) rule: all False
        [("r1", "r2", False), ("r1", "r3", False), ("r1", "r4", False)],
        "source_record_id_a string, source_record_id_b string, "
        "geo_contradiction boolean",
    )
    got = {
        (r.source_record_id_a, r.source_record_id_b): r.geo_contradiction
        for r in add_geo_contradiction(scored, staged).collect()
    }
    assert got == {
        ("r1", "r2"): True,    # zip contradiction (old value overwritten)
        ("r1", "r3"): False,   # one side unknown -> no contradiction
        ("r1", "r4"): False,   # full agreement
    }
