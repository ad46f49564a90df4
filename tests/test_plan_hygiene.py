"""Plan-hygiene guardrail: no accidental cartesian products.

Every queries() entry is compiled at sf0.001 and its physical plan is
scanned for CartesianProduct / BroadcastNestedLoopJoin nodes — the two
shapes that silently turn into O(n^2) compare work at the 100 TB point
(the round-1 hierarchy join regression class). Queries that are
EXACT-by-design full scans are explicitly allow-listed with the reason.
"""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.001"

# intentional full-compare baselines — each documented
ALLOWED_NESTED_LOOP = {
    # exact brute-force cosine top-k IS the full scan baseline; the scale
    # paths are ann_lsh_topk / IVF
    "ann_brute_force_topk",
}


def _queries():
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry", "/root/repo/__spark_entry__.py"
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m.queries()


QUERIES = _queries()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_cartesian_or_nested_loop(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    if name in ALLOWED_NESTED_LOOP:
        pytest.skip("exact full-compare baseline by design")
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} plans a nested-loop join"
    )


# ---------------------------------------------------------------------------
# VERDICT r02 item 8: the same guardrail over the PIPELINE stage frames —
# queries() covers the operator surface, but the ER / docs DAG wire their
# own stage compositions, which must stay cartesian-free too.
# ---------------------------------------------------------------------------

def _assert_clean(name, df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    assert "BroadcastNestedLoopJoin" not in plan, (
        f"{name} plans a nested-loop join"
    )


@pytest.fixture(scope="module")
def er_stage_frames(spark, tmp_path_factory):
    from payor_mdm_spark.datagen.transcripts import generate_world, write_world
    from payor_mdm_spark.operators.blocking import candidate_pairs
    from payor_mdm_spark.operators.candidates import build_candidates
    from payor_mdm_spark.operators.clustering import build_match_groups
    from payor_mdm_spark.operators.golden import build_xref, golden_records
    from payor_mdm_spark.operators.hierarchy import infer_hierarchy
    from payor_mdm_spark.operators.rollup import rollup_conversations
    from payor_mdm_spark.operators.scoring import score_pairs
    from payor_mdm_spark.operators.staging import stage_records
    from payor_mdm_spark.operators.survivorship import survive_groups

    out = tmp_path_factory.mktemp("hygiene_world")
    turns_path, _ = write_world(generate_world(seed=7, n_entities=20), str(out))
    turns = spark.read.parquet(turns_path)
    staged = stage_records(spark, rollup_conversations(turns)).cache()
    pairs = candidate_pairs(staged)
    scored = score_pairs(pairs, staged)
    candidates = build_candidates(scored)
    groups = build_match_groups(candidates, staged)
    survived = survive_groups(groups, staged)
    golden = golden_records(survived)
    xref = build_xref(groups, staged)
    return {
        "staged": staged,
        "blocking_pairs": pairs,
        "scored_pairs": scored,
        "match_candidates": candidates,
        "match_groups": groups,
        "survived": survived,
        "golden": golden,
        "xref": xref,
        "hierarchy": infer_hierarchy(staged, xref, golden),
    }


ER_STAGES = [
    "staged", "blocking_pairs", "scored_pairs", "match_candidates",
    "match_groups", "survived", "golden", "xref", "hierarchy",
]


@pytest.mark.parametrize("stage", ER_STAGES)
def test_er_pipeline_stage_plans_clean(er_stage_frames, stage):
    _assert_clean(stage, er_stage_frames[stage])


def test_candidate_pairs_job_budget(spark, er_stage_frames):
    """Every key pass and the MinHash-LSH bands share ONE hot-block count,
    broadcast and salted self-join, so the blocking stage's job count does
    not grow with the number of passes (the per-pass shape, one count,
    broadcast and join per pass, failed this bound)."""
    from payor_mdm_spark.operators.blocking import candidate_pairs

    staged = er_stage_frames["staged"]
    staged.count()  # fill the cache outside the counted region
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    candidate_pairs(staged).collect()
    jobs = set(tracker.getJobIdsForGroup(None)) - before
    assert len(jobs) <= 12, f"candidate_pairs ran {len(jobs)} jobs"


def test_docs_pipeline_stage_plans_clean(spark):
    from pyspark.sql import functions as F

    from payor_mdm_spark.operators.dedup import (
        dedup_clusters, exact_dedup, minhash_dedup_pairs,
    )
    from payor_mdm_spark.operators.text_analysis import (
        analyze_documents, pack_sequences, redact_pii_col,
        repetition_signals, split_assignment_col,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    stats = analyze_documents(docs).join(repetition_signals(docs), "doc_id")
    filtered = stats.filter(
        (F.col("quality_score") >= 0.3) & (F.col("dup_ngram_ratio") <= 0.9)
    ).withColumn("text", redact_pii_col(F.col("text")))
    exact = exact_dedup(filtered)
    pairs = minhash_dedup_pairs(exact, jaccard_threshold=0.8)
    clustered = dedup_clusters(exact.select("doc_id"), pairs)
    keepers = exact.join(
        clustered.filter("is_keeper").select("doc_id"), "doc_id", "semi"
    )
    splits = keepers.withColumn("split", split_assignment_col(F.col("doc_id")))
    packed = pack_sequences(splits.filter(F.col("split") == "train"), 2048)
    for name, df in [
        ("doc_stats", stats), ("doc_filtered", filtered), ("doc_exact", exact),
        ("doc_minhash_pairs", pairs), ("doc_clusters", clustered),
        ("doc_keepers", keepers), ("doc_splits", splits), ("doc_packed", packed),
    ]:
        _assert_clean(name, df)


# ---------------------------------------------------------------------------
# Word n-gram and shingle lambdas must slice a PROJECTED token column. A
# tokenizer expression (split(...), or filter(split(...)) for tokens_col)
# inside the lambda is re-evaluated per n-gram position — O(words^2) per
# document — and shows up in the optimized plan as slice(split( or
# slice(filter(split(.
# ---------------------------------------------------------------------------

def test_ngram_lambdas_slice_projected_tokens(spark):
    import re

    from payor_mdm_spark.operators.dedup import (
        cross_corpus_contamination, ngram_jaccard_pairs,
    )
    from payor_mdm_spark.operators.text_analysis import (
        analyze_documents, repetition_signals, top_ngrams,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "b c d e f g")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    frames = {
        "analyze_documents": analyze_documents(docs),
        "repetition_signals": repetition_signals(docs),
        "top_ngrams": top_ngrams(docs),
        "ngram_jaccard_pairs": ngram_jaccard_pairs(docs, pairs),
        "cross_corpus_contamination": cross_corpus_contamination(docs, docs),
    }
    tokenizer_slice = re.compile(r"slice\((filter\()?split\(")
    offenders = [
        name for name, df in frames.items()
        if tokenizer_slice.search(
            df._jdf.queryExecution().optimizedPlan().toString()
        )
    ]
    assert not offenders, f"n-gram lambda re-tokenizes the text: {offenders}"


# ---------------------------------------------------------------------------
# The run-metrics tables reach the JVM as Arrow batches (a local relation),
# not as a Python RDD that costs a Python-worker job per table. Covers the
# empty partition-rows case too.
# ---------------------------------------------------------------------------

def test_metrics_tables_are_local_relations(spark):
    from payor_mdm_spark.plans.stages import StageRunner

    class CaptureStore:
        def __init__(self):
            self.frames = {}

        def write(self, name, df):
            self.frames[name] = df

    store = CaptureStore()
    runner = StageRunner(spark, store, "2026-01-01 00:00:00", False, True,
                         "run_metrics", "partition_metrics")
    runner.record("staged", 7, False, 1.25)
    runner.record("golden", 0, True)
    runner.finish()

    metrics, parts = store.frames["run_metrics"], store.frames["partition_metrics"]
    for df in (metrics, parts):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
    assert metrics.schema.simpleString() == (
        "struct<stage:string,rows:bigint,seconds:double,skipped:boolean,"
        "run_ts:string>"
    )
    assert [tuple(r) for r in metrics.collect()] == [
        ("staged", 7, 1.25, False, "2026-01-01 00:00:00"),
        ("golden", 0, 0.0, True, "2026-01-01 00:00:00"),
    ]
    assert parts.schema.simpleString() == (
        "struct<stage:string,partition_id:int,rows:bigint,run_ts:string>"
    )
    assert parts.count() == 0


# ---------------------------------------------------------------------------
# No hidden knobs: only session.py reads the environment, and only for
# deployment settings (master, driver memory, shuffle partitions). A behaviour
# switch read from os.environ anywhere else is an option no caller or test
# sees. Pure source scan, no Spark.
# ---------------------------------------------------------------------------

def _env_reads(path):
    import ast

    tree = ast.parse(open(path).read(), filename=path)
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "os"
            and node.attr in ("environ", "getenv")
        ):
            yield node.lineno
        elif isinstance(node, ast.ImportFrom) and node.module == "os" and any(
            a.name in ("environ", "getenv") for a in node.names
        ):
            yield node.lineno


def test_only_session_reads_environment():
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "payor_mdm_spark"
    offenders = [
        f"{path.relative_to(pkg.parent)}:{line}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "session.py" or path.parent != pkg
        for line in _env_reads(path)
    ]
    assert not offenders, f"environment read outside session.py: {offenders}"


# ---------------------------------------------------------------------------
# One routing definition: route_name / route_addr pick every string-field
# strategy. The Arrow kernel only normalizes, batches the C kernels,
# memoizes and calls the routers, so it names no strategy; and the ensemble
# has one plan shape. Pure source scan, no Spark.
# ---------------------------------------------------------------------------

def test_kernel_holds_no_routing():
    import ast
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parent.parent
        / "payor_mdm_spark" / "functions" / "ensemble.py"
    )
    funcs = {
        node.name: node
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.FunctionDef)
    }
    strategies = sorted(
        node.value
        for node in ast.walk(funcs["_string_scores_batch"])
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and node.value.startswith(("NAME_", "ADDR_", "TIN_"))
    )
    assert not strategies, f"_string_scores_batch names strategies: {strategies}"
    args = funcs["apply_ensemble"].args
    params = [a.arg for a in args.posonlyargs + args.args + args.kwonlyargs]
    assert "split_fast_path" not in params
