"""Training-corpus pipeline: the engine's second flagship DAG.

Chains the training-data operator suite into one checkpointed, resumable
pipeline over a document corpus (doc_id, source, text):

  doc_stats      quality/repetition/language/token signals (all native)
  doc_filtered   quality + repetition gates, PII scrub
  doc_exact      exact dedup (md5 groupBy, min-id keeper)
  doc_keepers    MinHash-LSH near-dup pairs -> transitive clusters ->
                 canonical keepers only
  doc_splits     deterministic content-hash train/val/test assignment
  doc_packed     GPT-style concat-and-chunk sequence packing (train split)

Same storage contract as the ER DAG (sources/catalog.CheckpointStore):
every stage commits a table, a killed run resumes from the last committed
stage, per-stage lineage comes from commit stats. Deterministic end to end
(content hashes everywhere, no RNG), so replays and resumes are
bit-identical — pinned by tests/test_docs_pipeline.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from payor_mdm_spark.plans.stages import RunResult, StageRunner
from payor_mdm_spark.sources.catalog import CheckpointStore

DOC_STAGES = (
    "doc_stats", "doc_filtered", "doc_exact", "doc_clusters", "doc_keepers",
    "doc_splits", "doc_packed",
)


def run_docs_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    store: CheckpointStore,
    quality_threshold: float = 0.3,
    max_dup_ngram_ratio: float = 0.9,
    jaccard_threshold: float = 0.8,
    budget_tokens: int = 2048,
    resume: bool = False,
    collect_metrics: bool = True,
    run_ts: str = "2026-01-01 00:00:00",
) -> RunResult:
    from payor_mdm_spark.operators.dedup import (
        dedup_clusters, exact_dedup, minhash_dedup_pairs,
    )
    from payor_mdm_spark.operators.text_analysis import (
        analyze_documents, pack_sequences, redact_pii_col, repetition_signals,
        split_assignment_col,
    )

    runner = StageRunner(spark, store, run_ts, resume, collect_metrics,
                         "docs_run_metrics")

    stats = runner.run(
        "doc_stats",
        lambda: analyze_documents(docs).join(
            repetition_signals(docs), "doc_id"
        ),
    )
    filtered = runner.run(
        "doc_filtered",
        lambda: stats.filter(
            (F.col("quality_score") >= quality_threshold)
            & (F.col("dup_ngram_ratio") <= max_dup_ngram_ratio)
        ).withColumn("text", redact_pii_col(F.col("text"))),
    )
    exact = runner.run("doc_exact", lambda: exact_dedup(filtered))

    # near-dup transitive clusters persisted as their own stage: the
    # cluster->root map is the state the INCREMENTAL path needs to decide
    # whether a delta doc joins (or merges) existing clusters
    clusters = runner.run(
        "doc_clusters",
        lambda: dedup_clusters(
            exact.select("doc_id"),
            minhash_dedup_pairs(exact, jaccard_threshold=jaccard_threshold),
        ),
    )
    keepers = runner.run(
        "doc_keepers",
        lambda: exact.join(
            clusters.filter("is_keeper").select("doc_id"), "doc_id", "semi"
        ),
    )
    splits = runner.run(
        "doc_splits",
        lambda: keepers.withColumn(
            "split", split_assignment_col(F.col("doc_id"))
        ),
    )
    runner.run(
        "doc_packed",
        lambda: pack_sequences(
            splits.filter(F.col("split") == "train"), budget_tokens
        ),
    )

    return runner.finish()


def run_docs_incremental(
    spark: SparkSession,
    new_docs: DataFrame,
    store: CheckpointStore,
    quality_threshold: float = 0.3,
    max_dup_ngram_ratio: float = 0.9,
    jaccard_threshold: float = 0.8,
    budget_tokens: int = 2048,
) -> RunResult:
    """Delta run of the training-corpus DAG against a completed batch run.

    The daily-crawl path: only the NEW documents are analyzed, filtered,
    scrubbed, and deduped — against the committed corpus state, never by
    re-pairing the old corpus:

    * exact dedup: a new doc drops if its md5 matches any committed
      doc_exact hash (old keepers carry every old hash) or a lower-id doc
      in the same delta;
    * near-dup: minhash_dedup_incremental joins NEW band members against
      the committed signature table (seeded on first delta) — work scales
      with the delta;
    * clustering: delta edges are mapped through the committed
      doc_clusters root map and ONE label propagation over (old roots ∪
      delta docs) resolves joins AND cross-cluster merges — an old keeper
      whose cluster merges into a lower-rooted one is demoted exactly as
      a full rebuild would;
    * splits rebuild from the keeper set (content-hash assignment never
      migrates); packing recomputes ONLY sources touched by added or
      demoted docs, untouched sources' bins are reused verbatim.

    Contract: delta doc_ids must be greater than all committed doc_ids
    (monotonic ingest ids), which makes the result BIT-IDENTICAL to a
    full rebuild over (old ∪ delta) — pinned by
    tests/test_docs_pipeline.py::test_incremental_equals_full_rebuild.
    Exception: hot (salted) MinHash buckets may bound work differently
    across the two paths — the same documented trade the batch operator
    makes.

    doc_stats/doc_filtered/doc_exact land as O(delta) appends; the
    cluster/keeper/split/packed serving tables rebuild their commits like
    the ER incremental path's downstream aggregates.
    """
    from payor_mdm_spark.operators.clustering import propagate_labels
    from payor_mdm_spark.operators.dedup import (
        exact_dedup, minhash_dedup_incremental,
    )
    from payor_mdm_spark.operators.text_analysis import (
        analyze_documents, pack_sequences, redact_pii_col,
        repetition_signals, split_assignment_col,
    )

    result = RunResult()
    delta_ids = new_docs.select("doc_id").distinct().localCheckpoint(eager=True)
    # crash-retry healing: a previous attempt may have committed SOME of
    # the derived tables (the doc_stats ledger lands LAST, so a retried
    # batch re-enters here) — rows carrying delta ids in the committed
    # state are that attempt's leftovers and are recomputed fresh
    old_exact = store.read("doc_exact").join(delta_ids, "doc_id", "left_anti")
    old_clusters = store.read("doc_clusters").join(delta_ids, "doc_id", "left_anti")
    old_keepers = store.read("doc_keepers").join(delta_ids, "doc_id", "left_anti")
    old_packed = store.read("doc_packed").join(delta_ids, "doc_id", "left_anti")

    # the bit-identical-to-rebuild contract requires monotonic ingest ids;
    # fail fast instead of silently diverging on out-of-order deltas.
    # Guard against the doc_stats LEDGER (every analyzed id), not doc_exact
    # (filter/dedup survivors only): a delta id colliding with a committed
    # but filtered-out doc must be rejected too, or the ledger — which the
    # streaming replay guard and per-doc-id consumers key on — would grow a
    # duplicate doc_id (ADVICE r03). No delta anti-join here: doc_stats
    # lands LAST in the commit order, so a legitimate crash-retry never has
    # its delta ids in the ledger — any overlap is an id collision or a
    # re-submit of a fully committed batch (the bridge filters those;
    # direct calls should fail fast, not double-append the ledger).
    max_old = store.read("doc_stats").agg(F.max("doc_id")).first()[0]
    min_new = new_docs.agg(F.min("doc_id")).first()[0]
    if max_old is not None and min_new is not None and min_new <= max_old:
        raise ValueError(
            f"delta doc_ids must exceed every committed id (committed max "
            f"{max_old}, delta min {min_new}); out-of-order ingest breaks "
            "the full-rebuild equivalence contract"
        )

    new_stats = analyze_documents(new_docs).join(
        repetition_signals(new_docs), "doc_id"
    )
    new_filtered = (
        new_stats.filter(
            (F.col("quality_score") >= quality_threshold)
            & (F.col("dup_ngram_ratio") <= max_dup_ngram_ratio)
        ).withColumn("text", redact_pii_col(F.col("text")))
    ).localCheckpoint(eager=True)

    old_hashes = old_exact.select(F.md5("text").alias("_h")).distinct()
    new_exact = exact_dedup(
        new_filtered.withColumn("_h", F.md5("text"))
        .join(old_hashes, "_h", "left_anti")
        .drop("_h")
    ).localCheckpoint(eager=True)

    pairs = minhash_dedup_incremental(
        old_exact.select("doc_id", "text"),
        new_exact.select("doc_id", "text"),
        store=store,
        table="doc_minhash_sigs",
        jaccard_threshold=jaccard_threshold,
    )

    # map delta-edge endpoints through the committed root map, then one
    # label propagation over (old roots ∪ delta docs): new chains, joins
    # into old clusters, and old-cluster MERGES all resolve at once
    rmap = old_clusters.select(
        F.col("doc_id").alias("_n"), F.col("cluster_root").alias("_r")
    )
    edges = (
        pairs.select("id_a", "id_b")
        .join(rmap.withColumnRenamed("_n", "id_a"), "id_a", "left")
        .withColumnRenamed("_r", "_ra")
        .join(rmap.withColumnRenamed("_n", "id_b"), "id_b", "left")
        .withColumnRenamed("_r", "_rb")
        .select(
            F.coalesce("_ra", "id_a").alias("source_record_id_a"),
            F.coalesce("_rb", "id_b").alias("source_record_id_b"),
        )
        .filter(F.col("source_record_id_a") != F.col("source_record_id_b"))
    )
    nodes = (
        old_clusters.select(F.col("cluster_root").alias("source_record_id"))
        .distinct()
        .unionByName(new_exact.select(F.col("doc_id").alias("source_record_id")))
    )
    comp = propagate_labels(edges, nodes).localCheckpoint(eager=True)

    # updated cluster map: every old member re-roots through its old
    # root's new component; delta docs root at their own component
    root_of = comp.select(
        F.col("source_record_id").alias("_k"), F.col("component").alias("_c")
    )
    old_updated = (
        old_clusters.join(
            root_of.withColumnRenamed("_k", "cluster_root"), "cluster_root"
        )
        .select(
            "doc_id",
            F.col("_c").alias("cluster_root"),
            (F.col("doc_id") == F.col("_c")).alias("is_keeper"),
        )
    )
    new_rows = (
        new_exact.select("doc_id")
        .join(root_of.withColumnRenamed("_k", "doc_id"), "doc_id")
        .select(
            "doc_id",
            F.col("_c").alias("cluster_root"),
            (F.col("doc_id") == F.col("_c")).alias("is_keeper"),
        )
    )
    clusters = old_updated.unionByName(new_rows)

    kept_new = new_exact.join(
        new_rows.filter("is_keeper").select("doc_id"), "doc_id", "semi"
    )
    demoted = old_keepers.join(
        old_updated.filter(~F.col("is_keeper")).select("doc_id"), "doc_id", "semi"
    )
    keepers = old_keepers.join(
        demoted.select("doc_id"), "doc_id", "left_anti"
    ).unionByName(kept_new)

    splits = keepers.withColumn("split", split_assignment_col(F.col("doc_id")))

    # delta-scoped packing rebuild: only sources with added or demoted
    # docs re-pack; everything else reuses its committed bins verbatim
    affected = (
        kept_new.select("source").unionByName(demoted.select("source")).distinct()
    ).localCheckpoint(eager=True)
    packed = (
        old_packed.join(affected, "source", "left_anti")
        .unionByName(
            pack_sequences(
                splits.filter(F.col("split") == "train")
                .join(affected, "source", "semi"),
                budget_tokens,
            ).select(*old_packed.columns)
        )
    )

    # materialize EVERY derived table before the first commit: the write
    # loop atomically replaces tables these lineages lazily read (e.g.
    # keepers reads the doc_clusters files being swapped one line earlier)
    clusters = clusters.dropDuplicates(["doc_id"]).localCheckpoint(eager=True)
    keepers = keepers.dropDuplicates(["doc_id"]).localCheckpoint(eager=True)
    splits = splits.localCheckpoint(eager=True)
    packed = packed.localCheckpoint(eager=True)

    # commit ORDER is the crash contract: derived tables first, appends
    # after, and the doc_stats ledger LAST — the streaming bridge's replay
    # guard keys on doc_stats, so a crash anywhere in this window leaves
    # the delta ledger-absent and the retry re-enters (the delta-id
    # anti-joins above heal any partially committed state). A crash
    # BETWEEN the appends can leave duplicate delta rows in the
    # stats/filtered/exact append logs; every consumer keys by doc_id
    # (hash sets are distinct, signatures group by id), so duplicates are
    # benign there.
    for name, df in (
        ("doc_clusters", clusters), ("doc_keepers", keepers),
        ("doc_splits", splits), ("doc_packed", packed),
    ):
        store.write(name, df)
    store.append("doc_exact", new_exact)
    store.append("doc_filtered", new_filtered)
    store.append("doc_stats", new_stats)
    for name in DOC_STAGES:
        result.tables[name] = store.read(name)
    return result
