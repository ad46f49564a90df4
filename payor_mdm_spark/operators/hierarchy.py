"""Hierarchy inference between golden records.

Mirrors /root/reference/transform/payor_mdm/models/master/
int_hierarchy_inferred.sql + payor_hierarchy.sql. Two signals:

  1. name_ref_match — a source record's parent_ref equals another golden
     record's name (equi join on normalized expressions, J6, :30-43);
  2. name_substring — one golden name contains another (child longer,
     parent >= 6 chars, J7, :47-62). Bounded candidate generation (SURVEY
     §2.3 J7): a containment hit implies the parent's 6-char PREFIX occurs
     as a 6-gram of the child, so parents equi-join their prefix gram
     against the child's exploded (distinct) 6-grams and the exact
     `contains` check runs only on those candidates. Exact (zero recall
     loss vs the reference's nested-loop contains join) and O(sum over
     gram of n_parent(g) * n_child(g)) instead of O(|golden|^2); residual
     hot-gram skew is left to AQE skew-join.

Hierarchy ids are deterministic (md5 of parent|child|method) instead of
uuid_string() (payor_hierarchy.sql:11; SURVEY §2.7 determinism rule).

Steward write-back (S8, app/src/pages/HierarchyManager.tsx:112 +
05_create_master_tables.sql:80-90): edges are tentative
(steward_confirmed=false) until a steward confirms them, and stewards can
insert manual edges with steward_confirmed=true. apply_hierarchy_overrides
overlays the append-only overrides table onto a freshly inferred hierarchy,
so confirmations and manual edges survive pipeline re-runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from payor_mdm_spark.functions.textnorm import deterministic_id
from payor_mdm_spark.operators.clustering import truncate_lineage

_GRAM_K = 6  # == the reference's minimum parent-name length (J7 predicate)


def _grams(col, k: int):
    """All distinct k-grams of ``col`` (assumes length(col) >= k)."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(col) - (k - 1)),
            lambda i: col.substr(i, F.lit(k)),
        )
    )


def substring_candidates(
    parents: DataFrame, children: DataFrame, k: int = _GRAM_K
) -> DataFrame:
    """Bounded candidates for the containment join via rarest-gram signing.

    If a child contains a parent name, the child's k-grams include EVERY
    k-gram of the parent — so it suffices to join on any one of them, and
    the cheapest is the parent gram with the lowest child-side document
    frequency (the rarest-signature trick from set-similarity joins, e.g.
    PPJoin's prefix filtering). Exact (zero recall loss): candidate count
    is sum over parents of df(rarest gram), which stays near-linear even
    on low-entropy name vocabularies where a fixed prefix gram would be
    hot. Parents whose rarest gram appears in no child are dropped
    outright — they cannot match. Schemas: parents[parent_master_id,
    _pname], children[child_master_id, _cname].

    r06b: both inputs are spread to the core count when their scans have
    fewer splits (the usual case for a compact golden/dimension parquet —
    measured 1-2 splits at the bench points, which serialized the gram
    explode and the candidate-join probe on 1-2 tasks and made the stage
    scale flat from 2 to 32 cores, VERDICT r05 item 3). The guard skips
    itself at scale, where scans already carry thousands of splits."""
    from payor_mdm_spark.operators.blocking import _scan_splits_below

    parallelism = children.sparkSession.sparkContext.defaultParallelism
    if _scan_splits_below(children, parallelism):
        children = children.repartition(parallelism)
    if _scan_splits_below(parents, parallelism):
        parents = parents.repartition(parallelism)
    c = children.filter(F.length("_cname") > k).select(
        "child_master_id", "_cname",
        F.explode(_grams(F.col("_cname"), k)).alias("_gram"),
    )
    # document frequency of each gram on the child side (distinct per child)
    freq = c.groupBy("_gram").agg(F.count(F.lit(1)).alias("_df"))
    # per parent: the gram with minimum (df, gram) — deterministic tiebreak
    p_grams = parents.filter(F.length("_pname") >= k).select(
        "parent_master_id", "_pname",
        F.explode(_grams(F.col("_pname"), k)).alias("_gram"),
    )
    p_key = (
        p_grams.join(freq, "_gram")  # inner: gram absent from children -> no match possible
        .groupBy("parent_master_id")
        .agg(
            F.min(F.struct(F.col("_df"), F.col("_gram"))).alias("_best"),
            F.first("_pname").alias("_pname"),
        )
        .select("parent_master_id", "_pname", F.col("_best._gram").alias("_gram"))
    )
    return c.join(p_key, "_gram").drop("_gram")


def infer_hierarchy(
    staged: DataFrame, xref: DataFrame, golden: DataFrame
) -> DataFrame:
    g = golden.select(
        F.col("master_entity_id"), F.col("name_raw"),
        F.upper(F.trim("name_raw")).alias("_name_u"),
    )

    # Signal 1: parent_ref name match
    refs = staged.filter(
        F.col("parent_ref").isNotNull() & (F.col("parent_ref") != "")
    ).select("source_record_id", F.upper(F.trim("parent_ref")).alias("_ref_u"))
    sig1 = (
        refs.join(xref.select("source_record_id", F.col("master_entity_id").alias("child_master_id")), "source_record_id")
        .join(
            F.broadcast(g.select(F.col("master_entity_id").alias("parent_master_id"), "_name_u")),
            F.col("_ref_u") == F.col("_name_u"),
        )
        .filter(F.col("parent_master_id") != F.col("child_master_id"))
        .select("parent_master_id", "child_master_id")
        .distinct()
        .withColumn("inference_method", F.lit("name_ref_match"))
    )

    # Signal 2: substring containment over golden x golden
    gp = g.select(
        F.col("master_entity_id").alias("parent_master_id"),
        F.col("_name_u").alias("_pname"),
    )
    gc = g.select(
        F.col("master_entity_id").alias("child_master_id"),
        F.col("_name_u").alias("_cname"),
    )
    sig2 = (
        substring_candidates(gp, gc)
        .filter(
            (F.col("parent_master_id") != F.col("child_master_id"))
            & F.contains(F.col("_cname"), F.col("_pname"))
            & (F.length("_cname") > F.length("_pname"))
        )
        .select("parent_master_id", "child_master_id")
        .distinct()
        .withColumn("inference_method", F.lit("name_substring"))
    )

    combined = sig1.unionByName(sig2).distinct()
    return (
        combined.filter(F.col("parent_master_id") != F.col("child_master_id"))
        .withColumn(
            "hierarchy_id",
            deterministic_id(
                F.col("parent_master_id"), F.col("child_master_id"),
                F.col("inference_method"),
            ),
        )
        .withColumn("relationship_type", F.lit("parent_company"))
        .withColumn("steward_confirmed", F.lit(False))
        .select(
            "hierarchy_id", "parent_master_id", "child_master_id",
            "relationship_type", "inference_method", "steward_confirmed",
        )
    )


def apply_hierarchy_overrides(
    hierarchy: DataFrame, overrides: DataFrame | None
) -> DataFrame:
    """Overlay steward hierarchy decisions onto an inferred hierarchy.

    ``overrides`` rows (latest per parent/child pair): action='confirm'
    marks a matching inferred edge steward_confirmed=true
    (05_create_master_tables.sql:88 — edges are tentative until
    confirmed); action='insert' adds a manual edge with
    steward_confirmed=true and inference_method='steward_manual'
    (HierarchyManager.tsx:112's INSERT). Manual edges that duplicate an
    inferred (parent, child) pair confirm it instead of duplicating.
    """
    if overrides is None:
        return hierarchy
    keys = ["parent_master_id", "child_master_id"]
    # dedupe defensively on (parent, child) — callers should pass
    # read_hierarchy_overrides' latest-per-pair view, but a raw append-only
    # table must not fan the left join out into duplicate hierarchy rows
    # (ADVICE r02); max(action) is deterministic on the rare conflict
    ov = (
        overrides.select(
            *keys,
            F.col("action").alias("_action"),
            F.col("relationship_type").alias("_rel"),
        )
        .groupBy(*keys)
        .agg(F.max("_action").alias("_action"), F.max("_rel").alias("_rel"))
    )
    # only confirm/insert actions confirm an edge — a future action value
    # (e.g. 'reject') must not silently flip steward_confirmed (ADVICE r02)
    confirming = F.col("_action").isin("confirm", "insert")
    confirmed = (
        hierarchy.join(F.broadcast(ov), keys, "left")
        .withColumn(
            "steward_confirmed",
            F.col("steward_confirmed") | F.coalesce(confirming, F.lit(False)),
        )
        .drop("_action", "_rel")
    )
    manual = (
        ov.filter(F.col("_action") == "insert")
        .join(hierarchy.select(*keys), keys, "left_anti")
        .select(
            deterministic_id(
                F.col("parent_master_id"), F.col("child_master_id"),
                F.lit("steward_manual"),
            ).alias("hierarchy_id"),
            *keys,
            F.coalesce(F.col("_rel"), F.lit("parent_company")).alias(
                "relationship_type"
            ),
            F.lit("steward_manual").alias("inference_method"),
            F.lit(True).alias("steward_confirmed"),
        )
    )
    return confirmed.unionByName(manual)


def tree_paths(
    edges: DataFrame, max_iterations: int = 50,
    store=None, store_every: int = 5, store_prefix: str = "tree_state",
) -> DataFrame:
    """Resolve every node of a parent-forest to (node, root, depth).

    ``store``: optional CheckpointStore for reliable lineage truncation
    every ``store_every`` rounds (same contract as
    clustering.propagate_labels; default stays localCheckpoint).

    ``edges``: [parent_master_id, child_master_id]; a child with several
    parents (possible when both inference signals fire) is resolved to its
    MIN parent first, making the input a forest. Traversal is pointer
    jumping — each round replaces every node's known ancestor with that
    ancestor's ancestor while accumulating depth, so a depth-d hierarchy
    resolves in O(log d) rounds (the UI's tree build,
    HierarchyManager.tsx buildTree, computed engine-side instead of
    client-side).
    """
    # the name_ref signal can emit both directions of an edge (A says
    # parent B, B says parent A); a 2-cycle would keep pointer jumping from
    # ever reaching the sum-of-depths fixpoint. Break mutual pairs up
    # front deterministically: keep only the parent < child direction
    # (ADVICE r02). Longer cycles are caught by the fixpoint guard below.
    e = (
        edges.select("parent_master_id", "child_master_id")
        # a self-referencing parent row is a degenerate 1-cycle: it would
        # double its depth every round and trip the fixpoint guard
        .filter(F.col("parent_master_id") != F.col("child_master_id"))
        .distinct()
    )
    rev = e.select(
        F.col("child_master_id").alias("parent_master_id"),
        F.col("parent_master_id").alias("child_master_id"),
    )
    back = (
        e.join(rev, ["parent_master_id", "child_master_id"], "semi")
        .filter(F.col("parent_master_id") > F.col("child_master_id"))
    )
    edges = e.join(back, ["parent_master_id", "child_master_id"], "left_anti")

    parent_of = (
        edges.groupBy(F.col("child_master_id").alias("node"))
        .agg(F.min("parent_master_id").alias("anc"))
    )
    state = parent_of.withColumn("depth", F.lit(1)).localCheckpoint(eager=True)
    prev_total = state.select(F.sum("depth")).first()[0] or 0
    converged = False
    for _round in range(max_iterations):
        up = state.select(
            F.col("node").alias("_n2"), F.col("anc").alias("_a2"),
            F.col("depth").alias("_d2"),
        )
        state = (
            state.join(up, state.anc == up._n2, "left")
            .select(
                "node",
                F.coalesce(F.col("_a2"), F.col("anc")).alias("anc"),
                (F.col("depth") + F.coalesce(F.col("_d2"), F.lit(0))).alias("depth"),
            )
        )
        state = truncate_lineage(state, _round, store, store_every, store_prefix)
        # fixpoint: every node already points at its root, so no depth grew
        total = state.select(F.sum("depth")).first()[0] or 0
        if total == prev_total:
            converged = True
            break
        prev_total = total
    if not converged:
        # a forest of depth < 2^max_iterations always converges, so this
        # means a cycle of length >= 3 survived the mutual-pair break —
        # fail loudly instead of returning 2^50-scale depths (ADVICE r02)
        raise RuntimeError(
            "tree_paths did not reach its fixpoint after "
            f"{max_iterations} pointer-jumping rounds; the resolved edge "
            "set likely contains a cycle (len >= 3). Inspect the "
            "parent_ref inputs or break the cycle with a steward override."
        )

    roots = (
        edges.select(F.col("parent_master_id").alias("node"))
        .join(edges.select(F.col("child_master_id").alias("node")), "node", "left_anti")
        .distinct()
        .select("node", F.col("node").alias("root"), F.lit(0).alias("depth"))
    )
    return roots.unionByName(
        state.select("node", F.col("anc").alias("root"), "depth")
    )
