"""Transitive clustering: distributed hash-min label propagation.

Replaces the reference's driver-side connected-components stored proc
(/root/reference/snowflake/09_connected_components_proc.sql), which collects
ALL edges and records into proc memory and runs networkx — a deliberate
single-node step that cannot survive 10^12-turn scale. Here edges and labels
stay DataFrames end-to-end:

  label(v) := v
  repeat:
    label(v) := min(label(v), min over neighbors u of label(u))   # hash-min
    label(v) := min(label(v), label(label(v)))                    # pointer jump
  until no label changes

Two shuffles per round; the pointer-jumping shortcut makes convergence
O(log diameter) instead of O(diameter) (the reference's SQL variant
hard-codes TWO min-propagation passes and documents that deeper chains are
wrong, match_groups.sql:43-44; we loop to fixpoint). Labels are eagerly
localCheckpoint'ed every round, so each round's jobs read materialized
state instead of re-running the whole lineage. Only nodes incident to at
least one match edge enter the loop; the (vastly larger) singleton
population is unioned back afterwards — the iteration working set is
proportional to the matched sub-population, not the corpus.

Group semantics mirror the proc:
  * match_group_id — deterministic, content-derived: md5(min member id)
    (= the SQL variant, match_groups.sql:95, O(1) per group at any group
    size).
  * is_survivor — lowest source_trust_rank, ties to smallest id (:77).
  * group_confidence — avg incident match score, round 4 (:69-74);
    NULL for singletons.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_ID = "source_record_id"


def truncate_lineage(
    df: DataFrame, round_: int, store, store_every: int, store_prefix: str
) -> DataFrame:
    """Materialize one round of a fixpoint loop. Every ``store_every``-th
    round is committed to ``store`` (when given) under one of two
    alternating table names, so a commit never overwrites the table the
    current lineage reads from, and the loop resumes from the committed
    table; every other round is an eager ``localCheckpoint``."""
    if store is not None and (round_ + 1) % store_every == 0:
        tbl = f"{store_prefix}_{(round_ // store_every) % 2}"
        store.write(tbl, df)
        return store.read(tbl)
    return df.localCheckpoint(eager=True)


def propagate_labels(
    edges: DataFrame,
    nodes: DataFrame,
    max_iterations: int = 50,
    store=None,
    store_every: int = 5,
    store_prefix: str = "cc_labels",
) -> DataFrame:
    """edges[id_a, id_b] + nodes[source_record_id] -> [source_record_id,
    component] where component = min id reachable.

    Lineage truncation (VERDICT r02 item 5): by default every round is an
    eager ``localCheckpoint`` — fast, but its blocks live on executors, so
    on a real cluster an executor loss mid-job restarts the whole fixpoint
    from round 0. Passing a ``CheckpointStore`` switches to RELIABLE
    truncation: every ``store_every`` rounds the labels are committed to
    the store (two alternating table names, so a commit never overwrites
    the table the current lineage reads from) and the loop resumes from
    the committed table — bounded recomputation (< store_every rounds) on
    any failure. Identical components either way (pytest-pinned)."""
    adjacency = (
        edges.select(F.col(f"{_ID}_a").alias("src"), F.col(f"{_ID}_b").alias("dst"))
        .unionByName(
            edges.select(F.col(f"{_ID}_b").alias("src"), F.col(f"{_ID}_a").alias("dst"))
        )
        .distinct()
    )
    adjacency = adjacency.localCheckpoint(eager=True)

    edge_nodes = adjacency.select(F.col("src").alias("node")).distinct()
    labels = edge_nodes.withColumn("component", F.col("node"))
    labels = labels.localCheckpoint(eager=True)

    for _round in range(max_iterations):
        # (1) hash-min step: take the min label among neighbors
        nbr_min = (
            adjacency.join(labels, adjacency.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
            F.col("node"),
            F.col("component").alias("old_component"),
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("mid"),
        )
        # (2) pointer-jumping shortcut: component := component's component —
        # turns O(diameter) rounds into O(log diameter)
        owner = stepped.select(
            F.col("node").alias("owner_node"), F.col("mid").alias("owner_component")
        )
        new_labels = stepped.join(
            owner, stepped.mid == owner.owner_node, "left"
        ).select(
            F.col("node"),
            F.col("old_component"),
            F.least(
                F.col("mid"), F.coalesce(F.col("owner_component"), F.col("mid"))
            ).alias("component"),
        )
        # truncate lineage EVERY round so the convergence count and the
        # next round both read materialized labels instead of re-running
        # the whole join cascade; periodically durable when a store is given
        new_labels = truncate_lineage(
            new_labels, _round, store, store_every, store_prefix
        )
        changed = new_labels.filter(
            F.col("component") < F.col("old_component")
        ).count()
        labels = new_labels.drop("old_component")
        if changed == 0:
            break

    # Singletons (no incident edge) are their own component.
    singletons = (
        nodes.select(F.col(_ID).alias("node"))
        .join(edge_nodes, "node", "left_anti")
        .withColumn("component", F.col("node"))
    )
    return (
        labels.unionByName(singletons)
        .select(F.col("node").alias(_ID), "component")
    )


def build_match_groups(candidates: DataFrame, staged: DataFrame) -> DataFrame:
    """Confirmed candidates + staged records -> match_groups table:
    [match_group_id, source_record_id, is_survivor, group_confidence,
    component]."""
    edges = candidates.filter(F.col("final_decision") == "match").select(
        f"{_ID}_a", f"{_ID}_b", "overall_score"
    )
    nodes = staged.select(_ID)
    labeled = propagate_labels(edges.select(f"{_ID}_a", f"{_ID}_b"), nodes)

    # group_confidence: avg score over the component's match edges (round 4)
    conf = (
        edges.join(
            labeled.withColumnRenamed(_ID, f"{_ID}_a"), f"{_ID}_a"
        )
        .groupBy("component")
        .agg(F.round(F.avg("overall_score"), 4).alias("group_confidence"))
    )

    members = labeled.join(conf, "component", "left").withColumn(
        "match_group_id", F.md5(F.col("component"))
    )

    # survivor: lowest trust rank, ties -> smallest id (proc :77)
    trust = staged.select(_ID, "source_trust_rank")
    members = members.join(trust, _ID)
    w = Window.partitionBy("component").orderBy(
        F.coalesce(F.col("source_trust_rank"), F.lit(999)).asc(), F.col(_ID).asc()
    )
    members = members.withColumn(
        "is_survivor", F.row_number().over(w) == 1
    )
    return members.select(
        "match_group_id", _ID, "is_survivor", "group_confidence", "component"
    )
