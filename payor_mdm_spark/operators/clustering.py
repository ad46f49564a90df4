"""Transitive clustering: connected components over match edges.

The reference's connected-components stored proc
(snowflake/09_connected_components_proc.sql) collects ALL edges and
records into proc memory and runs networkx on one node. We keep that shape
where it is the cheap one, and bound it:

* **Driver path.** ``collect_small`` materializes the edges once, sizing
  them on the way, and when they fit under ``LOCAL_COLLECT_BYTES`` pulls
  them as ONE Arrow table; min-root union-find solves them on the driver
  and the labels go back as an Arrow local relation. An incremental run
  or a small corpus then costs two jobs instead of two shuffles and a
  count per round: the cost of the loop below is in supersteps and
  per-job overhead, not data (283 nodes on a 4-core host: ~35 jobs and
  4 s for the loop, 0.07 s for union-find).
* **Distributed path.** Above the cap, edges and labels stay DataFrames
  end-to-end — the scale shape, which never holds the edge set in one
  process; it starts from the materialized edges:

    label(v) := v
    repeat:
      label(v) := min(label(v), min over neighbors u of label(u))  # hash-min
      label(v) := min(label(v), label(label(v)))                   # pointer jump
    until no label changes

  Two shuffles per round; the pointer-jumping shortcut makes convergence
  O(log diameter) instead of O(diameter) (the reference's SQL variant
  hard-codes TWO min-propagation passes and documents that deeper chains
  are wrong, match_groups.sql:43-44; we loop to fixpoint). Labels are
  eagerly localCheckpoint'ed every round, so each round's jobs read
  materialized state instead of re-running the whole lineage.

Both paths set component = the minimum reachable id and emit identical
rows (pytest- and hypothesis-pinned). Only nodes incident to at least one
match edge are solved; the (vastly larger) singleton population is
unioned back afterwards in Spark, so the working set is proportional to
the matched sub-population, not the corpus.

Group semantics mirror the proc:
  * match_group_id — deterministic, content-derived: md5(min member id)
    (= the SQL variant, match_groups.sql:95, O(1) per group at any group
    size).
  * is_survivor — lowest source_trust_rank, ties to smallest id (:77).
  * group_confidence — avg incident match score, round 4 (:69-74);
    NULL for singletons.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, BinaryType, StringType
from pyspark.sql.window import Window

_ID = "source_record_id"

# the largest Arrow table an operator may collect to finish its work on
# the driver (connected components, the MinHash exact verify). At the cap,
# 2.1M edges of two long ids, the driver path took 30 s and 435 MB more
# Python heap where the loop took 74 s (4-core host, 2 GB driver; at 200k
# edges 4 s against 14 s), so the driver path wins on time at every size
# under it, and the heap it costs stays well inside a driver.
LOCAL_COLLECT_BYTES = 32 << 20


def collect_small(df: DataFrame):
    """Evaluate ``df`` once and size it on the way -> (table, frame).

    ``df`` is eagerly localCheckpoint'ed while an observed aggregate
    counts its rows and the bytes of its variable-width columns (no extra
    job, no shuffle). When that fits under LOCAL_COLLECT_BYTES, ``table``
    is the checkpoint pulled as one pyarrow Table; otherwise it is None,
    no row has left the executors, and the caller's distributed path
    reads ``frame``, the checkpoint, instead of evaluating ``df`` again. A
    cap of 0 returns (None, df) with no job."""
    if LOCAL_COLLECT_BYTES <= 0:
        return None, df
    var = [b for b in map(_var_bytes, df.schema.fields) if b is not None]
    size = Observation()
    frame = df.observe(
        size, F.count(F.lit(1)).alias("rows"),
        *(F.sum(b).alias(f"b{i}") for i, b in enumerate(var)),
    ).localCheckpoint(eager=True)
    got = size.get
    # Arrow size: 8 bytes per value (a fixed-width id or score, or a
    # string's or list's offset) plus the variable-width bytes
    nbytes = got["rows"] * 8 * len(df.columns) + sum(
        got[f"b{i}"] or 0 for i in range(len(var))
    )
    if nbytes > LOCAL_COLLECT_BYTES:
        return None, frame
    return frame.toArrow(), frame


def _var_bytes(field) -> Column | None:
    """The Arrow bytes a row's value of ``field`` holds beyond its 8-byte
    slot: a string's UTF-8 bytes, an array's elements at 8 bytes each plus
    their UTF-8 bytes when they are strings; None for fixed-width types."""
    t, c = field.dataType, F.col(field.name)
    if isinstance(t, (StringType, BinaryType)):
        return F.octet_length(c)
    if isinstance(t, ArrayType):
        text = isinstance(t.elementType, (StringType, BinaryType))

        def element(x: Column) -> Column:
            return 8 + F.coalesce(F.octet_length(x), F.lit(0)) if text else F.lit(8)

        return F.aggregate(c, F.lit(0).cast("long"), lambda acc, x: acc + element(x))
    return None


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


def _min_root_components(src: list, dst: list) -> dict:
    """Union-find over edge endpoint lists -> {node: min reachable node}.
    The larger root always hangs under the smaller one, so every root is
    its component's minimum (Python's order on ints, and on str, which is
    Spark's: UTF-8 byte order equals code-point order). A None endpoint
    is a node of its own with component None and joins nothing, as NULL
    keys do in the loop's equi-joins."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(src, dst):
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        if u is None or v is None:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            lo, hi = (ru, rv) if ru < rv else (rv, ru)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def _hash_min_loop(
    adjacency: DataFrame, max_iterations: int, store, store_every: int,
    store_prefix: str,
) -> DataFrame:
    """The distributed path: [node, component] for every adjacency node."""
    adjacency = adjacency.distinct().localCheckpoint(eager=True)
    labels = adjacency.select(
        F.col("src").alias("node"), F.col("src").alias("component")
    ).distinct().localCheckpoint(eager=True)

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
            return labels
    # a graph of diameter d converges in O(log d) rounds, so this means a
    # far too small budget: fail loudly instead of returning labels that
    # are not yet components
    raise RuntimeError(
        f"propagate_labels did not converge in {max_iterations} rounds; "
        "raise max_iterations"
    )


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

    Edges that fit under ``LOCAL_COLLECT_BYTES`` are solved on the driver
    by union-find (module docstring); larger ones by the hash-min loop.
    Both emit the same rows. ``max_iterations``, ``store``,
    ``store_every`` and ``store_prefix`` apply only to the loop; it raises
    RuntimeError when it has not converged after ``max_iterations``
    rounds.

    Lineage truncation in the loop (VERDICT r02 item 5): by default every
    round is an eager ``localCheckpoint`` — fast, but its blocks live on
    executors, so on a real cluster an executor loss mid-job restarts the
    whole fixpoint from round 0. Passing a ``CheckpointStore`` switches to
    RELIABLE truncation: every ``store_every`` rounds the labels are
    committed to the store (two alternating table names, so a commit never
    overwrites the table the current lineage reads from) and the loop
    resumes from the committed table — bounded recomputation
    (< store_every rounds) on any failure. Identical components either way
    (pytest-pinned)."""
    a, b = F.col(f"{_ID}_a"), F.col(f"{_ID}_b")
    # both endpoints in the type the loop's union of them would widen to
    id_type = (
        edges.select(a.alias("src")).unionByName(edges.select(b.alias("src")))
        .schema["src"].dataType.simpleString()
    )
    local, edges = collect_small(edges.select(
        a.cast(id_type).alias(f"{_ID}_a"), b.cast(id_type).alias(f"{_ID}_b")
    ))
    if local is not None:
        import pyarrow as pa

        comp = _min_root_components(
            local.column(0).to_pylist(), local.column(1).to_pylist()
        )
        t = local.schema.field(0).type
        # one partition: a local relation otherwise scans as up to one
        # partition per core, and every table built from the labels would
        # commit that many more files
        labels = edges.sparkSession.createDataFrame(
            pa.table(
                {"node": list(comp), "component": list(comp.values())},
                schema=pa.schema([("node", t), ("component", t)]),
            ),
            f"node {id_type}, component {id_type}",
        ).coalesce(1)
    else:
        adjacency = edges.select(a.alias("src"), b.alias("dst")).unionByName(
            edges.select(b.alias("src"), a.alias("dst"))
        )
        labels = _hash_min_loop(
            adjacency, max_iterations, store, store_every, store_prefix
        )

    # Singletons (no incident edge) are their own component.
    singletons = (
        nodes.select(F.col(_ID).alias("node"))
        .join(labels.select("node"), "node", "left_anti")
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
