"""Clustering topology micro-fixtures (FIXTURES.md §6): the cases the
reference's fixed-2-pass SQL variant gets wrong (match_groups.sql:43-44) —
label propagation must reach fixpoint beyond 2 hops. Every topology runs
on both paths of propagate_labels: driver union-find (the default at these
sizes) and the distributed hash-min loop (forced by a tiny collect cap)."""

import pytest

from payor_mdm_spark.operators import clustering
from payor_mdm_spark.operators.clustering import build_match_groups, propagate_labels


def _frames(spark, edges, nodes):
    e = spark.createDataFrame(
        edges, "source_record_id_a string, source_record_id_b string"
    )
    n = spark.createDataFrame([(x,) for x in nodes], "source_record_id string")
    return e, n


def _components(spark, edges, nodes):
    """Components on the driver path, after checking that the loop path
    emits the same rows, both straight (cap 0) and from the materialized
    edges after the sizing declined them (cap 1)."""
    e, n = _frames(spark, edges, nodes)
    rows = sorted(propagate_labels(e, n).collect())
    for cap in (0, 1):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(clustering, "LOCAL_COLLECT_BYTES", cap)
            assert sorted(propagate_labels(e, n).collect()) == rows
    return {r.source_record_id: r.component for r in rows}


def test_chain_of_five(spark):
    comp = _components(
        spark,
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        ["a", "b", "c", "d", "e"],
    )
    assert set(comp.values()) == {"a"}


def test_star(spark):
    comp = _components(
        spark, [("hub", "s1"), ("hub", "s2"), ("hub", "s3")], ["hub", "s1", "s2", "s3"]
    )
    assert set(comp.values()) == {"hub"}


def test_two_cliques_bridged(spark):
    edges = [("a1", "a2"), ("a1", "a3"), ("a2", "a3"),
             ("b1", "b2"), ("b1", "b3"), ("b2", "b3"),
             ("a3", "b1")]
    nodes = ["a1", "a2", "a3", "b1", "b2", "b3"]
    comp = _components(spark, edges, nodes)
    assert set(comp.values()) == {"a1"}


def test_singleton_and_separate_components(spark):
    comp = _components(spark, [("a", "b")], ["a", "b", "lone"])
    assert comp["a"] == comp["b"] == "a"
    assert comp["lone"] == "lone"


def test_long_chain_beyond_two_passes(spark):
    # 9-node chain: diameter 8 — requires >2 min-propagation rounds
    nodes = [f"n{i}" for i in range(9)]
    edges = [(f"n{i}", f"n{i+1}") for i in range(8)]
    comp = _components(spark, edges, nodes)
    assert set(comp.values()) == {"n0"}


def test_loop_raises_when_not_converged(spark, monkeypatch):
    # one round cannot settle a 9-node chain: the loop must say so rather
    # than return labels that are not yet components
    monkeypatch.setattr(clustering, "LOCAL_COLLECT_BYTES", 0)
    nodes = [f"n{i}" for i in range(9)]
    e, n = _frames(spark, [(f"n{i}", f"n{i+1}") for i in range(8)], nodes)
    with pytest.raises(RuntimeError, match="did not converge"):
        propagate_labels(e, n, max_iterations=1)


def test_build_match_groups_semantics(spark):
    candidates = spark.createDataFrame(
        [
            ("a", "b", 0.9, "match"),
            ("b", "c", 0.95, "match"),
            ("x", "y", 0.7, "no_match"),
        ],
        "source_record_id_a string, source_record_id_b string, "
        "overall_score double, final_decision string",
    )
    staged = spark.createDataFrame(
        [("a", 2), ("b", 1), ("c", 3), ("x", 1), ("y", 2)],
        "source_record_id string, source_trust_rank int",
    )
    rows = build_match_groups(candidates, staged).collect()
    by_id = {r.source_record_id: r for r in rows}
    # a,b,c one group; x,y singletons (edge was no_match)
    assert by_id["a"].match_group_id == by_id["b"].match_group_id == by_id["c"].match_group_id
    assert by_id["x"].match_group_id != by_id["y"].match_group_id
    # survivor = lowest trust rank (b has rank 1)
    assert by_id["b"].is_survivor and not by_id["a"].is_survivor
    # group_confidence = avg(0.9, 0.95) rounded 4
    assert abs(by_id["a"].group_confidence - 0.925) < 1e-9
    # singleton confidence is NULL
    assert by_id["x"].group_confidence is None
    # deterministic group id: md5 of the component anchor (min member id)
    import hashlib

    assert by_id["a"].match_group_id == hashlib.md5(b"a").hexdigest()


def test_store_backed_checkpointing_identical_components(
    spark, tmp_path, monkeypatch
):
    """VERDICT r02 item 5: the reliable (CheckpointStore-committed)
    lineage-truncation path must produce exactly the local-checkpoint
    components, and must actually commit labels every store_every rounds
    (both alternating tables written for a long enough chain). The store
    applies only to the loop, so the loop path is forced."""
    import os

    from payor_mdm_spark.sources.catalog import CheckpointStore

    monkeypatch.setattr(clustering, "LOCAL_COLLECT_BYTES", 0)
    nodes = [f"n{i:03d}" for i in range(40)]
    edges = [(f"n{i:03d}", f"n{i+1:03d}") for i in range(39)]
    e = spark.createDataFrame(
        edges, "source_record_id_a string, source_record_id_b string"
    )
    n = spark.createDataFrame([(x,) for x in nodes], "source_record_id string")

    local = {r.source_record_id: r.component for r in propagate_labels(e, n).collect()}

    store = CheckpointStore(spark, str(tmp_path / "cc"))
    durable = {
        r.source_record_id: r.component
        for r in propagate_labels(e, n, store=store, store_every=2).collect()
    }
    assert durable == local
    assert set(local.values()) == {"n000"}
    written = {d for d in os.listdir(tmp_path / "cc") if d.startswith("cc_labels")}
    assert written == {"cc_labels_0", "cc_labels_1"}  # >= 4 rounds -> both slots


def test_collect_small_sizes_before_collecting(spark, monkeypatch):
    # two long columns, a string column and an array<string> column: 8
    # bytes a value plus the strings' UTF-8 bytes ("é" is two), and each
    # array element at 8 bytes plus its UTF-8 bytes
    # -> 100 * 32 + 100 * 3 + 100 * (8 + 1 + 8 + 2) bytes
    df = spark.createDataFrame(
        [(i, i + 1, "aé", ["x", "é"]) for i in range(100)],
        "a long, b long, s string, k array<string>",
    )
    monkeypatch.setattr(clustering, "LOCAL_COLLECT_BYTES", 5400)
    table, frame = clustering.collect_small(df)
    assert table.num_rows == 100 and table.column("s")[0].as_py() == "aé"
    assert table.column("k")[0].as_py() == ["x", "é"]
    # one byte short: nothing is pulled, and the caller gets the
    # materialized frame for its distributed path
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    monkeypatch.setattr(clustering, "LOCAL_COLLECT_BYTES", 5399)
    table, frame = clustering.collect_small(df)
    assert table is None
    assert len(set(tracker.getJobIdsForGroup(None)) - before) == 1
    assert "LogicalRDD" in frame._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(frame.collect()) == sorted(df.collect())
    monkeypatch.setattr(clustering, "LOCAL_COLLECT_BYTES", 0)
    table, frame = clustering.collect_small(df)
    assert table is None and frame is df


def test_min_root_components_at_scale():
    """The driver path's union-find on ~200k edges (a long chain, random
    edges, self-loops, NULL endpoints): one root per component, and that
    root is the component's minimum by a BFS reference."""
    import random
    import time
    from collections import defaultdict, deque

    rng = random.Random(7)
    n = 100_000
    src = list(range(50_000 - 1)) + [rng.randrange(50_000, n) for _ in range(150_000)]
    dst = list(range(1, 50_000)) + [rng.randrange(50_000, n) for _ in range(150_000)]
    src += [5, None, 60_000]
    dst += [5, 7, None]
    t0 = time.perf_counter()
    comp = clustering._min_root_components(src, dst)
    assert time.perf_counter() - t0 < 30

    adj = defaultdict(list)
    for u, v in zip(src, dst):
        if u is not None and v is not None:
            adj[u].append(v)
            adj[v].append(u)
    want = {None: None}
    for start in sorted(x for x in set(src) | set(dst) if x is not None):
        if start in want:
            continue
        seen, queue = {start}, deque([start])
        while queue:
            for y in adj[queue.popleft()]:
                if y not in seen:
                    seen.add(y)
                    queue.append(y)
        for x in seen:
            want[x] = start  # visited in ascending order: start is the min
    assert comp == want
    assert set(comp[x] for x in range(50_000)) == {0}
