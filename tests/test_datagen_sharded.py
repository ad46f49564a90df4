"""Sharded world generation: the distributed (mapInPandas) path must be
bit-equal to the driver-side twin, and shards must compose without
collisions (VERDICT r03 item 3 — unlocks n >= 1M-entity worlds)."""

from __future__ import annotations

from payor_mdm_spark.datagen.transcripts import (
    FAMILY_ID_STRIDE, distributed_world, generate_world_shard,
    sharded_world_tables, world_to_tables,
)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect())


def _table_rows(tbl):
    pdf = tbl.to_pandas()
    for c in pdf.columns:  # Spark collects naive-UTC; drop the tz marker
        if str(pdf[c].dtype).startswith("datetime64") and getattr(pdf[c].dt, "tz", None):
            pdf[c] = pdf[c].dt.tz_localize(None)
    cols = sorted(pdf.columns)
    return sorted(tuple(str(v) for v in row) for row in pdf[cols].itertuples(index=False))


def test_distributed_equals_driver_twin_bit_for_bit(spark):
    """The n=3000-scale equality pin: same (seed, n_families, shard size)
    through mapInPandas and through local concatenation must yield the
    identical turn AND truth tables."""
    seed, n_fam, fps = 42, 1350, 512  # ~3000 entities, 3 shards
    turns_df, truth_df = distributed_world(spark, seed, n_fam, fps)
    w = sharded_world_tables(seed, n_fam, fps)
    turns_tbl, truth_tbl = world_to_tables(w)

    assert _rows(turns_df) == _table_rows(turns_tbl)
    assert _rows(truth_df) == _table_rows(truth_tbl)
    # scale sanity: the family grid landed in the expected entity range
    n_entities = len(w.entities)
    assert 2500 <= n_entities <= 4500


def test_shards_compose_without_collisions(spark):
    seed, n_fam, fps = 7, 96, 16  # 6 shards
    w = sharded_world_tables(seed, n_fam, fps)
    eids = [e.entity_id for e in w.entities]
    assert len(eids) == len(set(eids)), "entity ids must be globally unique"
    convs = [t["conv_id"] for t in w.truth]
    assert len(convs) == len(set(convs)), "conv ids must be globally unique"
    # curated families only materialize once (global indices 0..7)
    curated = [e for e in w.entities if e.family_id.startswith("fam-")]
    assert len({e.family_id for e in curated}) == 8
    # every shard contributed
    shard0 = generate_world_shard(seed, 0, fps, n_fam)
    shard5 = generate_world_shard(seed, 5, fps, n_fam)
    assert shard0.entities and shard5.entities
    # shard content is a pure function of (seed, shard): regeneration is
    # identical (the property the executor-side path relies on)
    again = generate_world_shard(seed, 5, fps, n_fam)
    assert [e.entity_id for e in shard5.entities] == [e.entity_id for e in again.entities]
    assert shard5.turns == again.turns


def test_orphan_ids_stay_out_of_family_range(spark):
    seed, n_fam, fps = 3, 40, 16
    w = sharded_world_tables(seed, n_fam, fps)
    family_ceiling = n_fam * FAMILY_ID_STRIDE
    orphans = [e for e in w.entities if e.family_id.startswith("orphan-")]
    assert orphans, "shards must emit orphans"
    assert all(e.entity_id > family_ceiling for e in orphans)


def test_pair_metrics_closed_form():
    """The O(n) cluster-size formula in tools/eval_f1.py must equal the
    naive all-pairs enumeration (which it replaced to make n=300k sweeps
    feasible) on a fixture with splits, merges, and exact clusters."""
    import os
    import sys

    import duckdb

    sys.path.insert(0, os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
    from eval_f1 import PAIR_METRICS_SQL

    con = duckdb.connect()
    # truth: entities {A: 3 convs, B: 2, C: 1}; prediction merges part of
    # A with B (split + wrong-merge) and nails C
    con.execute(
        """
        create table truth as select * from (values
          ('c1', 1), ('c2', 1), ('c3', 1), ('c4', 2), ('c5', 2), ('c6', 3)
        ) t(conv_id, entity_id)
        """
    )
    con.execute(
        """
        create table xref as select * from (values
          ('c1', 10), ('c2', 10), ('c3', 20), ('c4', 20), ('c5', 20), ('c6', 30)
        ) x(source_id, master_entity_id)
        """
    )
    got = con.execute(PAIR_METRICS_SQL).fetchone()
    naive = con.execute(
        """
        with labeled as (
          select t.conv_id, t.entity_id, x.master_entity_id
          from truth t join xref x on x.source_id = t.conv_id
        ), pairs as (
          select a.entity_id = b.entity_id as actual,
                 a.master_entity_id = b.master_entity_id as predicted
          from labeled a join labeled b on a.conv_id < b.conv_id
        )
        select sum(case when actual and predicted then 1 else 0 end),
               sum(case when not actual and predicted then 1 else 0 end),
               sum(case when actual and not predicted then 1 else 0 end)
        from pairs
        """
    ).fetchone()
    assert tuple(map(int, got)) == tuple(map(int, naive)) == (2, 2, 2)


def test_staged_table_matches_between_paths(spark, tmp_path):
    """End-to-end: staging the distributed turns equals staging the
    driver-twin turns (the VERDICT's 'bit-equal staged table' criterion,
    checked at a smaller size to keep the suite fast — the turn-level
    equality above covers n~3000)."""
    from payor_mdm_spark.operators.rollup import rollup_conversations
    from payor_mdm_spark.operators.staging import stage_records

    seed, n_fam, fps = 11, 60, 16
    turns_df, _ = distributed_world(spark, seed, n_fam, fps)
    w = sharded_world_tables(seed, n_fam, fps)
    turns_tbl, _ = world_to_tables(w)
    import pyarrow.parquet as pq

    p = str(tmp_path / "twin_turns.parquet")
    pq.write_table(turns_tbl, p)
    staged_dist = stage_records(spark, rollup_conversations(turns_df))
    staged_twin = stage_records(spark, rollup_conversations(spark.read.parquet(p)))
    assert _rows(staged_dist) == _rows(staged_twin)
