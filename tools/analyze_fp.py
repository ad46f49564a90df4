"""Diagnose the false-positive tail: which match edges cross entities.

Runs the pipeline on a generated world (like tools/eval_f1.py), then joins
the ACCEPTED match edges (final_decision = 'match') to ground truth and
reports the cross-entity ("bad") edges by rule, winning strategy, score
band, and cheap second-factor field agreement — the evidence base for
threshold calibration (VERDICT r02 item 4).

Usage: python tools/analyze_fp.py [n_entities] [master] [seed]
"""

from __future__ import annotations

import os
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from payor_mdm_spark.datagen.transcripts import generate_world, write_world
from payor_mdm_spark.plans.pipeline import run_pipeline
from payor_mdm_spark.session import get_spark
from payor_mdm_spark.sources.catalog import CheckpointStore


def main(n_entities=30000, master="local[32]", seed=42):
    spark = get_spark(master=master, shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    d = tempfile.mkdtemp()
    w = generate_world(seed, n_entities)
    tp_path, gt_path = write_world(w, d)
    turns = spark.read.parquet(tp_path)
    store = CheckpointStore(spark, d + "/ckpt")
    run_pipeline(spark, turns, store, collect_metrics=False)

    con = duckdb.connect()
    con.execute(f"create view truth as select * from '{gt_path}'")
    con.execute(
        f"create view cand as select * from '{d}/ckpt/match_candidates/*.parquet'"
    )
    con.execute(f"create view staged as select * from '{d}/ckpt/staged/*.parquet'")
    con.execute(
        """
        create view edges as
        select c.*, ta.entity_id as ent_a, tb.entity_id as ent_b,
               sa.state_code as state_a, sb.state_code as state_b,
               sa.zip_code as zip_a, sb.zip_code as zip_b,
               sa.city as city_a, sb.city as city_b
        from cand c
        join staged sa on sa.source_record_id = c.source_record_id_a
        join staged sb on sb.source_record_id = c.source_record_id_b
        join truth ta on sa.source_id = ta.conv_id
        join truth tb on sb.source_id = tb.conv_id
        where c.final_decision = 'match'
        """
    )
    total, bad = con.execute(
        "select count(*), sum(case when ent_a <> ent_b then 1 else 0 end) from edges"
    ).fetchone()
    print(f"match edges: {total}, cross-entity (bad): {bad}")

    print("\nbad edges by match_rule:")
    for r in con.execute(
        "select match_rule, count(*) from edges where ent_a <> ent_b group by 1 order by 2 desc"
    ).fetchall():
        print("  ", r)
    print("\nbad edges by winning strategies / score band:")
    for r in con.execute(
        """
        select winning_name_strategy, winning_addr_strategy,
               round(overall_score, 2) as s, count(*)
        from edges where ent_a <> ent_b group by 1,2,3 order by 4 desc limit 20
        """
    ).fetchall():
        print("  ", r)
    print("\nbad edges: second-factor agreement (state / zip / city):")
    for r in con.execute(
        """
        select state_a = state_b as same_state,
               zip_a = zip_b as same_zip, city_a = city_b as same_city, count(*)
        from edges where ent_a <> ent_b group by 1,2,3 order by 4 desc
        """
    ).fetchall():
        print("  ", r)
    print("\nGOOD edges (for contrast): second-factor agreement:")
    for r in con.execute(
        """
        select state_a = state_b as same_state,
               zip_a = zip_b as same_zip, city_a = city_b as same_city, count(*)
        from edges where ent_a = ent_b group by 1,2,3 order by 4 desc
        """
    ).fetchall():
        print("  ", r)
    print("\nscore distribution of bad vs good FUZZY edges:")
    for r in con.execute(
        """
        select ent_a <> ent_b as is_bad, round(overall_score, 2) as s, count(*)
        from edges where match_rule = 'FUZZY' group by 1,2 order by 1,2
        """
    ).fetchall():
        print("  ", r)
    print("\nsample bad edges:")
    for r in con.execute(
        """
        select name_a, name_b, overall_score, match_rule, winning_name_strategy,
               score_name, score_address, score_phone, state_a, state_b,
               zip_a, zip_b
        from edges where ent_a <> ent_b order by overall_score desc limit 15
        """
    ).fetchall():
        print("  ", r)
    print("\nworld dir:", d)


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 30000
    master = sys.argv[2] if len(sys.argv) > 2 else "local[32]"
    seed = int(sys.argv[3]) if len(sys.argv) > 3 else 42
    main(n, master, seed)
