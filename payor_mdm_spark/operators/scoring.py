"""Pairwise scoring: deterministic rules first, ensemble for the rest.

Mirrors /root/reference/transform/payor_mdm/models/match/int_match_scored.sql:
pairs are rehydrated against the staged table (two equi joins, J2), classified
by deterministic rules (DET-1 exact-key, DET-2 cms-analog, DET-3 name+state;
:25-31), and scored by the ensemble kernel. overall_score is 1.0 for DET*
pairs, the weighted composite otherwise (:76-79).

Spark-first performance choices (SURVEY §4):
* scoring adds no shuffle of its own to the rehydration: a pair set of at
  most LOCAL_SCORE_PAIRS keys (counted before rehydration, so a larger
  set is never rehydrated only to be sized) is collected once, scored on
  the driver and comes back as one Arrow local relation; a larger one is
  scored lazily by the pandas UDF over the partitions the rehydration
  joins produce;
* DET pairs do NOT pay the string-kernel cost for their decision — but the
  ensemble still runs on all pairs because the reference exposes per-field
  scores for every pair (int_match_scored.sql:69-73); the expensive string
  strategies are confined to one Arrow batch kernel with native fast paths
  (functions/ensemble.py);
* only ~12 of the staged table's columns are read for scoring — Catalyst
  prunes the rest out of the scan (int_match_scored.sql:13-22 analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from payor_mdm_spark.functions.ensemble import apply_ensemble

# the most pairs score_pairs scores on the driver. tools/profile_scoring.py
# (score_pairs plus a noop write; first rep cold, then the median of 5
# warm reps; one process per arm and size, 4-core host), driver kernel vs
# pandas UDF: 1,343 pairs cold 1.17 vs 2.00 s, warm 0.60 vs 0.62; 3,002
# pairs 1.20 vs 1.94, warm 0.71 vs 0.67; 5,763 pairs 1.51 vs 1.94, warm
# 0.78 vs 0.70; 8,440 pairs 1.60 vs 2.07, warm 0.89 vs 0.79. The kernel
# wins every cold call (no worker boot; in an ER run scoring is the only
# Python work, so its first call is cold) and loses to warm workers past
# about 3k pairs (an earlier run of the same probe: 0.64 vs 0.66 at 3,002,
# 0.79 vs 0.75 at 5,763). The bound sits near that warm crossover, where
# a cold call still saves ~0.5 s, and covers an incremental delta and a
# 100-entity full run (1,343 pairs).
LOCAL_SCORE_PAIRS = 4096

_SCORING_FIELDS = [
    "name_norm", "exact_key_1", "exact_key_2", "addr_line_1", "city",
    "state_code", "zip_code", "phone",
]


def _addr_concat(side: str) -> F.Column:
    """address_line_1 || ' ' || city || ' ' || state || ' ' || zip
    (int_match_scored.sql:39-42)."""
    return F.concat_ws(
        " ",
        F.col(f"addr_line_1_{side}"),
        F.coalesce(F.col(f"city_{side}"), F.lit("")),
        F.coalesce(F.col(f"state_code_{side}"), F.lit("")),
        F.coalesce(F.col(f"zip_code_{side}"), F.lit("")),
    )


def rehydrate_pairs(pairs: DataFrame, staged: DataFrame) -> DataFrame:
    """Join both sides' scoring fields onto the pair list (J2)."""
    cols = ["source_record_id"] + _SCORING_FIELDS
    slim = staged.select(*cols)
    a = slim.select([F.col(c).alias(f"{c}_a" if c != "source_record_id" else "source_record_id_a") for c in cols])
    b = slim.select([F.col(c).alias(f"{c}_b" if c != "source_record_id" else "source_record_id_b") for c in cols])
    return pairs.join(a, "source_record_id_a").join(b, "source_record_id_b")


def det_rule_col() -> F.Column:
    """Deterministic rule classification (int_match_scored.sql:25-31)."""
    return (
        F.when(
            F.col("exact_key_1_a").isNotNull()
            & (F.col("exact_key_1_a") == F.col("exact_key_1_b")),
            "DET-1",
        )
        .when(
            F.col("exact_key_2_a").isNotNull()
            & (F.col("exact_key_2_a") == F.col("exact_key_2_b")),
            "DET-2",
        )
        .when(
            (F.col("name_norm_a") == F.col("name_norm_b"))
            & (F.col("state_code_a") == F.col("state_code_b")),
            "DET-3",
        )
        .otherwise("FUZZY")
    )


def _geo_contradiction(prefix: str = "") -> F.Column:
    """An explicit geographic CONTRADICTION between the pair's sides: state,
    city or zip5 known on both sides and different. Null-safe on purpose —
    missing geography is absence of evidence, not a contradiction. Reads
    ``{prefix}{field}_a`` / ``{prefix}{field}_b``."""

    def _mismatch(field: str) -> F.Column:
        a, b = F.col(f"{prefix}{field}_a"), F.col(f"{prefix}{field}_b")
        return a.isNotNull() & b.isNotNull() & (a != b)

    return _mismatch("state_code") | _mismatch("city") | _mismatch("zip_code")


def add_geo_contradiction(scored: DataFrame, staged: DataFrame) -> DataFrame:
    """Backfill ``geo_contradiction`` onto a scored-pairs frame that predates
    the column (a store committed before the borderline geo gate landed).

    Recomputed from staged rather than defaulted to false: run_incremental
    only calls this on REUSED pairs, whose staged attributes are by
    construction unchanged, so the recompute is bit-identical to what
    score_pairs would have produced for them. run_incremental also calls it
    unconditionally (dropping any committed value first) so that a SEMANTIC
    upgrade of the contradiction definition — e.g. round 4 adding zip5 —
    reaches pairs committed under the old definition."""
    if "geo_contradiction" in scored.columns:
        scored = scored.drop("geo_contradiction")
    slim = staged.select("source_record_id", "state_code", "city", "zip_code")
    a = slim.select(
        F.col("source_record_id").alias("source_record_id_a"),
        F.col("state_code").alias("_geo_state_code_a"),
        F.col("city").alias("_geo_city_a"),
        F.col("zip_code").alias("_geo_zip_code_a"),
    )
    b = slim.select(
        F.col("source_record_id").alias("source_record_id_b"),
        F.col("state_code").alias("_geo_state_code_b"),
        F.col("city").alias("_geo_city_b"),
        F.col("zip_code").alias("_geo_zip_code_b"),
    )
    return (
        scored.join(a, "source_record_id_a").join(b, "source_record_id_b")
        .withColumn("geo_contradiction", _geo_contradiction("_geo_"))
        .drop("_geo_state_code_a", "_geo_city_a", "_geo_zip_code_a",
              "_geo_state_code_b", "_geo_city_b", "_geo_zip_code_b")
    )


def score_pairs(pairs: DataFrame, staged: DataFrame,
                abbrevs: dict[str, str] | None = None,
                n_pairs: int | None = None) -> DataFrame:
    """Blocking pairs + staged records -> scored pairs.

    ``abbrevs``: abbreviation table for the ensemble router (None ->
    config.ABBREVS). The pipeline threads the seeded ABBREVIATION_DICT
    table through here so steward MERGE upserts change match results
    without a code change (sources/steward.seed_abbreviation_dict).

    ``n_pairs``: the row count of ``pairs`` when the caller already has it
    (run_incremental observes it on its rescore set); otherwise at most
    LOCAL_SCORE_PAIRS + 1 keys are collected here, and Spark stops
    scanning partitions once it has them. A set of at most
    LOCAL_SCORE_PAIRS pairs is scored on the driver, eagerly, from those
    collected keys, so a lazy ``pairs`` is evaluated once; a larger one
    returns the lazy pandas-UDF plan over ``pairs``."""
    if n_pairs is None:
        head = pairs.limit(LOCAL_SCORE_PAIRS + 1).collect()
        n_pairs = len(head)
        if n_pairs <= LOCAL_SCORE_PAIRS:
            import pyarrow as pa
            from pyspark.sql.pandas.types import to_arrow_schema

            # the whole set, as an Arrow local relation
            pairs = pairs.sparkSession.createDataFrame(
                pa.Table.from_pylist(
                    [r.asDict(recursive=True) for r in head],
                    schema=to_arrow_schema(pairs.schema),
                ),
                pairs.schema,
            )
    df = rehydrate_pairs(pairs, staged).withColumn("match_rule", det_rule_col())
    df = (
        df.withColumn("name_a", F.col("name_norm_a"))
        .withColumn("name_b", F.col("name_norm_b"))
        .withColumn("addr_a", F.when(F.col("addr_line_1_a").isNotNull(), _addr_concat("a")))
        .withColumn("addr_b", F.when(F.col("addr_line_1_b").isNotNull(), _addr_concat("b")))
    )
    scored = apply_ensemble(
        df, abbrevs=abbrevs, on_driver=n_pairs <= LOCAL_SCORE_PAIRS
    )
    scored = scored.withColumn(
        "overall_score",
        F.when(F.col("match_rule") != "FUZZY", F.lit(1.0)).otherwise(F.col("composite")),
    )
    return scored.select(
        "source_record_id_a", "source_record_id_b", "match_rule",
        "matched_block_keys",
        "name_a", "name_b",
        F.col("exact_key_1_a"), F.col("exact_key_1_b"),
        F.col("phone_a"), F.col("phone_b"),
        F.col("exact_key_2_a"), F.col("exact_key_2_b"),
        F.col("score_name"),
        F.col("score_exact_key_1"),
        F.col("score_address"),
        F.col("score_phone"),
        F.col("score_exact_key_2"),
        "overall_score",
        "winning_name_strategy", "winning_addr_strategy", "strategies_used",
        # second factor for borderline automatches
        _geo_contradiction().alias("geo_contradiction"),
    )
