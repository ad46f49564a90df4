"""Staging standardization: rolled-up conversations -> canonical records.

The Spark expression of the reference's staging layer
(/root/reference/transform/payor_mdm/models/staging/stg_*.sql): per-source
trust ranks, name cleaning (legal-suffix strip), digits-only scrubs,
single-line address parsing (split_part analog, stg_claims_payors.sql:56-64),
full-state-name lookup via a literal map (P10, stg_claims_payors.sql:2-18),
status booleans, lenient date casts, and persisted blocking keys
(stg_payors_unioned.sql:42-51).

Everything is native column expressions — zero Python in this stage.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from payor_mdm_spark.config import SOURCE_TRUST_RANK, STATE_NAME_TO_CODE
from payor_mdm_spark.functions import textnorm as tn

# conv ids carry their feed tag: conv-{source}-{seq} (datagen analog of the
# reference's schema-per-source landing tables).
_SOURCE_RE = r"^conv-([a-z_]+)-"


def _literal_map(mapping: dict) -> Column:
    return F.create_map(*[F.lit(x) for kv in mapping.items() for x in kv])


def _trust_rank_col() -> Column:
    return _literal_map(SOURCE_TRUST_RANK)[F.col("source_system")]


def stage_records(spark: SparkSession, rolled: DataFrame) -> DataFrame:
    """Rolled conversations -> staged canonical entity records."""
    df = rolled.withColumn(
        "source_system", F.regexp_extract(F.col("conv_id"), _SOURCE_RE, 1)
    )
    df = df.withColumn("source_id", F.col("conv_id"))
    df = df.withColumn(
        "source_record_id", tn.source_record_id(F.col("source_system"), F.col("conv_id"))
    )
    df = df.withColumn("source_trust_rank", _trust_rank_col())

    # --- name standardization (P2/P3) ---
    df = df.withColumn("name_norm", tn.clean_name(F.col("name_raw")))
    df = df.withColumn("name_alt", F.trim(F.col("name_alt_raw")))

    # --- identifiers (P4) ---
    df = df.withColumn("exact_key_1", tn.nullif_empty(tn.digits_only(F.col("exact_key_1_raw"))))
    df = df.withColumn("exact_key_2", F.upper(F.trim(F.col("tool_key_raw"))))

    # --- single-line address parse (P6/P7): "{line1}, {city}, {state} {zip}"
    # or the claims 4-part form "{line1}, {city}, {state}, {zip}" ---
    addr = F.col("addr_full_raw")
    zip_raw = F.nullif(
        F.regexp_extract(addr, r"([0-9][0-9-]{3,10})\s*$", 1), F.lit("")
    )
    rest = F.trim(
        F.regexp_replace(
            F.regexp_replace(addr, r",?\s*[0-9][0-9-]{3,10}\s*$", ""),
            r",\s*$", "",
        )
    )
    parts = F.split(rest, r",\s*")
    df = (
        df.withColumn("addr_line_1", F.trim(F.element_at(parts, 1)))
        .withColumn("city", F.upper(F.trim(F.element_at(parts, 2))))
        .withColumn("state_raw", F.trim(F.element_at(parts, 3)))
        .withColumn("zip_code", tn.zip5(zip_raw))
        .withColumn("zip_plus_4", tn.zip_plus4(zip_raw))
    )

    # --- state normalization: 2-char codes pass through, full names resolve
    # through the 51-entry name -> code map (P8/P10); a name not in the map,
    # or a NULL state, gives NULL ---
    state_raw = F.col("state_raw")
    df = df.withColumn(
        "state_code",
        F.when(F.length(state_raw) == 2, tn.state2(state_raw))
        .otherwise(_literal_map(STATE_NAME_TO_CODE)[F.upper(state_raw)]),
    ).drop("state_raw")

    # --- contact / status / dates (P4, P8, P9, P11) ---
    df = df.withColumn("phone", tn.phone10(F.col("phone_raw")))
    df = df.withColumn(
        "is_active",
        F.when(F.col("status_raw").isNotNull(), F.col("status_raw") == "active"),
    )
    df = df.withColumn("effective_date", tn.try_to_date(F.col("effective_raw")))
    df = df.withColumn("parent_ref", F.trim(F.col("parent_ref_raw")))

    # fields without a transcript analog stay present-but-null to preserve
    # the canonical record shape (FIXTURES.md §2)
    df = (
        df.withColumn("npi", F.lit(None).cast("string"))
        .withColumn("website", F.lit(None).cast("string"))
        .withColumn("entity_type", F.lit(None).cast("string"))
        .withColumn("line_of_business", F.lit(None).cast("string"))
        .withColumn("addr_line_2", F.lit(None).cast("string"))
        .withColumn("termination_date", F.lit(None).cast("date"))
    )

    # --- persisted blocking keys (P13, stg_payors_unioned.sql:42-51) ---
    df = (
        df.withColumn("block_name_key", tn.block_name_key(F.col("name_norm"), F.col("state_code")))
        .withColumn("block_exact_key", F.col("exact_key_1"))
        .withColumn("block_zip3_name4", tn.block_zip3_name4(F.col("zip_code"), F.col("name_norm")))
        .withColumn("block_abbr_key", tn.block_abbr_key(F.col("name_norm"), F.col("state_code")))
    )

    return df.select(
        "source_record_id", "source_system", "source_id",
        "name_raw", "name_norm", "name_alt",
        "exact_key_1", "exact_key_2", "npi",
        "addr_line_1", "addr_line_2", "city", "state_code", "zip_code",
        "zip_plus_4", "phone", "website", "entity_type", "line_of_business",
        "parent_ref", "is_active", "effective_date", "termination_date",
        "block_name_key", "block_exact_key", "block_zip3_name4",
        "block_abbr_key",
        "source_trust_rank", "loaded_at", "turns", "n_turns",
    )
