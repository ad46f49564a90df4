"""Staging standardization kernels against hand-built turn fixtures."""

import datetime

import pytest
from pyspark.sql import functions as F

from payor_mdm_spark.operators.rollup import rollup_conversations
from payor_mdm_spark.operators.staging import stage_records
from payor_mdm_spark.streaming.ingest import TURN_SCHEMA

TS = datetime.datetime(2024, 5, 1, 12, 0, 0)


def _mk_turns(spark, rows):
    return spark.createDataFrame(rows, TURN_SCHEMA)


def _stage_one(spark, utterances, conv_id="conv-crm-000001"):
    rows = []
    for i, (text, tool) in enumerate(utterances):
        rows.append((conv_id, i, "user" if i % 2 == 0 else "assistant", text,
                     tool, TS + datetime.timedelta(seconds=i)))
    staged = stage_records(spark, rollup_conversations(_mk_turns(spark, rows)))
    return staged.collect()[0]


def test_name_normalization_strips_legal_suffix(spark):
    r = _stage_one(spark, [("Hi, I'm calling about Acme Health Plan, Inc..", None)])
    assert r.name_raw == "Acme Health Plan, Inc."
    assert r.name_norm == "ACME HEALTH PLAN"
    assert r.source_system == "crm"
    assert r.source_record_id == "crm:conv-crm-000001"
    assert r.source_trust_rank == 1


def test_tax_and_phone_scrub(spark):
    r = _stage_one(
        spark,
        [
            ("Hi, I'm calling about Acme Health.", None),
            ("ok", None),
            ("Our tax id is 12-3456789.", None),
            ("ok", None),
            ("You can reach us at (415) 555-1234.", None),
        ],
    )
    assert r.exact_key_1 == "123456789"
    assert r.phone == "4155551234"


def test_single_line_address_parse_with_full_state_name(spark):
    r = _stage_one(
        spark,
        [
            ("Hi, I'm calling about Acme Health.", None),
            ("ok", None),
            ("The address on file is 100 Main Street, Springfield, Illinois, 62704-1234.", None),
        ],
        conv_id="conv-claims-000009",
    )
    assert r.addr_line_1 == "100 Main Street"
    assert r.city == "SPRINGFIELD"
    assert r.state_code == "IL"       # state-name map (P10)
    assert r.zip_code == "62704"
    assert r.zip_plus_4 == "1234"
    assert r.source_trust_rank == 2


def test_two_letter_state_and_blocking_keys(spark):
    r = _stage_one(
        spark,
        [
            ("Hi, I'm calling about Acme Health Plan.", None),
            ("ok", None),
            ("We are located at 1 Oak Ave, Dover, DE 19901.", None),
        ],
    )
    assert r.state_code == "DE"
    assert r.block_name_key == "ACME H" + "DE"
    assert r.block_zip3_name4 == "199" + "ACME"
    assert r.block_exact_key is None


@pytest.mark.parametrize(
    "state, want",
    [
        ("Illinois", "IL"),
        ("illinois", "IL"),      # names match case-insensitively
        ("New York", "NY"),
        ("DE", "DE"),            # 2-char codes pass through, upper-cased
        ("de", "DE"),
        ("Narnia", None),        # unknown name -> NULL
        ("Illinoi", None),       # no prefix or fuzzy match
    ],
)
def test_state_code_semantics(spark, state, want):
    r = _stage_one(
        spark,
        [
            ("Hi, I'm calling about Acme Health.", None),
            ("ok", None),
            (f"We are located at 1 Oak Ave, Dover, {state} 19901.", None),
        ],
    )
    assert r.state_code == want


def test_state_code_null_without_address(spark):
    r = _stage_one(spark, [("Hi, I'm calling about Acme Health.", None)])
    assert r.state_code is None


def test_blocking_key_null_fills(spark):
    r = _stage_one(spark, [("Hi, I'm calling about Acme Health Plan.", None)])
    assert r.block_name_key == "ACME H" + "XX"
    assert r.block_zip3_name4 == "XXX" + "ACME"


def test_tool_key_and_status_and_date(spark):
    r = _stage_one(
        spark,
        [
            ("Hi, I'm calling about Acme Health.", None),
            ("ok", "plan_lookup:h1234-001"),
            ("The plan is currently inactive.", None),
            ("ok", None),
            ("Coverage has been effective since 2019-03-01.", None),
        ],
    )
    assert r.exact_key_2 == "H1234-001"
    assert r.is_active is False
    assert r.effective_date == datetime.date(2019, 3, 1)


def test_staged_unique_ids(spark, pipeline_run):
    staged = pipeline_run["res"].tables["staged"]
    assert (
        staged.groupBy("source_record_id").count().filter("count > 1").count() == 0
    )
    assert staged.filter(F.col("source_trust_rank").isNull()).count() == 0
