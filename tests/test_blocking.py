"""Blocking passes: recall properties, canonical ordering, salting caps."""

from pyspark.sql import functions as F

from payor_mdm_spark.operators.blocking import (
    candidate_pairs,
    minhash_signature,
    sorted_neighborhood_pass,
)


def test_canonical_ordering_and_dedup(spark, pipeline_run):
    pairs = pipeline_run["res"].tables["blocking_pairs"]
    assert pairs.filter(
        F.col("source_record_id_a") >= F.col("source_record_id_b")
    ).count() == 0
    assert pairs.groupBy("source_record_id_a", "source_record_id_b").count().filter(
        "count > 1"
    ).count() == 0
    # pass metadata present
    assert pairs.filter(F.size("matched_block_keys") == 0).count() == 0


def test_shared_exact_key_always_paired(spark):
    staged = spark.createDataFrame(
        [
            ("r1", "AAAAAA", "999999999", "AAA", "AAAA"),
            ("r2", "BBBBBB", "999999999", "BBB", "BBBB"),
            ("r3", "CCCCCC", "111111111", "CCC", "CCCC"),
        ],
        "source_record_id string, name_norm string, block_exact_key string, "
        "block_name_key string, block_zip3_name4 string",
    )
    pairs = candidate_pairs(staged, include_sorted_neighborhood=False,
                            include_minhash=False).collect()
    got = {(r.source_record_id_a, r.source_record_id_b) for r in pairs}
    assert ("r1", "r2") in got
    assert not any("r3" in p for p in got)


def test_sorted_neighborhood_catches_adjacent_names(spark):
    staged = spark.createDataFrame(
        [("r1", "ACME HEALTH PLAN"), ("r2", "ACME HEALTH PLANS"), ("r3", "ZETA GROUP")],
        "source_record_id string, name_norm string",
    )
    pairs = sorted_neighborhood_pass(staged, window=2).collect()
    got = {(r.source_record_id_a, r.source_record_id_b) for r in pairs}
    assert ("r1", "r2") in got


def test_minhash_signature_deterministic(spark):
    df = spark.createDataFrame([("BLUE CROSS",), ("BLUE CROSS",)], "name string")
    sigs = df.select(minhash_signature(F.col("name")).alias("s")).collect()
    assert sigs[0].s == sigs[1].s


def test_minhash_pass_finds_near_identical_names(spark):
    staged = spark.createDataFrame(
        [
            ("r1", "BLUE CROSS BLUE SHIELD OF TEXAS", None, None, None),
            ("r2", "BLUE CROSS BLUE SHIELD OF TEXAS INC", None, None, None),
            ("r3", "COMPLETELY DIFFERENT ENTITY NAME", None, None, None),
        ],
        "source_record_id string, name_norm string, block_exact_key string, "
        "block_name_key string, block_zip3_name4 string",
    )
    # NULL block keys: only the MinHash-LSH pass can propose a pair
    got = {
        (r.source_record_id_a, r.source_record_id_b)
        for r in candidate_pairs(staged, include_sorted_neighborhood=False).collect()
    }
    assert ("r1", "r2") in got
    assert ("r1", "r3") not in got


def test_hot_block_salting_caps_pair_blowup(spark):
    # 60 records in ONE block with cap 10: salting must cut the pair count
    # far below the unsalted 60*59/2 = 1770 while keeping within-bucket pairs
    rows = [(f"r{i:03d}", "SAME", "123456789", "KEY", "KEY4") for i in range(60)]
    staged = spark.createDataFrame(
        rows,
        "source_record_id string, name_norm string, block_exact_key string, "
        "block_name_key string, block_zip3_name4 string",
    )
    pairs = candidate_pairs(
        staged, max_block_size=10, include_sorted_neighborhood=False,
        include_minhash=False,
    )
    n = pairs.count()
    assert 0 < n < 600  # ~6 buckets of ~10 -> ~6 * 45 = 270 expected scale


def test_degenerate_block_kill_test(spark):
    """VERDICT r04 item 8 — adversarial skew measurement: ONE block holds
    20% of all records (the 'XX'-fill / dominant-name-prefix pathology at
    corpus scale). The salted join must (a) cut the hot block's pair count
    to ~cap/blocksize of the unsalted quadratic, and (b) spread the work so
    no single shuffle partition carries a quadratic share — the
    deterministic stand-in for 'max task time stays capped'."""
    from payor_mdm_spark.operators.blocking import _pairs_within_blocks

    n_total, n_hot, cap = 10_000, 2_000, 200
    hot = [(f"h{i:05d}", "HOTKEY") for i in range(n_hot)]
    cold = [(f"c{i:05d}", f"K{i % 2000:04d}") for i in range(n_total - n_hot)]
    members = spark.createDataFrame(
        [(rid, k) for rid, k in hot + cold], "source_record_id string, _k string"
    ).repartition(32)

    salted = _pairs_within_blocks(members, ["_k"], cap)
    hot_pairs = salted.filter(
        F.col("source_record_id_a").startswith("h")
    ).count()
    # ceil(2000/200) = 10 sub-blocks of ~200 -> ~10 * C(200,2) = 199,000
    # expected; allow 2x for hash imbalance. Unsalted would be
    # C(2000,2) = 1,999,000 — an order of magnitude more.
    unsalted_quadratic = n_hot * (n_hot - 1) // 2
    assert 0 < hot_pairs < 400_000, hot_pairs
    assert hot_pairs < unsalted_quadratic / 4

    # every cold 4-record block must still pair exhaustively (salting
    # touches ONLY blocks above the cap — no recall tax on normal blocks)
    cold_pairs = salted.filter(
        F.col("source_record_id_a").startswith("c")
    ).count()
    assert cold_pairs == 2000 * (4 * 3 // 2)

    # work distribution: a join task's work grows with the SQUARE of its
    # largest (key, salt) group, so the per-task quantum is the group
    # size, not the output partition (AQE legitimately coalesces the tiny
    # test output into one partition; at scale it would not). Assert the
    # salting actually splits the 2000-member block into ~cap-sized
    # groups, allowing 2.5x for xxhash64 bucket imbalance.
    from payor_mdm_spark.operators.blocking import _hot_blocks, _with_block_salt

    groups = (
        _with_block_salt(members, _hot_blocks(members, ["_k"], cap), ["_k"], cap)
        .groupBy("_k", "_salt")
        .count()
        .collect()
    )
    biggest_group = max(r["count"] for r in groups)
    assert biggest_group <= 2.5 * cap, (
        f"largest (key, salt) group holds {biggest_group} members — "
        f"salting did not bound per-task join work (cap {cap})"
    )
    n_hot_groups = sum(1 for r in groups if r["_k"] == "HOTKEY")
    assert n_hot_groups == 10  # ceil(2000 / 200) sub-blocks


# ---------------------------------------------------------------------------
# One salted block join for every pass: candidate_pairs runs all key passes
# and the MinHash-LSH bands through ONE self-join keyed on (pass, key). The
# reference below is the per-pass shape it replaced, kept only here: each
# pass runs its own hot-block count and salted self-join, the pass names are
# unioned and collected per pair.
# ---------------------------------------------------------------------------

def _per_pass_reference(staged, max_block_size):
    from payor_mdm_spark.config import (
        MINHASH_BANDS,
        MINHASH_NUM_HASHES,
        MINHASH_SHINGLE_K,
    )
    from payor_mdm_spark.operators.blocking import (
        _pairs_within_blocks,
        _with_signature,
    )

    ids = ["source_record_id_a", "source_record_id_b"]
    key_passes = [
        ("exact_key", "block_exact_key"),
        ("name_state", "block_name_key"),
        ("zip3_name4", "block_zip3_name4"),
        ("abbr_name_state", "block_abbr_key"),
    ]
    passes = []
    for name, col in key_passes:
        if col not in staged.columns:
            continue
        members = staged.filter(
            F.col(col).isNotNull() & (F.col(col) != "")
        ).select(F.col(col).alias("_k"), "source_record_id")
        passes.append(
            _pairs_within_blocks(members, ["_k"], max_block_size)
            .select(*ids).withColumn("_pass", F.lit(name))
        )

    rows_per_band = MINHASH_NUM_HASHES // MINHASH_BANDS
    sig = _with_signature(
        staged.filter(F.col("name_norm").isNotNull() & (F.length("name_norm") > 0))
        .select("source_record_id", "name_norm"),
        "name_norm", MINHASH_NUM_HASHES, MINHASH_SHINGLE_K,
    )
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[
                F.element_at("_sig", b * rows_per_band + r + 1)
                for r in range(rows_per_band)
            ]).alias("bucket"),
        )
        for b in range(MINHASH_BANDS)
    ])
    lsh_members = sig.select("source_record_id", F.explode(bands).alias("_b")).select(
        F.col("_b.band").alias("_band"), F.col("_b.bucket").alias("_bucket"),
        "source_record_id",
    )
    passes.append(
        _pairs_within_blocks(lsh_members, ["_band", "_bucket"], max_block_size)
        .select(*ids).withColumn("_pass", F.lit("minhash_lsh"))
    )
    passes.append(
        sorted_neighborhood_pass(staged).select(*ids)
        .withColumn("_pass", F.lit("sorted_neighborhood"))
    )
    unioned = passes[0]
    for p in passes[1:]:
        unioned = unioned.unionByName(p)
    return unioned.groupBy(*ids).agg(
        F.sort_array(F.collect_set("_pass")).alias("matched_block_keys")
    )


def _rows(df):
    return sorted(
        (r.source_record_id_a, r.source_record_id_b, tuple(r.matched_block_keys))
        for r in df.collect()
    )


def test_one_block_join_equals_per_pass_reference(spark, pipeline_run):
    from payor_mdm_spark.config import MAX_BLOCK_SIZE

    staged = pipeline_run["res"].tables["staged"]
    got = _rows(candidate_pairs(staged))
    assert got == _rows(_per_pass_reference(staged, MAX_BLOCK_SIZE))
    assert got  # the world proposes pairs


def test_one_block_join_equals_reference_with_hot_blocks(spark):
    # 40 records: block_exact_key is one 40-member block and block_name_key
    # a 25-member block, both hot at cap 10, so both passes are salted in
    # the shared join; zip3 blocks (5 members) and the abbr key stay cold
    rows = [
        (
            f"r{i:02d}", f"ACME HEALTH PLAN {i:02d}", "999999999",
            "NK" if i < 25 else f"NK{i}", f"Z{i % 8}", None if i % 3 else f"A{i % 2}",
        )
        for i in range(40)
    ]
    staged = spark.createDataFrame(
        rows,
        "source_record_id string, name_norm string, block_exact_key string, "
        "block_name_key string, block_zip3_name4 string, block_abbr_key string",
    )
    got = _rows(candidate_pairs(staged, max_block_size=10))
    assert got == _rows(_per_pass_reference(staged, 10))
    # salting actually bounded the hot passes: far fewer than C(40, 2)
    exact = [r for r in got if "exact_key" in r[2]]
    assert 0 < len(exact) < 40 * 39 // 2
