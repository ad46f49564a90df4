"""Multi-pass blocking: candidate-pair generation with explicit skew control.

Re-expresses the reference's OR-of-blocking-keys self-join
(/root/reference/transform/payor_mdm/models/match/int_blocking_pairs.sql:13-31)
Spark-first. A literal translation of the OR-join would force a
BroadcastNestedLoopJoin; instead every blocking key becomes one slice of a
single members frame [_pass, _k, source_record_id] and ONE equi self-join
keyed on (_pass, _k) proposes the pairs of every key pass at once
(semantically identical — the reference's `select distinct` already
collapses multi-key hits; SURVEY §2.3 J1). Two additional passes extend
recall per the north_star: a deterministic MinHash-LSH pass over name
shingles, whose (band, bucket) blocks join the same members frame, and a
sorted-neighborhood window pass — both pure native column ops (no Python).

Skew (north_rule: explicit salting of hot blocking keys): the reference's
null fill-ins ('XX' state, 'XXX' zip3) and dominant name prefixes create
mega-blocks that would quadratically blow up the self-join. One
aggregation counts every (pass, key) block; keys whose block exceeds
``max_block_size`` are salted — members are hashed into ceil(n/cap)
sub-blocks and pairs are generated only within a sub-block. This bounds any
single join task at ~cap^2 pair candidates (documented recall trade on
pathological blocks only; normal blocks are unaffected). AQE skew-join
handles residual imbalance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from payor_mdm_spark.config import (
    MAX_BLOCK_SIZE,
    MINHASH_BANDS,
    MINHASH_NUM_HASHES,
    MINHASH_SHINGLE_K,
    SORTED_NEIGHBORHOOD_WINDOW,
)

_ID = "source_record_id"


def _with_block_salt(
    members: DataFrame, hot: DataFrame, key_cols: list[str], max_block_size: int
) -> DataFrame:
    """Attach the per-member sub-block salt for hot blocks: salt =
    pmod(xxhash64(id), ceil(block_count / cap)), 0 for normal blocks.

    THE single definition of the salting formula — the batch self-join
    (_pairs_within_blocks) and the incremental new-vs-all join
    (dedup._pairs_new_vs_all) must compute identical salts or the pinned
    incremental == batch equivalence silently breaks.
    """
    return members.join(F.broadcast(hot), key_cols, "left").withColumn(
        "_salt",
        F.when(F.col("_blk_cnt").isNull(), F.lit(0)).otherwise(
            F.pmod(
                F.xxhash64(F.col(_ID)),
                F.ceil(F.col("_blk_cnt") / F.lit(max_block_size)).cast("long"),
            ).cast("int")
        ),
    ).drop("_blk_cnt")


def _hot_blocks(
    members: DataFrame, key_cols: list[str], max_block_size: int
) -> DataFrame:
    counts = members.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("_blk_cnt"))
    return counts.filter(F.col("_blk_cnt") > max_block_size)


def _pairs_within_blocks(
    members: DataFrame, key_cols: list[str], max_block_size: int
) -> DataFrame:
    """Equi self-join within blocks, with hot blocks salted.

    ``members``: DataFrame[key_cols..., source_record_id]. Returns
    DataFrame[key_cols..., source_record_id_a, source_record_id_b].
    """
    hot = _hot_blocks(members, key_cols, max_block_size)
    salted = _with_block_salt(members, hot, key_cols, max_block_size)

    join_keys = key_cols + ["_salt"]
    a = salted.select(*[F.col(c) for c in join_keys], F.col(_ID).alias(f"{_ID}_a"))
    b = salted.select(*[F.col(c) for c in join_keys], F.col(_ID).alias(f"{_ID}_b"))
    return (
        a.join(b, join_keys, "inner")
        # canonical ordering halves the pair space and kills self-pairs
        # (int_blocking_pairs.sql:19)
        .filter(F.col(f"{_ID}_a") < F.col(f"{_ID}_b"))
        .select(*key_cols, f"{_ID}_a", f"{_ID}_b")
    )


def sorted_neighborhood_pass(
    staged: DataFrame, window: int = SORTED_NEIGHBORHOOD_WINDOW
) -> DataFrame:
    """Pair each record with its next `window` neighbors in name order.

    Scale-safe: rather than one global sort (a single-partition window),
    records are partitioned by a 2-char name prefix and sorted within the
    partition — the standard blocked sorted-neighborhood hybrid. Boundary
    pairs across prefix partitions are intentionally forgone (the key-equality
    and LSH passes cover them).
    """
    from pyspark.sql.window import Window

    recs = staged.filter(
        F.col("name_norm").isNotNull() & (F.length("name_norm") > 0)
    ).select(
        F.substring("name_norm", 1, 2).alias("_pfx"), F.col("name_norm"), F.col(_ID)
    )
    w = Window.partitionBy("_pfx").orderBy(F.col("name_norm"), F.col(_ID))
    neighbor_cols = [
        F.lead(_ID, i).over(w).alias(f"_n{i}") for i in range(1, window + 1)
    ]
    exploded = (
        recs.select(F.col(_ID), *neighbor_cols)
        .withColumn("_nbr", F.array_compact(F.array(*[F.col(f"_n{i}") for i in range(1, window + 1)])))
        .select(F.col(_ID), F.explode("_nbr").alias("_other"))
    )
    return (
        exploded.select(
            F.least(F.col(_ID), F.col("_other")).alias(f"{_ID}_a"),
            F.greatest(F.col(_ID), F.col("_other")).alias(f"{_ID}_b"),
        )
        .filter(F.col(f"{_ID}_a") < F.col(f"{_ID}_b"))
    )


def _shingles(col: Column, k: int) -> Column:
    """Character k-shingles as a native array expression (no UDF)."""
    padded = F.upper(col)
    n = F.length(padded)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: padded.substr(i, F.lit(k)),
        ),
    ).otherwise(F.array(padded))


def signature_from_shingles(sh: Column, num_hashes: int) -> Column:
    """MinHash signature from an ALREADY MATERIALIZED shingle array column:
    h_j(doc) = min over shingles of xxhash64(shingle, j), all num_hashes
    mins computed in ONE traversal (VERDICT r01 item 4 — the round-1 form
    ran num_hashes separate transform+array_min passes over the array).

    Single F.aggregate: the accumulator is the length-num_hashes running-min
    array; each shingle contributes transform(sequence(0, n-1), j ->
    xxhash64(s, j)) zipped in with least(). Hash values are bit-identical
    to the unrolled form (same (shingle, int-seed) xxhash64 inputs), so
    LSH buckets, golden fixtures and recorded pair sets are unchanged.
    Pass a real column reference, not the shingle expression — otherwise
    Catalyst inlines the shingling into the aggregate."""
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    max_long = F.lit(2**63 - 1).cast("long")
    init = F.array_repeat(max_long, num_hashes)
    return F.aggregate(
        sh,
        init,
        lambda acc, s: F.zip_with(
            acc,
            F.transform(seeds, lambda j: F.xxhash64(s, j.cast("int"))),
            lambda x, y: F.least(x, y),
        ),
    )


def minhash_signature(col: Column, num_hashes: int = MINHASH_NUM_HASHES,
                      k: int = MINHASH_SHINGLE_K) -> Column:
    """Deterministic MinHash signature over char k-shingles, fully native.

    NOTE: prefer materializing the shingle array in a separate projection
    and calling signature_from_shingles — this convenience form repeats the
    shingling expression per hash function."""
    return signature_from_shingles(_shingles(col, k), num_hashes)


def _scan_splits_below(df: DataFrame, parallelism: int) -> bool:
    """True when the hashing input has fewer scan splits than cores AND
    learning that is free.

    ``df.rdd.getNumPartitions()`` is the exact split count, but when the
    plan contains an Exchange the RDD conversion under AQE materializes the
    upstream shuffle stages just to learn the number (ADVICE r03 — the
    incremental-dedup delta side carries a window shuffle). So inspect the
    pre-AQE physical plan first (a pure planning step, no job): any
    Exchange means the output partitioning is already shuffle-partition
    sized — skip the spread; a shuffle-free (scan-shaped) plan makes the
    RDD conversion free, so use the exact count.
    """
    try:
        plan = df._jdf.queryExecution().sparkPlan().toString()
    except Exception:
        return False  # can't prove it's cheap to ask — don't
    if "Exchange" in plan:
        return False
    return df.rdd.getNumPartitions() < parallelism


def _md5_signature_batches(
    base: DataFrame, id_col: str, num_hashes: int, k: int,
) -> DataFrame:
    """md5-mode MinHash signatures via ``mapInPandas`` (guide §4.2/§4.5).

    The md5 construction hashes every shingle ``num_hashes`` times
    (md5(shingle || '#' || seed)); expressed as per-occurrence JVM
    expressions that is O(corpus_chars * num_hashes) md5 calls — 1.1e9 at
    the sf1.0 bench point, ~70s of the round-5 oracle-mode time. Shingle
    VALUES repeat heavily (within a doc, across docs, and across the
    corpus/delta duplicates this mode exists to detect), so the kernel
    hashes each distinct shingle once per task (bounded per-task cache,
    constructed once per task per §4.5) and folds signatures with
    numpy's vectorized elementwise min. Only (id, upper(text)) crosses
    the Arrow boundary; upper() stays JVM-side so string semantics match
    the native ``_shingles`` exactly. Output values are bit-identical to
    the expression form (same md5 inputs; pinned by the
    dedup_minhash_lsh/incremental DuckDB oracles and pytest).

    ``base`` columns: [id_col, "_t" (pre-uppercased text)].
    """
    id_type = base.schema[id_col].dataType.simpleString()
    schema = f"`{id_col}` {id_type}, _sig array<bigint>"
    cache_cap = 1 << 16  # ~32 MB/task at num_hashes=64; hit-rate optimization only

    def gen(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        cache: dict = {}

        def hv(s: str):
            v = cache.get(s)
            if v is None:
                v = np.array(
                    [
                        int(hashlib.md5((s + "#%d" % j).encode()).hexdigest()[:15], 16)
                        for j in range(num_hashes)
                    ],
                    dtype=np.int64,
                )
                if len(cache) < cache_cap:
                    cache[s] = v
            return v

        for pdf in batches:
            ids = pdf[id_col].tolist()
            texts = pdf["_t"].tolist()
            sigs = []
            for u in texts:
                if u is None:
                    # _shingles(NULL) -> [NULL] -> md5(NULL||seed) IS NULL
                    # -> min over no non-null values: an all-NULL signature
                    sigs.append([None] * num_hashes)
                    continue
                n = len(u)
                if n >= k:
                    sh = {u[i : i + k] for i in range(n - k + 1)}
                else:
                    sh = {u}
                it = iter(sh)
                m = hv(next(it)).copy()
                for s in it:
                    np.minimum(m, hv(s), out=m)
                sigs.append(m.tolist())
            yield pd.DataFrame({id_col: ids, "_sig": sigs})

    return base.mapInPandas(gen, schema)


def _with_signature(
    df: DataFrame, text_col: str, num_hashes: int, k: int,
    id_col: str = _ID, hash_mode: str = "xxhash64",
) -> DataFrame:
    """[id_col, text_col] -> [id_col, _sig] via explode + hash-aggregate.

    Spark's higher-order functions (aggregate/transform lambdas) are
    INTERPRETED, not codegen'd — the round-1 array formulation spent most
    of its time in per-element object allocation. This shape keeps every
    hot expression inside WholeStageCodegen: explode the shingles, compute
    the num_hashes hash columns natively, groupBy(id) with num_hashes
    min() aggregates (map-side partial combine -> the shuffle carries one
    ~num_hashes*8-byte row per document). In the default xxhash64 mode
    hash values are bit-identical to signature_from_shingles (same
    (shingle, int-seed) xxhash64 inputs).

    ``hash_mode="md5"`` uses md5_60bit(shingle || '#' || seed) instead —
    slower per hash, but DuckDB reproduces it exactly, which upgrades
    MinHash consumers from rows-only to a full value oracle (the same
    trade dedup_simhash/text_fingerprint made; VERDICT r02 item 2).

    At scale: shuffle volume is O(#docs * num_hashes * 8B) regardless of
    document size — the explode never leaves the map side.
    """
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if hash_mode == "md5":
        # pre-uppercase JVM-side so shingle strings match _shingles exactly
        base = df.select(id_col, F.upper(F.col(text_col)).alias("_t"))
        if _scan_splits_below(base, parallelism):
            base = base.repartition(parallelism)
        return _md5_signature_batches(base, id_col, num_hashes, k)
    base = df.select(id_col, F.col(text_col).alias("_t"))
    # spread the CPU-heavy hashing across all cores when the source scan
    # has fewer splits than cores; at scale the scan already has thousands
    # of splits and the repartition would be a pure-overhead shuffle of the
    # corpus, so skip it (VERDICT r02 item 6)
    if _scan_splits_below(base, parallelism):
        base = base.repartition(parallelism)
    # explode-FIRST, flat codegen (r06b; guide §4.1 prefer codegen'd
    # built-ins — the same shape that fixed dup_span): building the shingle
    # ARRAY via `transform` + array_distinct runs in Spark's interpreted
    # expression path and cost more than the 64 hashes it saved. Exploding
    # start positions and slicing with flat `substring` keeps the whole
    # enumerate+hash+partial-min pipeline inside one WholeStageCodegen
    # stage. min() over the occurrence multiset is bit-identical to min()
    # over the distinct set, so signatures are unchanged (noop-isolated:
    # 2.9s -> 1.8s steady-state on the 57k-doc corpus, 8.0s -> 3.3s first
    # run). Edge cases match _shingles exactly: len < k (incl. empty)
    # -> the whole string via greatest(n-k+1, 1) + substring clamping;
    # NULL text -> greatest(NULL, 1) = 1 -> substring(NULL) = NULL.
    # length over the UPPERCASED string, exactly as _shingles does (upper
    # can change code-point length, e.g. ess-zet -> SS)
    up = base.select(id_col, F.upper(F.col("_t")).alias("_u")).select(
        id_col, "_u", F.length("_u").alias("_n")
    )
    exploded = up.select(
        id_col,
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.col("_n") - (k - 1), F.lit(1)))
        ).alias("_p"),
        "_u",
    ).select(id_col, F.expr(f"substring(_u, _p, {int(k)})").alias("_s"))
    mins = [
        F.min(F.xxhash64(F.col("_s"), F.lit(j))).alias(f"_h{j}")
        for j in range(num_hashes)
    ]
    return (
        exploded.groupBy(id_col)
        .agg(*mins)
        .select(id_col, F.array(*[F.col(f"_h{j}") for j in range(num_hashes)]).alias("_sig"))
    )


def _minhash_members(staged: DataFrame) -> DataFrame:
    """MinHash-LSH band members: [_k, source_record_id], one row per
    (record, band); records sharing any band signature become candidates.

    Signature/banding is pure column math (xxhash64 seeds), so the pass is
    deterministic across runs and cluster sizes — required for golden
    fixtures. Each (band, bucket) is a block, encoded injectively as the
    string "band:bucket" so it shares the key passes' block column and
    their hot-block salting.
    """
    rows_per_band = MINHASH_NUM_HASHES // MINHASH_BANDS
    base = staged.filter(
        F.col("name_norm").isNotNull() & (F.length("name_norm") > 0)
    ).select(F.col(_ID), F.col("name_norm"))
    # eager materialization: the banded members feed the block-count
    # aggregation AND both sides of the pair self-join — otherwise the
    # (CPU-heavy) signature lineage re-executes up to 4x
    sig = _with_signature(
        base, "name_norm", MINHASH_NUM_HASHES, MINHASH_SHINGLE_K
    ).select(F.col(_ID), F.col("_sig")).localCheckpoint(eager=True)
    band_keys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                F.xxhash64(
                    *[F.element_at("_sig", b * rows_per_band + r + 1) for r in range(rows_per_band)]
                ),
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return sig.select(F.explode(band_keys).alias("_k"), _ID)


def candidate_pairs(
    staged: DataFrame,
    max_block_size: int = MAX_BLOCK_SIZE,
    include_sorted_neighborhood: bool = True,
    include_minhash: bool = True,
) -> DataFrame:
    """All blocking passes, unioned + deduped.

    Every key pass and the MinHash-LSH bands are slices of ONE members
    frame [_pass, _k, source_record_id], so one block count, one broadcast
    of the hot blocks and one salted self-join on (_pass, _k) propose them
    all; the sorted-neighborhood window pairs are unioned in after.

    Output: source_record_id_a < source_record_id_b, matched_block_keys
    (sorted array of pass names that proposed the pair — superset metadata
    vs the reference's plain DISTINCT).
    """
    # the pass list: (name, staged key column or None); a pass's index is
    # its bit in the matched-keys mask
    passes = [
        ("exact_key", "block_exact_key"),
        ("name_state", "block_name_key"),
        ("zip3_name4", "block_zip3_name4"),
    ]
    if "block_abbr_key" in staged.columns:
        passes.append(("abbr_name_state", "block_abbr_key"))
    if include_sorted_neighborhood:
        passes.append(("sorted_neighborhood", None))
    if include_minhash:
        passes.append(("minhash_lsh", None))
    names = [name for name, _ in passes]

    members = None
    for bit, (name, key_col) in enumerate(passes):
        if key_col is not None:
            blocks = staged.filter(
                F.col(key_col).isNotNull() & (F.col(key_col) != "")
            ).select(F.col(key_col).alias("_k"), _ID)
        elif name == "minhash_lsh":
            blocks = _minhash_members(staged)
        else:
            continue
        part = blocks.select(F.lit(bit).alias("_pass"), "_k", _ID)
        members = part if members is None else members.unionByName(part)
    a_b = [f"{_ID}_a", f"{_ID}_b"]
    unioned = _pairs_within_blocks(members, ["_pass", "_k"], max_block_size).select(
        *a_b, F.expr("shiftleft(1, _pass)").alias("_pm")
    )
    if include_sorted_neighborhood:
        unioned = unioned.unionByName(
            sorted_neighborhood_pass(staged).select(
                *a_b, F.lit(1 << names.index("sorted_neighborhood")).alias("_pm")
            )
        )
    # The pass set is tiny and known, so the aggregation carries a per-pass
    # BIT instead of the pass-name string, bit_or's the mask (map-side
    # partial agg on an int, guide §2.3 "shuffle keys and metadata"), and
    # maps the mask to its precomputed sorted-name array through a
    # 2^n-entry literal table — value-identical to a sorted set of pass
    # names with a far narrower shuffle and no per-group string-set buffer.
    mask_table = F.array(
        *[
            F.array(*[F.lit(n) for n in sorted(
                n for bit, n in enumerate(names) if m & (1 << bit)
            )])
            for m in range(1 << len(names))
        ]
    )
    return (
        unioned.groupBy(*a_b)
        .agg(F.bit_or("_pm").alias("_mask"))
        .select(
            *a_b,
            F.element_at(mask_table, F.col("_mask") + 1).alias("matched_block_keys"),
        )
    )
