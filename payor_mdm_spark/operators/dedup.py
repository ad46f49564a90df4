"""Corpus deduplication operators (training-data pipeline suite).

Five dedup families over a document corpus (doc_id, text), each designed
for the 100 TB point:

* exact            — md5(text) hash-groupBy; one shuffle on a 32-byte key.
* minhash_lsh      — char-shingle MinHash signatures + banded LSH buckets;
  candidate pairs verified with exact shingle-set Jaccard. Signature math is
  the same fully-native xxhash64 construction as the blocking layer
  (operators/blocking.py) — deterministic across runs and cluster sizes.
* simhash          — 60-bit SimHash over md5_60bit token hashes; near-dups
  = equal band keys (4 x 15-bit bands -> Hamming distance <= 3 candidates).
  The md5-derived hash is DuckDB-reproducible, so the operator has a full
  value oracle (VERDICT r01 item 9).
* ngram_jaccard    — word n-gram Jaccard verification join for candidate
  pairs (exact, used as the verifier for the approximate passes).
* embedding cosine — see operators/similarity_search.py (near-dup by
  cosine >= threshold over an embedding column).

All passes go through the same salted block-join primitive as entity
blocking, so a degenerate bucket (e.g. boilerplate documents sharing a
signature) cannot quadratically explode a task.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from payor_mdm_spark.operators.blocking import _pairs_within_blocks, _with_signature
from payor_mdm_spark.operators.text_analysis import word_ngrams_col


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of byte-identical documents: [text_hash, doc_ids, dup_count];
    only groups with >1 member are returned."""
    return (
        docs.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def exact_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep the min-id representative of each exact-duplicate group."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(F.md5(F.col(text_col))).orderBy(F.col(id_col))
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _split_tokens(text: Column) -> Column:
    """The n-gram tokenizer of the dedup passes. Unlike tokens_col it keeps
    empty tokens (from leading/trailing whitespace)."""
    return F.split(F.lower(text), r"\s+")


def _word_ngrams(toks: Column, n: int) -> Column:
    """Word n-grams of a projected _split_tokens column; a document of
    fewer than n tokens is one gram, its tokens joined."""
    return word_ngrams_col(toks, n, F.array(F.concat_ws(" ", toks)))


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidate_pairs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.0,
) -> DataFrame:
    """Exact word-n-gram Jaccard for given candidate pairs [id_a, id_b]."""
    grams = docs.select(
        F.col(id_col), _split_tokens(F.col(text_col)).alias("_tok")
    ).select(
        F.col(id_col), F.array_distinct(_word_ngrams(F.col("_tok"), n)).alias("_g")
    )
    a = grams.select(F.col(id_col).alias("id_a"), F.col("_g").alias("_ga"))
    b = grams.select(F.col(id_col).alias("id_b"), F.col("_g").alias("_gb"))
    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = F.size(F.array_union("_ga", "_gb")).cast("double")
    return (
        candidate_pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    max_block_size: int = 500,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """MinHash+LSH near-dup detection, verified with exact shingle Jaccard.

    Output: [id_a, id_b, jaccard] with id_a < id_b and jaccard >= threshold.

    ``hash_mode="md5"`` switches the shingle hashes to md5_60bit and the
    band bucket key to the concat of the band's signature rows — every
    step (signature, banding, estimator prune, exact verify) then has an
    exact DuckDB twin, giving the operator a full value oracle
    (VERDICT r02 item 2a). The default xxhash64 mode stays the fast path
    for the blocking layer.
    """
    rows_per_band = num_hashes // bands
    # eager materialization: the banded members feed the block-count
    # aggregation AND both self-join sides; a lazy cache inside one action
    # still re-executes the (CPU-heavy) signature projection per branch
    base = _with_signature(
        docs.select(F.col(id_col).alias("source_record_id"), F.col(text_col)),
        text_col, num_hashes, shingle_k, hash_mode=hash_mode,
    ).select("source_record_id", "_sig").localCheckpoint(eager=True)
    n_docs = base.count()  # materialized — the count is free and feeds the
    # estimator's broadcast-size guard

    members = _minhash_band_members(base, bands, rows_per_band, hash_mode)
    # stream RAW band pairs straight into the estimator: the candidate set
    # used to be distinct()'d + checkpointed first, which shuffled the
    # full O(10^7) pair table twice before the prune — measured bucket
    # duplicate factor is ~1.02 (a pair rarely collides in >1 band below
    # the threshold), so deduping the tiny SURVIVOR set instead removes a
    # full pair-table shuffle at ~2% extra estimator work (guide §2.4)
    cands = _pairs_within_blocks(
        members, ["_band", "_bucket"], max_block_size
    ).select(
        F.col("source_record_id_a").alias("id_a"),
        F.col("source_record_id_b").alias("id_b"),
    )
    survivors = (
        _minhash_estimator_prune(
            cands, base, num_hashes, jaccard_threshold, n_sig_rows=n_docs
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    return _minhash_exact_verify(
        survivors, docs, id_col, text_col, shingle_k, jaccard_threshold,
        n_pairs=survivors.count(),
    )


def _minhash_band_members(
    sig_df: DataFrame, bands: int, rows_per_band: int, hash_mode: str
) -> DataFrame:
    """[source_record_id, _sig] -> [_band, _bucket, source_record_id]."""

    def _bucket(b: int) -> Column:
        rows = [
            F.element_at("_sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if hash_mode == "md5":
            # the oracle twin reproduces the band bucket as the concat
            # string; the ENGINE join key is xxhash64 of that string —
            # bucket values never appear in any output, only their equality
            # structure does, and hashing the 60-80 char key to 8 bytes
            # measurably cheapens the band self-join shuffle (guide §2.3
            # narrower types). A hash collision could only ADD a candidate
            # pair, which must still pass the 64-hash estimator AND exact
            # Jaccard verify to reach the output (~1e-14 combined; pair
            # sets verified identical at sf1.0).
            return F.xxhash64(F.concat_ws("|", *[r.cast("string") for r in rows]))
        return F.xxhash64(*rows)

    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), _bucket(b).alias("bucket"))
            for b in range(bands)
        ]
    )
    return sig_df.select(
        F.explode(band_structs).alias("_b"), F.col("source_record_id")
    ).select(
        F.col("_b.band").alias("_band"), F.col("_b.bucket").alias("_bucket"),
        "source_record_id",
    )


# broadcast the signature table into the estimator joins when its
# estimated size fits comfortably in executor memory: the candidate pair
# table is orders of magnitude larger than the signature table, and a
# sort-merge join would shuffle+sort the pair table twice just to attach
# 8-byte-per-hash arrays (guide §3.1 — hint explicitly; size estimates
# after an aggregation are unreliable). Above the cap the join falls back
# to the planner's shuffle strategy — the correct shape when the corpus
# signature table itself is huge.
SIG_BROADCAST_BYTES = 256 << 20


def _minhash_estimator_prune(
    cands: DataFrame, sig_df: DataFrame, num_hashes: int,
    jaccard_threshold: float, n_sig_rows: int | None = None,
) -> DataFrame:
    """Stage-1 verification: cheap signature-agreement estimate (num_hashes
    int comparisons/pair) — an unbiased MinHash estimator of Jaccard —
    prunes the candidate set ~3 sigma below the target threshold.

    ``n_sig_rows``: row count of ``sig_df`` when the caller has it
    materialized — drives the broadcast-size guard."""
    sa = sig_df.select(F.col("source_record_id").alias("id_a"), F.col("_sig").alias("_siga"))
    sb = sig_df.select(F.col("source_record_id").alias("id_b"), F.col("_sig").alias("_sigb"))
    if n_sig_rows is not None and (
        n_sig_rows * (num_hashes * 8 + 48) <= SIG_BROADCAST_BYTES
    ):
        sa, sb = F.broadcast(sa), F.broadcast(sb)
    agree = F.size(
        F.filter(F.zip_with("_siga", "_sigb", lambda x, y: x == y), lambda v: v)
    ).cast("double") / F.lit(float(num_hashes))
    margin = 1.5 / (num_hashes ** 0.5)  # ~3 sigma (sd <= 0.5/sqrt(n))
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("_est", agree)
        .filter(F.col("_est") >= jaccard_threshold - margin)
        .select("id_a", "id_b")
    )


# when the survivor pair set is this small, broadcast IT through the
# verify joins so the corpus-side scans stream map-side instead of
# shuffling; above the cap the planner's shuffle strategy is the right
# shape. The largest broadcast relation on this path is the pair ids plus
# ONE side's attached text (~350 B/row on prose corpora -> ~50 MB at the
# cap, in line with the session's 64 MB AQE runtime threshold).
PAIR_BROADCAST_ROWS = 150_000


def _minhash_exact_verify(
    survivors: DataFrame, docs: DataFrame, id_col: str, text_col: str,
    shingle_k: int, jaccard_threshold: float, n_pairs: int | None = None,
) -> DataFrame:
    """Stage-2 verification: exact char-shingle Jaccard, computed ONLY for
    estimator survivors. Semi-join before any per-doc materialization: at
    the 100 TB point this is the difference between verifying the
    candidate set and re-processing the whole corpus.

    r06b shape (guide §8 "decide with small rows"): the old form attached
    ARRAYS of shingles to both sides of the pair table — a payload ~5x the
    text bytes (every char appears in k shingles), built by an interpreted
    higher-order `transform` and shuffled through two joins, then compared
    with interpreted `array_intersect`/`array_union` per pair. Now the
    pair table attaches the raw TEXTS (the lightest possible proxy) and a
    single Arrow kernel computes |A∩B|/|A∪B| over C-native frozensets,
    memoizing each distinct text's shingle set per Arrow batch. Semantics are
    bit-identical to the expression form, including the edges: NULL text
    -> {NULL} (two NULL docs share jaccard 1.0), short text (< k chars)
    -> the whole string as its only shingle; the division is the same
    exact-int IEEE divide. Pinned by the dedup_minhash_lsh /
    dedup_minhash_incremental DuckDB oracles.

    ``n_pairs``: row count of ``survivors`` when the caller has it
    materialized — when small, the pair side is broadcast through every
    join (semi + both text attaches) so the corpus scan streams map-side."""
    small = n_pairs is not None and n_pairs <= PAIR_BROADCAST_ROWS
    # upper() stays JVM-side so case semantics match _shingles exactly
    # (same rule as blocking._md5_signature_batches)
    if small:
        # broadcast the pair set through both text attaches: the corpus
        # scan streams map-side and the inner joins themselves do the
        # needed-docs filtering, so the semi-join + intermediate
        # materialization of the big-corpus path would be pure overhead
        a = docs.select(
            F.col(id_col).alias("id_a"), F.upper(F.col(text_col)).alias("_ta")
        )
        b = docs.select(
            F.col(id_col).alias("id_b"), F.upper(F.col(text_col)).alias("_tb")
        )
        # the probe side inherits the corpus scan's split count, which on a
        # small/compact parquet is 1-2 splits — the broadcast probes AND the
        # Jaccard kernel would run near-serially; spread when below the
        # core count (skips itself at scale, same guard as the hash spread)
        from payor_mdm_spark.operators.blocking import _scan_splits_below

        parallelism = docs.sparkSession.sparkContext.defaultParallelism
        if _scan_splits_below(b, parallelism):
            b = b.repartition(parallelism)
        joined = b.join(F.broadcast(a.join(F.broadcast(survivors), "id_a")), "id_b")
    else:
        # scale shape: reduce the corpus to the docs any survivor touches
        # (ONE full-corpus shuffle) before attaching texts twice
        needed = (
            survivors.select(F.col("id_a").alias(id_col))
            .unionByName(survivors.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        txt = (
            docs.join(needed, id_col, "semi")
            .select(F.col(id_col), F.upper(F.col(text_col)).alias("_t"))
            .localCheckpoint(eager=True)
        )
        a = txt.select(F.col(id_col).alias("id_a"), F.col("_t").alias("_ta"))
        b = txt.select(F.col(id_col).alias("id_b"), F.col("_t").alias("_tb"))
        joined = survivors.join(a, "id_a").join(b, "id_b")
    id_type = survivors.schema["id_a"].dataType.simpleString()
    schema = f"id_a {id_type}, id_b {id_type}, jaccard double"
    k = shingle_k
    thr = jaccard_threshold

    def gen(batches):
        import pandas as pd

        def sset(u, memo):
            s = memo.get(u)
            if s is None:
                if u is None:
                    # _shingles(NULL) -> array(upper(NULL)) -> [NULL]
                    s = frozenset((None,))
                else:
                    # input is pre-uppercased JVM-side
                    n = len(u)
                    if n >= k:
                        s = frozenset(u[i : i + k] for i in range(n - k + 1))
                    else:
                        s = frozenset((u,))
                memo[u] = s
            return s

        for pdf in batches:
            # per-batch memo, like the ensemble kernel's: it dies with the
            # Arrow batch, so a task holds at most one batch's shingle sets
            memo: dict = {}
            ia = pdf["id_a"].tolist()
            ib = pdf["id_b"].tolist()
            ta = pdf["_ta"].tolist()
            tb = pdf["_tb"].tolist()
            oa, ob, oj = [], [], []
            for i in range(len(ia)):
                sa, sb = sset(ta[i], memo), sset(tb[i], memo)
                un = len(sa | sb)
                j = len(sa & sb) / un if un > 0 else 0.0
                if j >= thr:
                    oa.append(ia[i])
                    ob.append(ib[i])
                    oj.append(j)
            yield pd.DataFrame({"id_a": oa, "id_b": ob, "jaccard": oj})

    return joined.select("id_a", "id_b", "_ta", "_tb").mapInPandas(gen, schema)


SIMHASH_BITS = 60  # md5_60bit token hashes -> 60 usable bits, 4 bands x 15


def _simhash_from_hashes(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash from an ALREADY MATERIALIZED token-hash array column.

    For each bit position b: sum over tokens of (+1 if bit b of
    hash(token) else -1); simhash bit b = (sum > 0). Computed via
    aggregate over the array — no UDF, deterministic. Token hashes are
    md5_60bit so DuckDB can reproduce the whole construction in SQL
    (the value oracle for dedup_simhash).

    A NULL hash array (NULL text) yields a NULL simhash — content-free
    docs must not collapse onto simhash 0 and band-bucket with genuinely
    empty docs; NULL buckets then drop out of the candidate equi join on
    both engines (ADVICE r02).
    """

    def mask(b: int) -> Column:
        # shiftleft instead of a python literal: 1 << 63 overflows JVM long
        return F.shiftleft(F.lit(1).cast("long"), b)

    def bit_sum(b: int) -> Column:
        return F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(mask(b)) != 0, 1).otherwise(-1),
        )

    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(bit_sum(b) > 0, mask(b)).otherwise(F.lit(0).cast("long"))
    return F.when(hashes.isNull(), F.lit(None).cast("long")).otherwise(sim)


def token_hashes_col(text_col: Column) -> Column:
    from payor_mdm_spark.functions.textnorm import md5_60bit

    toks = F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")
    return F.transform(toks, lambda t: md5_60bit(t))


def simhash_col(text_col: Column, bits: int = SIMHASH_BITS) -> Column:
    """64-bit SimHash over word tokens. NOTE: prefer materializing the
    token-hash array first (see simhash_candidate_pairs) — this convenience
    form repeats the tokenize+hash expression per bit."""
    return _simhash_from_hashes(token_hashes_col(text_col), bits)


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """[id, text] -> [source_record_id, _sh] via explode + hash-aggregate.

    Same codegen-first shape as the MinHash signature (higher-order
    functions are interpreted in Spark): explode the token hashes, compute
    the per-bit +1/-1 votes as native sum() aggregates (map-side partial
    combine), assemble the simhash from the vote signs. Bit-identical to
    _simhash_from_hashes: empty-token documents (no exploded rows) get
    simhash 0 via the left join, matching the aggregate init, while
    NULL-text documents keep a NULL simhash (the aggregate form returns
    NULL for a NULL token array) — so content-free docs never band-bucket
    with genuinely empty ones, and NULL buckets drop out of the equi join
    entirely (ADVICE r02)."""
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    ids = docs.select(
        F.col(id_col).alias("source_record_id"),
        F.col(text_col).isNull().alias("_tnull"),
    )
    exploded = (
        docs.select(
            F.col(id_col).alias("source_record_id"),
            token_hashes_col(F.col(text_col)).alias("_th"),
        )
        .repartition(parallelism)
        .select("source_record_id", F.explode("_th").alias("_h"))
    )

    def mask(b: int) -> Column:
        return F.shiftleft(F.lit(1).cast("long"), b)

    votes = [
        F.sum(
            F.when(F.col("_h").bitwiseAND(mask(b)) != 0, 1).otherwise(-1)
        ).alias(f"_v{b}")
        for b in range(bits)
    ]
    sh = None
    for b in range(bits):
        term = F.when(F.col(f"_v{b}") > 0, mask(b)).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh + term
    agg = exploded.groupBy("source_record_id").agg(*votes).select(
        "source_record_id", sh.alias("_sh")
    )
    return ids.join(agg, "source_record_id", "left").select(
        "source_record_id",
        F.when(F.col("_tnull"), F.lit(None).cast("long"))
        .otherwise(F.coalesce(F.col("_sh"), F.lit(0).cast("long")))
        .alias("_sh"),
    )


def simhash_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bands: int = 4,
    max_block_size: int = 500,
) -> DataFrame:
    """Near-dup candidates: documents sharing any 15-bit SimHash band
    (guarantees recall of all pairs with Hamming distance < bands)."""
    sh = simhash_signatures(docs, id_col, text_col).localCheckpoint(eager=True)
    width = SIMHASH_BITS // bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftrightunsigned(F.col("_sh"), b * width)
                .bitwiseAND(F.lit((1 << width) - 1))
                .alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    members = sh.select(F.explode(band_structs).alias("_b"), "source_record_id").select(
        F.col("_b.band").alias("_band"), F.col("_b.bucket").alias("_bucket"),
        "source_record_id",
    )
    return (
        _pairs_within_blocks(members, ["_band", "_bucket"], max_block_size)
        .select(
            F.col("source_record_id_a").alias("id_a"),
            F.col("source_record_id_b").alias("id_b"),
        )
        .distinct()
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Near-dup pairs -> transitive dup clusters -> canonical keeper.

    The corpus-dedup closer: pairs from ANY detection pass (exact, MinHash,
    SimHash, embedding-cosine) are clustered with the same distributed
    connected-components operator as entity resolution
    (operators/clustering.propagate_labels — hash-min + pointer jumping,
    so million-doc dup chains converge in O(log n) rounds), and each
    cluster keeps its min-id member. Output: [id_col, cluster_root,
    is_keeper] for every document (singletons are their own root).
    """
    # length-prefix ids for the label propagation: component = MIN string
    # key, and '000024' || id style keys make lexicographic min == numeric
    # min for numeric ids. A fixed-width lpad would TRUNCATE ids longer
    # than the width (Spark lpad semantics) and collide distinct long
    # URL/hash ids into one node; the length prefix is injective for any
    # id shape and adds no truncation ceiling (ids to 999,999 chars).
    pad = lambda c: F.concat(  # noqa: E731
        F.lpad(F.length(c.cast("string")).cast("string"), 6, "0"),
        c.cast("string"),
    )
    edges = pairs.select(
        pad(F.col("id_a")).alias("source_record_id_a"),
        pad(F.col("id_b")).alias("source_record_id_b"),
    )
    nodes = docs.select(pad(F.col(id_col)).alias("source_record_id"))
    from payor_mdm_spark.operators.clustering import propagate_labels

    comp = propagate_labels(edges, nodes)
    # map the padded root back to the original id domain
    id_map = docs.select(
        pad(F.col(id_col)).alias("_pid"), F.col(id_col).alias("cluster_root")
    )
    return (
        docs.select(id_col)
        .join(
            comp.select(
                F.col("source_record_id").alias("_self"),
                F.col("component").alias("_rootpid"),
            ),
            pad(F.col(id_col)) == F.col("_self"),
        )
        .join(id_map, F.col("_rootpid") == F.col("_pid"))
        .drop("_self", "_rootpid", "_pid")
        .withColumn("is_keeper", F.col(id_col) == F.col("cluster_root"))
    )


def cross_corpus_contamination(
    train: DataFrame,
    test: DataFrame,
    n: int = 5,
    jaccard_threshold: float = 0.8,
    max_df: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Train/test contamination check: which test documents leak from the
    training corpus, exactly or as near-duplicates.

    Scale shape (never all-pairs): an inverted index over word n-grams —
    train-side grams with document frequency > ``max_df`` are dropped
    (boilerplate grams carry no contamination signal and would otherwise
    create quadratic hot buckets) — equi-joins candidate (train, test)
    pairs, which are then verified with exact word-n-gram Jaccard; byte
    -identical texts are flagged 'exact' via an md5 equi-join regardless
    of gram overlap. Output: [test_id, train_id, method, jaccard].
    """
    tr = train.select(
        F.col(id_col).alias("train_id"), F.col(text_col).alias("_tr_text")
    )
    te = test.select(
        F.col(id_col).alias("test_id"), F.col(text_col).alias("_te_text")
    )

    exact = (
        tr.select("train_id", F.md5("_tr_text").alias("_h"))
        .join(te.select("test_id", F.md5("_te_text").alias("_h")), "_h")
        .select("test_id", "train_id")
        .withColumn("method", F.lit("exact"))
        .withColumn("jaccard", F.lit(1.0))
    )

    # explode the gram expression itself, not a projected gram column: a
    # Generate over a plain column gets an inferred size(col) > 0 filter,
    # which pushdown rewrites into a second copy of the gram expression
    tr_tok = tr.select("train_id", _split_tokens(F.col("_tr_text")).alias("_tok"))
    te_tok = te.select("test_id", _split_tokens(F.col("_te_text")).alias("_tok"))
    grams = F.array_distinct(_word_ngrams(F.col("_tok"), n))
    tr_grams = tr_tok.select("train_id", F.explode(grams).alias("_g"))
    hot = (
        tr_grams.groupBy("_g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select("_g")
    )
    tr_grams = tr_grams.join(F.broadcast(hot), "_g", "left_anti")
    te_grams = te_tok.select("test_id", F.explode(grams).alias("_g"))
    cands = tr_grams.join(te_grams, "_g").select("train_id", "test_id").distinct()

    tr_sets = tr_tok.select("train_id", grams.alias("_ga"))
    te_sets = te_tok.select("test_id", grams.alias("_gb"))

    inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
    union = F.size(F.array_union("_ga", "_gb")).cast("double")
    near = (
        cands.join(tr_sets, "train_id")
        .join(te_sets, "test_id")
        .withColumn("jaccard", F.when(union > 0, F.round(inter / union, 4)).otherwise(F.lit(0.0)))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("test_id", "train_id", "jaccard")
        .withColumn("method", F.lit("near"))
        # exact hits report once, as 'exact'
        .join(exact.select("test_id", "train_id"), ["test_id", "train_id"], "left_anti")
    )
    return exact.unionByName(near.select("test_id", "train_id", "method", "jaccard"))


def _pairs_new_vs_all(
    members_new: DataFrame, members_all: DataFrame, key_cols: list[str],
    max_block_size: int,
) -> DataFrame:
    """Asymmetric block join: candidate pairs with at least one NEW side.

    Block counts come from ALL members and the per-member salt is the
    SHARED formula (blocking._with_block_salt — one definition, so the
    pinned incremental == batch equivalence cannot drift), but only the
    new-member side drives the join — old x old buckets are never
    expanded, so the work scales with the batch, not the corpus.
    """
    from payor_mdm_spark.operators.blocking import _hot_blocks, _with_block_salt

    hot = _hot_blocks(members_all, key_cols, max_block_size)
    join_keys = key_cols + ["_salt"]
    a = _with_block_salt(members_new, hot, key_cols, max_block_size).select(
        *[F.col(c) for c in join_keys], F.col("source_record_id").alias("_na")
    )
    b = _with_block_salt(members_all, hot, key_cols, max_block_size).select(
        *[F.col(c) for c in join_keys], F.col("source_record_id").alias("_nb")
    )
    return (
        a.join(b, join_keys)
        .filter(F.col("_na") != F.col("_nb"))
        .select(
            F.least("_na", "_nb").alias("id_a"),
            F.greatest("_na", "_nb").alias("id_b"),
        )
        .distinct()
    )


def minhash_dedup_incremental(
    old_docs: DataFrame,
    new_docs: DataFrame,
    store=None,
    table: str = "minhash_signatures",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
    jaccard_threshold: float = 0.8,
    max_block_size: int = 500,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Incremental near-dup detection: pairs INVOLVING the new batch only.

    The daily-increment scale path: a crawl delta is deduped against a
    100 TB corpus without re-banding or re-pairing the old corpus —

    * old signatures load from ``store``'s signature table when present
      (written by a previous call; ~num_hashes*8 bytes/doc, tiny next to
      the text) and are recomputed from ``old_docs`` otherwise;
    * candidate generation joins NEW band members against ALL members
      (_pairs_new_vs_all) — old x old buckets are never expanded;
    * estimator prune and exact verify run only on the delta's candidate
      pairs; exact verification semi-joins text for just the survivors.

    All hashes are deterministic, so with no hot blocks the result equals
    batch minhash_dedup_pairs(old ∪ new) minus minhash_dedup_pairs(old)
    exactly (pytest-pinned). When a block IS hot, salting assignments
    depend on the block count at pairing time, so incremental and batch
    may bound work differently on that block — the same documented recall
    trade the batch operator makes.

    With a ``store``, the merged signature table is committed back to it,
    so the next delta skips old-corpus signature computation entirely.
    """
    rows_per_band = num_hashes // bands
    params = f"{hash_mode}:{num_hashes}:{bands}:{shingle_k}"
    new_base = _with_signature(
        new_docs.select(F.col(id_col).alias("source_record_id"), F.col(text_col)),
        text_col, num_hashes, shingle_k, hash_mode=hash_mode,
    ).select("source_record_id", "_sig").localCheckpoint(eager=True)
    if store is not None and store.exists(table):
        stored = store.read(table)
        # the table records the signature parameters it was built with —
        # silently mixing signature spaces (different hash mode / hash
        # count / shingle width) would collapse recall with no error
        got = stored.select("_params").first()
        if got is not None and got["_params"] != params:
            raise ValueError(
                f"signature table '{table}' was built with params "
                f"{got['_params']!r} but this call uses {params!r}; "
                "recompute the table or match the parameters"
            )
        old_base = stored.select("source_record_id", "_sig")
    else:
        old_base = _with_signature(
            old_docs.select(F.col(id_col).alias("source_record_id"), F.col(text_col)),
            text_col, num_hashes, shingle_k, hash_mode=hash_mode,
        ).select("source_record_id", "_sig").localCheckpoint(eager=True)
    # dedupe on id: a crash-retry may run with a signature table that a
    # previous attempt already merged the delta into — signatures are
    # deterministic, so keeping one row per doc heals the overlap
    all_base = (
        old_base.unionByName(new_base)
        .dropDuplicates(["source_record_id"])
        .localCheckpoint(eager=True)
    )

    members_new = _minhash_band_members(new_base, bands, rows_per_band, hash_mode)
    members_all = _minhash_band_members(all_base, bands, rows_per_band, hash_mode)
    cands = _pairs_new_vs_all(
        members_new, members_all, ["_band", "_bucket"], max_block_size
    ).localCheckpoint(eager=True)
    survivors = _minhash_estimator_prune(
        cands, all_base, num_hashes, jaccard_threshold,
        n_sig_rows=all_base.count(),
    ).localCheckpoint(eager=True)
    all_docs = old_docs.select(F.col(id_col), F.col(text_col)).unionByName(
        new_docs.select(F.col(id_col), F.col(text_col))
    )
    pairs = _minhash_exact_verify(
        survivors, all_docs, id_col, text_col, shingle_k, jaccard_threshold,
        n_pairs=survivors.count(),
    )
    if store is not None:
        store.write(table, all_base.withColumn("_params", F.lit(params)))
    return pairs
