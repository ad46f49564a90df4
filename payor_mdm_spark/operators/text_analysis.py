"""Text analysis operators (training-data pipeline suite).

All native column expressions (WholeStageCodegen end-to-end):

* token_count        — whitespace tokens + a BPE-ish regex segment count.
* quality_score      — length / punctuation-ratio / stopword-ratio /
  mean-word-length heuristics blended into [0,1].
* language_id        — stopword-hit heuristic over small per-language
  marker vocabularies (en/es/fr/de + cjk-char ratio for zh).
* doc_fingerprint    — 60-bit content fingerprint: md5_60bit over
  normalized word 4-shingles folded with min() (a 1-hash MinHash — stable
  under small reorderings of boilerplate, cheap to compare, and
  DuckDB-reproducible for the value oracle).

Each operator is expressible in ANSI SQL too (see __spark_entry__.py
oracle_sql) so correctness is oracle-checked against DuckDB.

Word n-gram and shingle lambdas slice a projected token-array column, never
a tokenizer expression: Spark cannot hoist an expression out of a lambda
body, so slicing one re-tokenizes the document once per n-gram (O(words^2)).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EN = ["the", "and", "of", "to", "is", "in", "that", "with"]
_ES = ["el", "la", "de", "que", "y", "los", "las", "una"]
_FR = ["le", "la", "les", "des", "est", "une", "dans", "pour"]
_DE = ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"]

LANG_MARKERS: dict[str, list[str]] = {"en": _EN, "es": _ES, "fr": _FR, "de": _DE}


def tokens_col(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def word_ngrams_col(toks: Column, n: int, short: Column) -> Column:
    """Word n-grams of the token array ``toks`` in document order, each its
    ``n`` tokens joined by one space; ``short`` when there are fewer than
    ``n`` tokens. ``toks`` must be a projected column (see module doc)."""
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(short)


def token_count_col(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens_col(text))


def subword_count_col(text: Column) -> Column:
    """BPE-ish segment count: split on whitespace AND on letter/digit/punct
    boundaries — an upper-bound proxy for BPE token count without a
    vocabulary file."""
    pieces = F.regexp_replace(
        F.lower(text), r"([a-z]+|[0-9]+|[^a-z0-9\s]+)", "$1 "
    )
    return F.size(F.filter(F.split(pieces, r"\s+"), lambda t: t != ""))


def punct_ratio_col(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def stopword_ratio_col(text: Column, stopwords: list[str] | None = None) -> Column:
    stops = stopwords or _EN
    toks = tokens_col(text)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stops)))
    return F.when(
        F.size(toks) > 0, hits.cast("double") / F.size(toks).cast("double")
    ).otherwise(F.lit(0.0))


def mean_word_len_col(text: Column) -> Column:
    toks = tokens_col(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(
        F.size(toks) > 0, total.cast("double") / F.size(toks).cast("double")
    ).otherwise(F.lit(0.0))


def quality_score_col(text: Column) -> Column:
    """Heuristic doc quality in [0,1]: favors 20-2000 token docs, low punct
    density, some stopwords, plausible mean word length."""
    n_tok = token_count_col(text).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0)) * F.least(
        F.lit(2000.0) / F.greatest(n_tok, F.lit(1.0)), F.lit(1.0)
    )
    punct_score = F.lit(1.0) - F.least(punct_ratio_col(text) * 4.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio_col(text) * 5.0, F.lit(1.0))
    mwl = mean_word_len_col(text)
    mwl_score = F.when((mwl >= 2.5) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.3))
    return F.round(
        len_score * 0.3 + punct_score * 0.2 + stop_score * 0.3 + mwl_score * 0.2, 4
    )


def lang_scores_col(text: Column) -> Column:
    """Struct of per-language stopword-hit ratios."""
    toks = tokens_col(text)
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")
    def marker_hits(markers: list[str]) -> Column:
        # NB: the lambda must be unary — F.filter treats a second parameter
        # as the element index
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    fields = []
    for lang, markers in LANG_MARKERS.items():
        fields.append((marker_hits(markers).cast("double") / n).alias(lang))
    cjk = F.length(F.regexp_replace(text, r"[^一-鿿]", ""))
    fields.append(
        (cjk.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double")).alias("zh")
    )
    return F.struct(*fields)


def language_id_col(text: Column, min_score: float = 0.05) -> Column:
    """argmax over lang_scores; 'und' when nothing clears min_score."""
    s = lang_scores_col(text)
    langs = list(LANG_MARKERS.keys()) + ["zh"]
    pairs = F.array(
        *[F.struct(s[lang].alias("score"), F.lit(lang).alias("lang")) for lang in langs]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] >= min_score, best["lang"]).otherwise(F.lit("und"))


def doc_fingerprint_col(toks: Column, shingle_words: int = 4) -> Column:
    """60-bit content fingerprint of a document's punctuation-stripped
    token column ``toks`` (see analyze_documents): min over md5_60bit of
    word shingles (a 1-hash MinHash — stable under small reorderings of
    boilerplate). md5-derived so DuckDB reproduces it (value oracle,
    VERDICT r01 item 9).
    """
    from payor_mdm_spark.functions.textnorm import md5_60bit

    shingles = word_ngrams_col(
        toks, shingle_words, F.array(F.concat_ws(" ", toks))
    )
    return F.array_min(F.transform(shingles, lambda s: md5_60bit(s)))


def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return (
        docs.withColumn("token_count", token_count_col(t))
        .withColumn("subword_count", subword_count_col(t))
        .withColumn("punct_ratio", F.round(punct_ratio_col(t), 4))
        .withColumn("stopword_ratio", F.round(stopword_ratio_col(t), 4))
        .withColumn("quality_score", quality_score_col(t))
        .withColumn("lang_pred", language_id_col(t))
        .withColumn("_ftoks", tokens_col(F.regexp_replace(t, r"[^\w\s]", "")))
        .withColumn("fingerprint", doc_fingerprint_col(F.col("_ftoks")))
        .drop("_ftoks")
    )


_CHUNK_TARGET_BYTES = 64 << 20  # ~64 MB of input per range chunk
_CHUNK_CAP = 1 << 18  # keeps the offsets broadcast (one row/chunk) small
_UNKNOWN_SIZE = 1 << 60  # Catalyst's defaultSizeInBytes sentinel territory


def _default_chunk_count(df: DataFrame) -> int:
    """Range-chunk count scaled to the INPUT, not the session.

    ``spark.sql.shuffle.partitions`` is a session constant; at the 100 TB
    point the chunk count must grow with the data or each chunk's bounded
    window degenerates back into a giant task (VERDICT r03 item 9).
    Heuristic: ceil(plan sizeInBytes / 64 MB), clamped to
    [shuffle.partitions, 2^18]. The upper clamp bounds the offsets
    broadcast at 2^18 rows (~a few MB; 100 TB / 2^18 = ~400 MB chunks,
    still hundreds of rows-per-window short of skew). When Catalyst has no
    size statistic (in-memory test frames report the defaultSizeInBytes
    sentinel), fall back to shuffle.partitions — the pre-r04 behavior.
    """
    spark = df.sparkSession
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            .toString()
        )
    except Exception:
        return n
    if size <= 0 or size >= _UNKNOWN_SIZE:
        return n
    return max(n, min(-(-size // _CHUNK_TARGET_BYTES), _CHUNK_CAP))


def _partitioned_prefix_sum(
    df: DataFrame,
    part_col: str,
    order_cols: list,
    value_col: str,
    out_col: str,
    chunks: int | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` per ``part_col`` in ``order_cols``
    order — the classic two-level (per-chunk partial + offset) prefix sum.

    A plain ``Window.partitionBy(part_col)`` puts EVERY row of a source in
    ONE task; with a handful of sources at the 100 TB point those tasks do
    ~all the work (VERDICT r02 item 3). Instead:

    1. range-partition by (part, order) — rows of a source become
       contiguous ordered chunks across many tasks;
    2. per-(part, chunk) running sum — bounded windows, full parallelism;
    3. per-chunk totals (one row per (part, chunk) — tiny) get their own
       exclusive prefix sum, and the offsets broadcast-join back.

    The result is independent of where the range boundaries fall (offsets
    compensate), so it is exactly the single-window answer for ANY
    ``chunks`` value (pinned by TestPrefixSumEquivalence at forced tiny
    counts). ``chunks=None`` derives the count from the input size via
    ``_default_chunk_count``. Shuffle cost: one range exchange + one hash
    exchange of the slim projection, both fully parallel, plus a broadcast
    of #parts * #chunks offset rows.
    """
    from pyspark.sql.window import Window

    n = chunks if chunks is not None else _default_chunk_count(df)
    if n < 1:
        raise ValueError(f"chunks must be >= 1, got {n}")
    with_pid = (
        df.repartitionByRange(n, F.col(part_col), *order_cols)
        .withColumn("_pid", F.spark_partition_id())
        # two consumers (partials + the window) — materialize once so the
        # range shuffle isn't re-executed per branch
        .localCheckpoint(eager=True)
    )
    partials = with_pid.groupBy(part_col, "_pid").agg(
        F.sum(value_col).alias("_psum")
    )
    # exclusive prefix over the CHUNK TOTALS — one row per chunk, so this
    # single-task-per-part window touches #chunks rows, not the corpus
    wo = (
        Window.partitionBy(part_col)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = partials.select(
        part_col, "_pid",
        F.coalesce(F.sum("_psum").over(wo), F.lit(0)).alias("_off"),
    )
    win = (
        Window.partitionBy(part_col, "_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        with_pid.withColumn("_lcum", F.sum(value_col).over(win))
        .join(F.broadcast(offsets), [part_col, "_pid"])
        .withColumn(out_col, (F.col("_lcum") + F.col("_off")).cast("long"))
        .drop("_pid", "_lcum", "_off")
    )


def pack_sequences(
    docs: DataFrame,
    budget_tokens: int,
    partition_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing for LLM training batches.

    Documents are laid out contiguously in deterministic (partition, id)
    order; bin k holds token positions [k*budget, (k+1)*budget). Each doc
    reports the bin its FIRST token lands in plus its offset — the
    standard GPT-style pack-then-chunk layout. The running sum is the
    two-level prefix sum (_partitioned_prefix_sum), so no single task ever
    owns a whole source's cumsum — the 100 TB layout stays parallel even
    with a handful of sources.
    Output: [id_col, partition_col, token_count, bin_id, bin_offset].
    """
    t = F.col(text_col)
    scored = docs.select(
        id_col, partition_col, token_count_col(t).alias("token_count")
    )
    running = _partitioned_prefix_sum(
        scored, partition_col, [F.col(id_col).asc()], "token_count", "_run"
    )
    cum_before = (F.col("_run") - F.col("token_count")).cast("long")
    return running.select(
        id_col,
        partition_col,
        "token_count",
        F.floor(cum_before / budget_tokens).alias("bin_id"),
        (cum_before % budget_tokens).alias("bin_offset"),
    )


def split_assignment_col(
    id_col: Column,
    val_pct: float = 1.0,
    test_pct: float = 1.0,
    salt: str = "split-v1",
) -> Column:
    """Deterministic train/val/test assignment by content hash.

    md5_60bit(salt || id) % 10000 buckets the id uniformly; the first
    ``test_pct`` percent is test, the next ``val_pct`` percent val, the
    rest train. Deterministic across runs/cluster sizes (no RNG to ship)
    and reproducible in ANSI SQL — unlike sample(), rows never migrate
    between splits when the corpus grows, only new rows get assigned.
    """
    from payor_mdm_spark.functions.textnorm import md5_60bit

    bucket = F.pmod(md5_60bit(F.concat(F.lit(salt), id_col.cast("string"))), 10000)
    test_hi = int(test_pct * 100)
    val_hi = test_hi + int(val_pct * 100)
    return (
        F.when(bucket < test_hi, "test")
        .when(bucket < val_hi, "val")
        .otherwise("train")
    )


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    total_budget_tokens: int,
    source_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Domain-mixing selection: per-source token quotas filled best-first.

    ``weights`` maps source -> target mixture share; each source gets
    quota = share * total_budget_tokens and is filled in descending
    quality_score order (id ascending tie-break) until the quota is
    reached — the greedy mixture construction used for pretraining-data
    recipes. The per-source running sum is the two-level prefix sum
    (_partitioned_prefix_sum): no single task owns a source.
    Output: [id_col, source_col, token_count, quality_score, cum_tokens,
    selected].
    """
    t = F.col(text_col)
    quota = F.create_map(
        *[x for s, w in sorted(weights.items())
          for x in (F.lit(s), F.lit(float(w * total_budget_tokens)))]
    )
    scored = docs.select(
        id_col, source_col,
        token_count_col(t).alias("token_count"),
        quality_score_col(t).alias("quality_score"),
    )
    running = _partitioned_prefix_sum(
        scored, source_col,
        [F.col("quality_score").desc(), F.col(id_col).asc()],
        "token_count", "cum_tokens",
    )
    return running.select(
        id_col, source_col, "token_count", "quality_score", "cum_tokens",
        (F.col("cum_tokens")
         <= F.coalesce(quota[F.col(source_col)], F.lit(0.0))).alias("selected"),
    )


_PII_PATTERNS: list[tuple[str, str]] = [
    # order matters: longest / most specific first
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    (r"(\+?1[-. ]?)?(\(\d{3}\)|\d{3})[-. ]?\d{3}[-. ]?\d{4}\b", "<PHONE>"),
    (r"\b(?:\d[ -]?){13,16}\b", "<CARDNUM>"),
]


def redact_pii_col(text: Column) -> Column:
    """Rule-based PII redaction (emails, SSNs, phone numbers, long digit
    runs) as chained native regexp_replace — the standard pre-training
    scrub pass, fully JVM-side and ANSI-SQL reproducible."""
    out = text
    for pattern, token in _PII_PATTERNS:
        out = F.regexp_replace(out, pattern, token)
    return out


def repetition_signals(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Intra-document repetition quality signals (the Gopher/RefinedWeb
    repetition rules): duplicate word-n-gram ratio (1 - distinct/total)
    and the share of the document's tokens covered by its single most
    frequent n-gram. High values flag boilerplate/spam for filtering.

    One explode + two-level aggregation, all codegen: per-(doc, gram)
    counts partial-combine map-side, then one row per doc comes back.
    """
    from payor_mdm_spark.operators.dedup import _split_tokens, _word_ngrams

    grams = docs.select(
        F.col(id_col), _split_tokens(F.col(text_col)).alias("_tok")
    ).select(
        F.col(id_col), F.explode(_word_ngrams(F.col("_tok"), n)).alias("_g")
    )
    per_gram = grams.groupBy(id_col, "_g").agg(F.count(F.lit(1)).alias("_c"))
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("_c").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.max("_c").alias("_top"),
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("total_ngrams", F.lit(0)).alias("total_ngrams"),
            F.coalesce("distinct_ngrams", F.lit(0)).alias("distinct_ngrams"),
            F.round(
                F.when(
                    F.col("total_ngrams") > 0,
                    1.0 - F.col("distinct_ngrams") / F.col("total_ngrams"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("dup_ngram_ratio"),
            F.round(
                F.when(
                    F.col("total_ngrams") > 0,
                    F.col("_top") / F.col("total_ngrams"),
                ).otherwise(F.lit(0.0)),
                4,
            ).alias("top_ngram_share"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF.

    tf = in-document term count; idf = ln(N / df) with df = number of
    documents containing the term. Two hash aggregations (term counts,
    document frequencies) + one bounded window per document — no UDFs, no
    vocabulary broadcast. Deterministic tie-breaks (score desc, term asc).
    Output: [id_col, term, tf, df, tfidf, rank].

    Degenerate edge (ADVICE r05, documented rather than changed so the
    DuckDB oracle twin stays bit-matched): if EVERY ``id_col`` value is
    NULL, count_distinct yields N = 0 and ln(0/df) makes ``tfidf`` NULL
    for all rows while the window still ranks them — harmless on real
    data, where a corpus with only NULL ids is itself the bug to fix.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col), F.explode(tokens_col(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # Corpus size N folded into the SAME plan as a broadcast one-row
    # aggregate — not a separate driver-side docs.count() job (VERDICT r03
    # item 6). Building this frame runs zero jobs. Aggregating docs (not
    # tf) keeps N = all documents (unchanged semantics) AND keeps the
    # branch a doc_id-only column-pruned scan — deriving N from tf instead
    # would re-explode the whole corpus a third time. The scalar attaches
    # through a constant-key equi join (BroadcastHashJoin), not crossJoin —
    # a crossJoin of even a 1-row frame plans as BroadcastNestedLoopJoin,
    # which the plan-hygiene guardrail rejects outright so the O(n^2) shape
    # can never creep in unnoticed. The key must be NON-FOLDABLE (a literal
    # key constant-folds to `true` and degenerates back to a nested loop),
    # so both sides derive a zero from a real column; crc32(cast) keeps it
    # type-agnostic over id_col. coalesce guards a NULL id: crc32(NULL)*0
    # is NULL, and a NULL equi-join key never matches, which would silently
    # drop that document's terms from the output. The coalesce must wrap
    # the WHOLE product, not just crc32: coalesce(crc32(x), 0) is
    # non-nullable, and Catalyst folds non-nullable * 0 to literal 0 —
    # which re-degenerates the join to a nested loop.
    def _zero_key(col: Column) -> Column:
        return F.coalesce(
            F.crc32(col.cast("string")) * F.lit(0), F.lit(0)
        ).cast("int")

    n_docs = (
        docs.groupBy(_zero_key(F.col(id_col)).alias("_k"))
        .agg(F.count_distinct(F.col(id_col)).alias("_n_docs"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        tf.join(df_, "term")
        .withColumn("_k", _zero_key(F.col(id_col)))
        .join(F.broadcast(n_docs), "_k")
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("_n_docs").cast("double") / F.col("df")), 6
            ),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "tfidf", "rank")
    )


# ---------------------------------------------------------------------------
# Corpus cleanup (C4 / RefinedWeb-style line-level passes)
# ---------------------------------------------------------------------------

LINE_BLOCKLIST: tuple[str, ...] = (
    "cookie", "javascript", "lorem ipsum", "terms of use",
)


def line_quality_filter_col(
    text: Column,
    min_words: int = 3,
    blocklist: tuple[str, ...] = LINE_BLOCKLIST,
) -> Column:
    """Cleaned text: drop lines with fewer than ``min_words`` words or
    containing a blocklist term (C4's line rules, ported to column math).

    Pure per-row native expression — zero shuffles, scales as a map over
    the corpus scan. Reassembles surviving lines with '\\n'.
    """

    def keep(line: Column) -> Column:
        words = F.size(F.filter(F.split(line, " "), lambda w: w != ""))
        cond = words >= min_words
        low = F.lower(line)
        for term in blocklist:
            cond = cond & ~low.contains(term)
        return cond

    return F.array_join(F.filter(F.split(text, "\n"), keep), "\n")


def line_quality_filter(
    docs: DataFrame,
    min_words: int = 3,
    blocklist: tuple[str, ...] = LINE_BLOCKLIST,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """[id, text] -> [id, text (cleaned), n_lines, n_kept]."""
    lines = F.split(F.col(text_col), "\n")
    cleaned = line_quality_filter_col(F.col(text_col), min_words, blocklist)
    return docs.select(
        F.col(id_col),
        cleaned.alias(text_col),
        F.size(lines).alias("n_lines"),
        (F.size(F.split(cleaned, "\n"))
         - F.when(cleaned == "", 1).otherwise(0)).alias("n_kept"),
    )


def line_dedup(
    docs: DataFrame,
    max_count: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level duplicate-line removal (RefinedWeb line dedup).

    A line whose occurrence count across the WHOLE corpus exceeds
    ``max_count`` is boilerplate (nav bars, cookie banners, share
    prompts) and is removed from every document; surviving lines
    reassemble in original order. Output: [id, text, n_lines, n_dropped].

    Scale shape: explode lines once, hash-aggregate the per-line counts
    (map-side partial combine — the shuffle carries one row per DISTINCT
    line), equi-join the counts back, and one groupBy(id) reassembly.
    No window over the corpus, no driver-side state.
    """
    base = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_lines"),
    )
    lines = base.select(
        id_col, "n_lines",
        F.posexplode(F.split(F.col("_t"), "\n")).alias("_idx", "_line"),
    )
    freq = lines.groupBy("_line").agg(F.count(F.lit(1)).alias("_cnt"))
    kept = lines.join(freq, "_line").filter(F.col("_cnt") <= max_count)
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_line"))),
                lambda s: s["_line"],
            ),
            "\n",
        ).alias("_clean"),
        F.count(F.lit(1)).alias("_kept"),
    )
    return (
        base.join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("_clean"), F.lit("")).alias(text_col),
            "n_lines",
            (F.col("n_lines") - F.coalesce(F.col("_kept"), F.lit(0))).alias(
                "n_dropped"
            ),
        )
    )


def bigram_lm_scores(
    docs: DataFrame,
    k: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CCNet-style corpus-LM quality signal: per-document cross-entropy
    under an add-k-smoothed bigram model TRAINED ON THE CORPUS ITSELF.

    score = avg over the doc's bigrams of -ln((C(w1 w2) + k) /
    (C(w1) + k * V)); low = fluent/common phrasing, high = gibberish or
    out-of-domain — the standard perplexity filter for pretraining data,
    without an external LM artifact.

    Scale shape: two hash aggregations (bigram counts, unigram counts —
    map-side partial combine, shuffle one row per DISTINCT n-gram), two
    equi joins back, one per-doc aggregation. V (vocab size) is a scalar
    aggregate computed once. No windows, no driver-side loops.
    Output: [id, n_bigrams, cross_entropy] (NULL entropy for docs with
    fewer than two tokens).
    """
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.concat_ws(
                    " ", F.element_at(toks, i + 1), F.element_at(toks, i + 2)
                ).alias("bg"),
            ),
        ),
    ).otherwise(F.array())
    b = docs.select(F.col(id_col), F.explode(bigrams).alias("_p")).select(
        id_col, F.col("_p.w1").alias("_w1"), F.col("_p.bg").alias("_bg")
    )
    u = docs.select(F.explode(tokens_col(F.col(text_col))).alias("_w"))
    # materialize the unigram counts once: V is by definition uc's row
    # count, so the vocab scalar comes from the aggregated table instead
    # of a second full tokenize+distinct pass over the corpus
    uc = (
        u.groupBy("_w").agg(F.count(F.lit(1)).alias("_uc"))
        .localCheckpoint(eager=True)
    )
    bc = b.groupBy("_bg").agg(F.count(F.lit(1)).alias("_bc"))
    vocab = uc.count()
    neg_ln_p = -F.log(
        (F.col("_bc") + F.lit(k))
        / (F.col("_uc") + F.lit(k) * F.lit(float(vocab)))
    )
    per_doc = (
        b.join(bc, "_bg")
        .join(uc, F.col("_w1") == F.col("_w"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(neg_ln_p), 4).alias("cross_entropy"),
        )
    )
    return (
        docs.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            "cross_entropy",
        )
    )


def stratified_sample(
    docs: DataFrame,
    fractions: dict[str, float],
    key_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "sample-v1",
) -> DataFrame:
    """Deterministic per-stratum sampling by content hash.

    Row kept iff md5_60bit(salt || id) % 1e6 < fraction(stratum) * 1e6 —
    the downsampling knob for mixture construction at the 100 TB point:
    no RNG state to ship, membership never changes as the corpus grows
    (only new rows get assigned), reproducible in ANSI SQL, and the
    filter is a pure map over the scan (zero shuffles). Strata missing
    from ``fractions`` are dropped (fraction 0.0).
    """
    from payor_mdm_spark.functions.textnorm import md5_60bit

    frac = F.create_map(
        *[x for s, f in sorted(fractions.items()) for x in (F.lit(s), F.lit(float(f)))]
    )
    bucket = F.pmod(
        md5_60bit(F.concat(F.lit(salt), F.col(id_col).cast("string"))),
        1_000_000,
    )
    return docs.filter(
        bucket < F.coalesce(frac[F.col(key_col)], F.lit(0.0)) * 1_000_000
    )


def top_ngrams(
    docs: DataFrame,
    n: int = 5,
    k: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-wide most frequent word n-grams with document frequency —
    the discovery pass that feeds boilerplate caps (line_dedup max_count,
    contamination max_df): the top entries ARE the corpus boilerplate.

    Scale shape: one explode + one hash aggregation keyed on the n-gram
    (map-side partial combine); ORDER BY LIMIT plans as a distributed
    TakeOrdered (per-partition partial top-k, never a global sort of the
    distinct-gram set), and the rank window runs over only the k
    surviving rows. Output: [gram, occurrences, doc_freq, rank] with
    deterministic (count desc, gram asc) ordering.
    """
    from pyspark.sql.window import Window

    g = docs.select(
        F.col(id_col), tokens_col(F.col(text_col)).alias("_tok")
    ).select(
        F.col(id_col),
        F.explode(word_ngrams_col(F.col("_tok"), n, F.array())).alias("gram"),
    )
    agg = g.groupBy("gram").agg(
        F.count(F.lit(1)).alias("occurrences"),
        F.countDistinct(id_col).alias("doc_freq"),
    )
    top = agg.orderBy(F.col("occurrences").desc(), F.col("gram").asc()).limit(k)
    w = Window.orderBy(F.col("occurrences").desc(), F.col("gram").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "gram", "occurrences", "doc_freq", "rank"
    )


def gopher_filter(
    docs: DataFrame,
    min_tokens: int = 20,
    max_tokens: int = 100000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_dup_ngram_ratio: float = 0.3,
    max_top_ngram_share: float = 0.2,
    min_stopword_ratio: float = 0.02,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style document quality verdict: every rule evaluated, the
    verdict AND-composed, and each failure NAMED — the reasons array is
    what makes a 100 TB filtering run auditable (how much did each rule
    remove?) instead of a black-box keep/drop.

    Rules (MassiveText/Gopher defaults, thresholds configurable): token
    count in [min, max], mean word length in [min, max], duplicate n-gram
    ratio and top-n-gram share caps (intra-doc repetition), minimum
    stopword ratio (gibberish guard).

    One aggregation pass (repetition signals) joined onto per-row column
    math; output [id, keep, reasons] where reasons is a sorted array of
    failed rule names (empty when keep).
    """
    t = F.col(text_col)
    base = docs.select(
        F.col(id_col),
        token_count_col(t).alias("_ntok"),
        mean_word_len_col(t).alias("_mwl"),
        stopword_ratio_col(t).alias("_stop"),
    )
    rep = repetition_signals(docs, id_col=id_col, text_col=text_col)
    checks = [
        ("too_few_tokens", F.col("_ntok") < min_tokens),
        ("too_many_tokens", F.col("_ntok") > max_tokens),
        ("mean_word_len_low", F.col("_mwl") < min_mean_word_len),
        ("mean_word_len_high", F.col("_mwl") > max_mean_word_len),
        ("dup_ngram_ratio", F.col("dup_ngram_ratio") > max_dup_ngram_ratio),
        ("top_ngram_share", F.col("top_ngram_share") > max_top_ngram_share),
        ("stopword_ratio_low", F.col("_stop") < min_stopword_ratio),
    ]
    reasons = F.sort_array(
        F.filter(
            F.array(*[F.when(cond, F.lit(name)) for name, cond in checks]),
            lambda x: x.isNotNull(),
        )
    )
    return (
        base.join(rep.select(id_col, "dup_ngram_ratio", "top_ngram_share"), id_col)
        .select(
            id_col,
            (F.size(reasons) == 0).alias("keep"),
            reasons.alias("reasons"),
        )
    )


def _dup_span_windows(
    docs: DataFrame,
    span_len: int,
    id_col: str,
    text_col: str,
    anchor: str,
    sample_mod: int,
) -> DataFrame:
    """The exploded (id, _len, _pos, _h) window frame duplicate_span_signals
    aggregates — the frame whose row count IS the operator's shuffle volume.
    Split out so tools/sample_mod_study.py can measure the anchor/sampling
    knobs' row-thinning on the same code path the operator runs (VERDICT
    r04 item 7), not on a drift-prone copy of the expression.

    Shape (r06): explode-FIRST, then filter/hash as flat column expressions.
    The previous form built the window list with nested higher-order
    functions (filter/transform lambdas over a per-char sequence), which
    Spark evaluates INTERPRETED — per-element object allocation plus an
    interpreted md5 per window dominated the operator (guide §4.1: prefer
    codegen'd built-ins). Exploding the start-position sequence first keeps
    the anchor predicate, the md5_60bit, and the sample_mod filter inside
    ONE WholeStageCodegen stage; rows entering the shuffle are identical
    (same positions, same hashes — the explode is map-side either way)."""
    from payor_mdm_spark.functions.textnorm import md5_60bit

    if anchor not in ("char", "token"):
        raise ValueError(f"anchor must be 'char' or 'token', got {anchor!r}")
    if sample_mod < 1:
        raise ValueError(f"sample_mod must be >= 1, got {sample_mod}")

    from payor_mdm_spark.operators.blocking import _scan_splits_below

    t = F.col("_t")
    p = F.col("_pos")
    base = docs.select(
        F.col(id_col),
        F.col(text_col).alias("_t"),
        F.length(text_col).alias("_len"),
    ).filter(F.col("_len") >= span_len)
    # spread the hash-heavy explode across all cores when the source scan
    # has fewer splits than cores (guide §2.6 idle capacity / §6 input
    # splits); at scale the scan already has thousands of splits and the
    # repartition would be pure overhead, so _scan_splits_below skips it
    parallelism = docs.sparkSession.sparkContext.defaultParallelism
    if _scan_splits_below(base, parallelism):
        base = base.repartition(parallelism)
    rows = (
        base
        .select(
            id_col,
            "_len",
            "_t",
            F.explode(
                F.sequence(F.lit(1), F.col("_len") - (span_len - 1))
            ).alias("_pos"),
        )
    )
    if anchor == "token":
        rows = rows.filter(
            (p == F.lit(1))
            | ((t.substr(p - 1, F.lit(1)) == " ") & (t.substr(p, F.lit(1)) != " "))
        )
    rows = rows.select(
        id_col, "_len", "_pos",
        md5_60bit(t.substr(p, F.lit(span_len))).alias("_h"),
    )
    if sample_mod > 1:
        rows = rows.filter(F.col("_h") % sample_mod == 0)
    return rows


def duplicate_span_signals(
    docs: DataFrame,
    span_len: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    anchor: str = "char",
    sample_mod: int = 1,
) -> DataFrame:
    """Exact-substring duplication signals (the Lee et al. "Deduplicating
    Training Data" family): for every ``span_len``-char window that occurs
    MORE THAN ONCE corpus-wide (across docs or within one), measure how
    much of each document those duplicated windows cover.

    Output: [id, n_dup_spans, dup_char_coverage, dup_char_ratio] — the
    drop/trim signal for exact-substring dedup without materializing
    suffix arrays.

    Scale shape: one explode of (position, md5_60bit(window)) — the
    shuffle carries 8-byte hashes, never the windows themselves — one
    corpus-wide hash-aggregate keyed on the window hash, a semi-join back,
    and a per-doc aggregation. Coverage is the closed-form union of
    equal-length sorted intervals: span_len + sum(min(span_len, gap)) —
    no stateful fold, pure array math over the (doc-bounded) position
    list.

    Shuffle-volume controls (VERDICT r03 item 2 — ``anchor="char"`` emits
    one ~45-byte row per corpus character, a multi-petabyte shuffle at
    100 TB):

    * ``anchor="token"``: windows start only at token boundaries (doc
      start, or a non-space char preceded by a space) — O(#tokens) rows,
      ~6x fewer for English. Anchoring must be CONTENT-DEFINED for the
      reduction to be sound: a fixed char stride k > 1 samples window
      offsets modulo each doc's own alignment, so two documents sharing a
      span at different offsets emit DISJOINT window sets and the
      duplicate is missed — which is why no char-stride knob exists here.
      Token anchors are recomputed identically from the shared content
      itself, so every duplicated region that is token-aligned at its
      start and >= span_len chars is detected in ALL copies regardless of
      offset; a mid-token start delays detection to the first token
      boundary inside the region (<= longest-token chars, the
      content-defined analog of the classic "spans >= span_len + stride-1"
      stride bound).
    * ``sample_mod=p`` (> 1): additionally keep only windows whose hash is
      0 mod p — a further deterministic, content-defined 1/p thinning
      (both copies of a window share its hash, so survivors still
      collide). Detection becomes probabilistic: a duplicated region
      containing m anchored windows is missed with probability
      (1 - 1/p)^m, i.e. vanishing for the long regions exact-substring
      dedup targets. Coverage/ratio then measure the sampled subset (a
      consistent, comparable signal, not the exact char union).

    Defaults (``anchor="char"``, ``sample_mod=1``) are bit-identical to
    the original operator and keep the exact-coverage semantics the
    ``dup_span_signals`` oracle pins; the corpus-scale configuration is
    ``anchor="token", sample_mod=p`` (oracled separately as
    ``dup_span_signals_token``).
    """
    # eager materialization: the window frame feeds BOTH the corpus-wide
    # hot-hash aggregation and the semi-join probe side — without it the
    # (hash-heavy) explode lineage executes twice (guide §5 caching: reused
    # AND expensive to recompute). The frame is thin (id, len, pos, 8-byte
    # hash), never the windows themselves.
    g = _dup_span_windows(
        docs, span_len, id_col, text_col, anchor, sample_mod
    ).localCheckpoint(eager=True)
    hot = g.groupBy("_h").agg(F.count(F.lit(1)).alias("_c")).filter(F.col("_c") > 1)
    dup = g.join(hot.select("_h"), "_h", "semi")
    per_doc = dup.groupBy(id_col, "_len").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sort_array(F.collect_list("_pos")).alias("_ps"),
    )
    ps = F.col("_ps")
    gaps = F.zip_with(
        F.slice(ps, 2, F.greatest(F.size(ps) - 1, F.lit(0))),
        F.slice(ps, 1, F.greatest(F.size(ps) - 1, F.lit(0))),
        lambda a, b: F.least(F.lit(span_len), a - b),
    )
    coverage = F.when(
        F.size(ps) > 0,
        F.lit(span_len) + F.aggregate(gaps, F.lit(0), lambda acc, v: acc + v),
    ).otherwise(F.lit(0))
    scored = per_doc.select(
        id_col,
        "n_dup_spans",
        coverage.alias("dup_char_coverage"),
        F.round(coverage.cast("double") / F.col("_len"), 4).alias("dup_char_ratio"),
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            F.coalesce("dup_char_coverage", F.lit(0)).alias("dup_char_coverage"),
            F.coalesce("dup_char_ratio", F.lit(0.0)).alias("dup_char_ratio"),
        )
    )
