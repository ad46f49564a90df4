"""Similarity search over embedding columns (array<float>).

Two paths:
* brute_force_topk — exact cosine top-k of every query against the corpus.
  The dot product is a native ``F.aggregate``/``zip_with`` fold (JVM-side,
  no Python); top-k per query via window row_number. Baseline / oracle.
* lsh_topk — random-hyperplane LSH (sign of dot with deterministic
  hyperplanes derived from xxhash64 seeds — no RNG state to ship) buckets
  the corpus; each query only scores its bucket cohort, multiprobe over
  ``n_tables`` tables. The scale path: corpus scan is hash-partitioned by
  bucket and each query touches a small cohort instead of the full corpus.

Both are deterministic. Scores are rounded to 6 dp to make results stable
under float reassociation across partitionings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_col(a: Column, b: Column) -> Column:
    na, nb = _norm(a), _norm(b)
    return F.when((na > 0) & (nb > 0), _dot(a, b) / (na * nb)).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k: [query_id, vec_id, score, rank]. The corpus side is the
    big side; queries are broadcast (typical ANN serving shape).

    Norms are computed ONCE per corpus row / per query row BEFORE the
    cross join instead of per scored pair (the norm fold is an interpreted
    higher-order expression — recomputing both per pair tripled the
    per-row cost); the float program per pair (dot / (qn * cn), same
    operand order) is unchanged, so scores are bit-identical."""
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    ).withColumn("_cn", _norm(F.col("_cv")))
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_qv"),
    ).withColumn("_qn", _norm(F.col("_qv")))
    cos = F.when(
        (F.col("_qn") > 0) & (F.col("_cn") > 0),
        _dot(F.col("_qv"), F.col("_cv")) / (F.col("_qn") * F.col("_cn")),
    ).otherwise(F.lit(0.0))
    scored = c.crossJoin(F.broadcast(q)).withColumn("score", F.round(cos, 6))
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def hyperplane_weights(dim: int, n_planes: int, table: int) -> list[list[float]]:
    """Deterministic +/-1 hyperplane weights: parity of md5(f"{i},{p},{t}").

    Generated at PLAN time (plain hashlib, no Spark) and embedded as
    literals — the sketch pays zero per-row hashing, and the exact same
    weights can be embedded in an ANSI-SQL twin, which is what upgrades
    ann_lsh_topk from rows-only to a full value oracle."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{i},{p},{table}".encode()).hexdigest()[:15], 16) & 1
            else -1.0
            for i in range(dim)
        ]
        for p in range(n_planes)
    ]


def _hyperplane_sketch(vec: Column, n_planes: int, table: int, dim: int) -> Column:
    """Sign sketch: bit p = (dot(v, w_p) > 0) over literal +/-1 weights."""
    bits = []
    for p, row in enumerate(hyperplane_weights(dim, n_planes, table)):
        w = F.array(*[F.lit(x) for x in row])
        proj = F.aggregate(
            F.zip_with(vec, w, lambda v, wi: v * wi),
            F.lit(0.0).cast("double"),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(proj > 0, F.lit(1 << p)).otherwise(F.lit(0)))
    code = bits[0]
    for b in bits[1:]:
        code = code + b
    return code


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k via random-hyperplane LSH bucketing.

    Recall improves with n_tables (union of cohorts); cost per query is the
    cohort size, not the corpus size. ``dim`` (embedding width) is needed
    to build the literal weight matrix; when None it is read from one
    corpus row (a 1-row driver lookup).
    """
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv"))
    if dim is None:
        dim = len(c.select("_cv").first()["_cv"])

    c_buckets = c.select(
        id_col, "_cv",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), _hyperplane_sketch(F.col("_cv"), n_planes, t, dim).alias("b"))
                for t in range(n_tables)
            ])
        ).alias("_tb"),
    ).select(id_col, "_cv", F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))
    q_buckets = q.select(
        query_id_col, "_qv",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), _hyperplane_sketch(F.col("_qv"), n_planes, t, dim).alias("b"))
                for t in range(n_tables)
            ])
        ).alias("_tb"),
    ).select(query_id_col, "_qv", F.col("_tb.t").alias("_t"), F.col("_tb.b").alias("_b"))

    cohort = c_buckets.join(F.broadcast(q_buckets), ["_t", "_b"]).dropDuplicates(
        [query_id_col, id_col]
    )
    scored = cohort.withColumn(
        "score", F.round(cosine_col(F.col("_qv"), F.col("_cv")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def ivf_build_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    max_iter: int = 10,
):
    """IVF coarse quantizer: k-means centroids via pyspark.ml (seeded,
    deterministic). Returns a plain list of (centroid_id, vector) — small
    by construction, shipped broadcast."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    )
    model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(train)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def ivf_sample_centroids(
    corpus: DataFrame,
    n_centroids: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """IVF coarse quantizer from a deterministic hash sample: the
    ``n_centroids`` corpus rows with the lexicographically smallest
    md5(id) become the centroids (cid = rank in that order).

    A sampled-point quantizer is the standard k-means init (k-means++
    without refinement); cell balance is worse than a converged k-means
    but the construction is PURE SQL — ``row_number() over (order by
    md5(id))`` — so the whole IVF query gets an exact DuckDB twin, which
    the pyspark.ml KMeans quantizer (ivf_build_centroids) cannot.
    Returns the same [(centroid_id, vector)] shape as
    ivf_build_centroids; only the 8-row sample is collected."""
    rows = (
        corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_v"))
        .orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(n_centroids)
        .collect()
    )
    return [(i, [float(x) for x in r["_v"]]) for i, r in enumerate(rows)]


def _nearest_centroids(vec: Column, centroids: list, n_probe: int) -> Column:
    """Ids of the n_probe closest centroids (by cosine), as a native
    array expression over the broadcast centroid literals."""
    scored = F.array(
        *[
            F.struct(
                cosine_col(vec, F.array(*[F.lit(x) for x in cvec])).alias("s"),
                F.lit(cid).alias("c"),
            )
            for cid, cvec in centroids
        ]
    )
    top = F.slice(F.reverse(F.array_sort(scored)), 1, n_probe)
    return F.transform(top, lambda t: t["c"])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: list,
    k: int = 10,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF (inverted-file) ANN: corpus rows are assigned to their nearest
    centroid cell; each query scores only the rows in its n_probe nearest
    cells. The classic coarse-quantization scale path: cells partition the
    corpus, so a query touches ~n_probe/n_centroids of the data, and the
    cell assignment is a pure map (no shuffle beyond the cohort join)."""
    c = corpus.select(F.col(id_col), F.col(vec_col).cast("array<double>").alias("_cv"))
    q = queries.select(F.col(query_id_col), F.col(vec_col).cast("array<double>").alias("_qv"))

    c_cells = c.withColumn(
        "_cell", _nearest_centroids(F.col("_cv"), centroids, 1)[0]
    )
    q_cells = q.withColumn(
        "_cell", F.explode(_nearest_centroids(F.col("_qv"), centroids, n_probe))
    )
    cohort = c_cells.join(F.broadcast(q_cells), "_cell").dropDuplicates(
        [query_id_col, id_col]
    )
    scored = cohort.withColumn(
        "score", F.round(cosine_col(F.col("_qv"), F.col("_cv")), 6)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 10,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_block_size: int = 500,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the LSH cohort join:
    [id_a, id_b, score] with score >= threshold, id_a < id_b."""
    from payor_mdm_spark.operators.blocking import _pairs_within_blocks

    c = corpus.select(
        F.col(id_col).alias("source_record_id"),
        F.col(vec_col).cast("array<double>").alias("_cv"),
    )
    if dim is None:
        dim = len(c.select("_cv").first()["_cv"])
    members = c.select(
        "source_record_id", "_cv",
        F.explode(
            F.array(*[
                F.struct(F.lit(t).alias("t"), _hyperplane_sketch(F.col("_cv"), n_planes, t, dim).alias("b"))
                for t in range(n_tables)
            ])
        ).alias("_tb"),
    ).select(
        F.col("_tb.t").alias("_band"), F.col("_tb.b").alias("_bucket"),
        "source_record_id",
    )
    cands = (
        _pairs_within_blocks(members, ["_band", "_bucket"], max_block_size)
        .select(
            F.col("source_record_id_a").alias("id_a"),
            F.col("source_record_id_b").alias("id_b"),
        )
        .distinct()
    )
    a = c.select(F.col("source_record_id").alias("id_a"), F.col("_cv").alias("_va"))
    b = c.select(F.col("source_record_id").alias("id_b"), F.col("_cv").alias("_vb"))
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("score", F.round(cosine_col(F.col("_va"), F.col("_vb")), 6))
        .filter(F.col("score") >= threshold)
        .select("id_a", "id_b", "score")
    )
