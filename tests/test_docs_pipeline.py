"""End-to-end training-corpus pipeline: counts, resume, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from payor_mdm_spark.plans.docs_pipeline import DOC_STAGES, run_docs_pipeline
from payor_mdm_spark.sources.catalog import CheckpointStore

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def corpus(spark):
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    # inject exact + near duplicates so the dedup stages have real work
    dupes = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "source", "text"
    )
    near = d.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 600000).alias("doc_id"), "source",
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    return d.unionByName(dupes).unionByName(near).cache()


def test_end_to_end_shapes(spark, corpus, tmp_path, check_committed_reads):
    store = CheckpointStore(spark, str(tmp_path / "docs"))
    res = run_docs_pipeline(spark, corpus, store)
    t = res.tables
    n_in = corpus.count()
    assert t["doc_stats"].count() == n_in
    assert 0 < t["doc_filtered"].count() <= n_in
    # exact dedup removed the injected byte-identical copies
    assert t["doc_exact"].count() < t["doc_filtered"].count()
    # near-dup clustering removed the tail-edited copies too
    assert t["doc_keepers"].count() < t["doc_exact"].count()
    splits = {r.split for r in t["doc_splits"].select("split").distinct().collect()}
    assert splits <= {"train", "val", "test"} and "train" in splits
    packed = t["doc_packed"]
    assert packed.filter("bin_offset >= 2048").count() == 0
    # PII scrub ran before dedup: filtered text contains no raw emails
    assert t["doc_filtered"].filter(
        F.col("text").rlike(r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}")
    ).count() == 0
    # metrics persisted with per-stage rows
    by_stage = {r.stage: r.rows for r in store.read("docs_run_metrics").collect()}
    assert set(by_stage) == set(DOC_STAGES)
    check_committed_reads(store)


def test_resume_and_determinism(spark, corpus, tmp_path):
    store = CheckpointStore(spark, str(tmp_path / "docs2"))
    first = run_docs_pipeline(spark, corpus, store, collect_metrics=True)

    def snap(df):
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect())

    # snapshot BEFORE dropping: the resume re-write replaces these files
    first_keepers = snap(first.tables["doc_keepers"])
    # crash after doc_exact: downstream dropped, resume completes the rest
    for stg in ("doc_keepers", "doc_splits", "doc_packed"):
        store.drop(stg)
    second = run_docs_pipeline(
        spark, corpus, store, resume=True, collect_metrics=True
    )
    by_stage = {m["stage"]: m for m in second.metrics}
    assert by_stage["doc_stats"]["skipped"]
    assert by_stage["doc_exact"]["skipped"]
    assert not by_stage["doc_keepers"]["skipped"]

    # fresh full rerun reproduces identical outputs (determinism)
    store3 = CheckpointStore(spark, str(tmp_path / "docs3"))
    third = run_docs_pipeline(spark, corpus, store3, collect_metrics=False)
    assert snap(second.tables["doc_packed"]) == snap(third.tables["doc_packed"])
    assert first_keepers == snap(third.tables["doc_keepers"])


def test_docs_contracts(spark, corpus, tmp_path):
    from payor_mdm_spark.plans.contracts import validate_store

    store = CheckpointStore(spark, str(tmp_path / "docs_c"))
    run_docs_pipeline(spark, corpus, store, collect_metrics=False)
    checks = [c for c in validate_store(store) if c.table.startswith("doc_")]
    assert checks and all(c.passed for c in checks), [
        (c.table, c.check, c.failing_rows) for c in checks if not c.passed
    ]


def test_incremental_equals_full_rebuild(spark, tmp_path):
    """run_docs_incremental over a delta == run_docs_pipeline over the
    whole corpus, table for table — including an old-cluster MERGE: the
    delta doc C overlaps old docs A and B (which are NOT near-dups of
    each other), so batch clusters {A, B, C} and demotes B; the
    incremental path must demote B identically and re-pack B's source."""
    from payor_mdm_spark.plans.docs_pipeline import run_docs_incremental

    def words(tag, n=30):
        return " ".join(f"{tag}{i}word" for i in range(n))

    x, y, z = words("xx"), words("yy"), words("zz")
    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    old = base.filter(F.col("doc_id") < 250).unionByName(
        spark.createDataFrame(
            [(300, "srcA", f"{x} {y}"), (301, "srcA", f"{y} {z}")],
            "doc_id long, source string, text string",
        )
    )
    delta = spark.createDataFrame(
        [
            (700001, "srcB", None),        # exact dup of old doc 5 (filled below)
            (700002, "srcB", None),        # near dup of old doc 7
            (700003, "srcC", f"{x} {y} {z}"),  # bridges old clusters {300},{301}
            (700004, "srcC", words("fresh", 40)),  # genuinely new
        ],
        "doc_id long, source string, text string",
    )
    texts = {r.doc_id: r.text for r in base.filter(F.col("doc_id").isin(5, 7)).collect()}
    delta = (
        delta.withColumn(
            "text",
            F.when(F.col("doc_id") == 700001, F.lit(texts[5]))
            .when(F.col("doc_id") == 700002, F.lit(texts[7] + " tail"))
            .otherwise(F.col("text")),
        )
    )

    full_store = CheckpointStore(spark, str(tmp_path / "full"))
    run_docs_pipeline(
        spark, old.unionByName(delta), full_store, jaccard_threshold=0.5,
        collect_metrics=False,
    )
    inc_store = CheckpointStore(spark, str(tmp_path / "inc"))
    run_docs_pipeline(
        spark, old, inc_store, jaccard_threshold=0.5, collect_metrics=False
    )
    res = run_docs_incremental(spark, delta, inc_store, jaccard_threshold=0.5)

    def snap(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()
        )

    for name in DOC_STAGES:
        assert snap(inc_store.read(name)) == snap(full_store.read(name)), name

    keepers = {r.doc_id for r in res.tables["doc_keepers"].select("doc_id").collect()}
    assert 300 in keepers and 301 not in keepers  # merge demoted old keeper B
    assert 700003 not in keepers                  # bridge doc joins root 300
    assert 700001 not in keepers and 700002 not in keepers  # dups dropped
    assert 700004 in keepers                      # fresh doc kept


def test_docs_streaming_bridge_matches_full_rebuild(spark, tmp_path):
    """Two document micro-batches through the streaming bridge (batch 2 a
    delta with exact/near dups of batch 1) must land on the same corpus
    state as a batch rebuild over everything the stream saw — and a full
    replay of batch 2 must be a committed no-op."""
    import os

    from payor_mdm_spark.streaming.docs_bridge import (
        incremental_docs_stream, read_docs_stream,
    )

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    b1 = base.filter(F.col("doc_id") < 300)
    b2 = (
        base.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < 350))
        .unionByName(
            base.filter(F.col("doc_id") % 13 == 0).select(
                (F.col("doc_id") + 800000).alias("doc_id"), "source",
                F.concat("text", F.lit(" tail")).alias("text"),
            )
        )
    )

    src = str(tmp_path / "docs_src")
    os.makedirs(src, exist_ok=True)
    store = CheckpointStore(spark, str(tmp_path / "docs_bridge"))
    stream_ckpt = str(tmp_path / "docs_stream_ckpt")

    def run_once():
        q = incremental_docs_stream(
            spark, read_docs_stream(spark, src), store, stream_ckpt,
        ).start()
        q.awaitTermination(300)

    b1.write.mode("append").parquet(src)
    run_once()
    assert store.exists("doc_keepers")
    b2.write.mode("append").parquet(src)
    run_once()

    full_store = CheckpointStore(spark, str(tmp_path / "docs_bridge_full"))
    run_docs_pipeline(
        spark, b1.unionByName(b2), full_store, collect_metrics=False
    )

    def snap(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()
        )

    for name in DOC_STAGES:
        assert snap(store.read(name)) == snap(full_store.read(name)), name

    # replay: re-process batch 2 directly — ledger reduces it to a no-op
    from payor_mdm_spark.streaming.docs_bridge import process_docs_batch

    before = snap(store.read("doc_keepers"))
    process_docs_batch(spark, store, b2)
    assert snap(store.read("doc_keepers")) == before


def test_incremental_guards(spark, tmp_path):
    """Out-of-order delta ids fail fast (the equivalence contract), a
    signature table built with different MinHash parameters is rejected,
    and a crashed bootstrap (doc_keepers committed, doc_packed missing)
    re-runs the bootstrap instead of wedging the bridge."""
    import shutil

    import pytest as _pytest

    from payor_mdm_spark.operators.dedup import minhash_dedup_incremental
    from payor_mdm_spark.plans.docs_pipeline import run_docs_incremental
    from payor_mdm_spark.streaming.docs_bridge import process_docs_batch

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    ).filter(F.col("doc_id") < 60)
    store = CheckpointStore(spark, str(tmp_path / "g"))
    run_docs_pipeline(spark, base, store, collect_metrics=False)

    # out-of-order delta: id 10 is already committed
    stale = spark.createDataFrame(
        [(10, "srcX", "some fresh text that is long enough to pass filters "
          "with the usual words in it for the quality gate to be fine")],
        "doc_id long, source string, text string",
    )
    with _pytest.raises(ValueError, match="monotonic|exceed every committed"):
        run_docs_incremental(spark, stale, store)

    # the guard keys on the doc_stats LEDGER, not the doc_exact survivors:
    # a delta id colliding with a committed-but-FILTERED-OUT doc must be
    # rejected too, or the ledger would grow a duplicate doc_id (ADVICE r03)
    junk = spark.createDataFrame(
        [(5000, "srcJ", "spam " * 200)],
        "doc_id long, source string, text string",
    )
    led_store = CheckpointStore(spark, str(tmp_path / "ledger_guard"))
    run_docs_pipeline(spark, base.unionByName(junk), led_store,
                      collect_metrics=False)
    assert led_store.read("doc_stats").filter(F.col("doc_id") == 5000).count() == 1
    assert led_store.read("doc_exact").filter(F.col("doc_id") == 5000).count() == 0, \
        "fixture must be filtered out for this test to bite"
    collide = spark.createDataFrame(
        [(5000, "srcJ", "a new document reusing the filtered-out ledger id "
          "which the survivor-based guard would wrongly admit")],
        "doc_id long, source string, text string",
    )
    with _pytest.raises(ValueError, match="monotonic|exceed every committed"):
        run_docs_incremental(spark, collide, led_store)

    # parameter mismatch against the committed signature table
    old = base.select("doc_id", "text")
    new = spark.createDataFrame(
        [(900001, "a genuinely new document for the parameter check test")],
        "doc_id long, text string",
    )
    minhash_dedup_incremental(old, new, store=store, table="sig_params")
    with _pytest.raises(ValueError, match="params"):
        minhash_dedup_incremental(
            old, new, store=store, table="sig_params", hash_mode="md5"
        )

    # crashed bootstrap: doc_packed missing -> bridge re-runs bootstrap
    shutil.rmtree(tmp_path / "g" / "doc_packed")
    delta = spark.createDataFrame(
        [(900002, "src0", "another new doc that should flow through the "
          "re-run bootstrap without touching the incremental path")],
        "doc_id long, source string, text string",
    )
    process_docs_batch(spark, store, delta)
    assert store.exists("doc_packed")  # bootstrap re-ran and committed


@pytest.mark.parametrize("hash_mode", ["md5", "xxhash64"])
def test_minhash_band_key_hash_adds_no_candidate_pairs(spark, corpus, hash_mode):
    """The band join keys on an 8-byte xxhash64 of each band's signature
    rows, not on the rows themselves. A hash collision could only ADD a
    candidate pair; on this corpus the distinct candidate pair set must
    equal a reference keyed on the raw band rows: the ``|``-joined string
    the DuckDB twin uses in md5 mode, the array of rows in xxhash64 mode."""
    from payor_mdm_spark.operators.blocking import _pairs_within_blocks, _with_signature
    from payor_mdm_spark.operators.dedup import _minhash_band_members

    num_hashes, bands = 64, 16  # minhash_dedup_pairs defaults
    rows_per_band = num_hashes // bands
    sig = (
        _with_signature(
            corpus.select(F.col("doc_id").alias("source_record_id"), "text"),
            "text", num_hashes, 5, hash_mode=hash_mode,
        )
        .select("source_record_id", "_sig")
        .localCheckpoint(eager=True)
    )
    hashed = _pairs_within_blocks(
        _minhash_band_members(sig, bands, rows_per_band, hash_mode),
        ["_band", "_bucket"], 500,
    ).select("source_record_id_a", "source_record_id_b")

    def raw_key(b):
        rows = [
            F.element_at("_sig", b * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ]
        if hash_mode == "md5":
            return F.concat_ws("|", *[r.cast("string") for r in rows])
        return F.array(*rows)

    members = sig.select(
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"), raw_key(b).alias("key"))
            for b in range(bands)
        ])).alias("m"),
        "source_record_id",
    ).select("m.band", "m.key", "source_record_id")
    side_a = members.withColumnRenamed("source_record_id", "source_record_id_a")
    side_b = members.withColumnRenamed("source_record_id", "source_record_id_b")
    raw = (
        side_a.join(side_b, ["band", "key"])
        .filter(F.col("source_record_id_a") < F.col("source_record_id_b"))
        .select("source_record_id_a", "source_record_id_b")
    )

    def pair_set(df):
        return {tuple(r) for r in df.distinct().collect()}

    want = pair_set(raw)
    assert want  # the injected duplicates share every band
    assert pair_set(hashed) == want
