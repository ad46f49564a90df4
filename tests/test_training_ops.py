"""Training-data operators: dedup, similarity search, text analysis,
multimodal plumbing."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy dog again and again!"),  # near dup
        (4, "completely unrelated text about spark query engines and shuffles"),
        (5, "el rapido zorro marron salta sobre el perro perezoso una y otra vez"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestDedup:
    def test_exact_duplicates(self, docs):
        from payor_mdm_spark.operators.dedup import exact_dedup, exact_duplicates

        groups = exact_duplicates(docs).collect()
        assert len(groups) == 1
        assert groups[0].doc_ids == [1, 2]
        kept = {r.doc_id for r in exact_dedup(docs).collect()}
        assert kept == {1, 3, 4, 5}

    def test_minhash_near_dup(self, docs):
        from payor_mdm_spark.operators.dedup import minhash_dedup_pairs

        pairs = minhash_dedup_pairs(docs, jaccard_threshold=0.5).collect()
        got = {(r.id_a, r.id_b) for r in pairs}
        assert (1, 2) in got  # exact dup has jaccard 1.0
        assert (1, 3) in got  # near dup
        assert all(4 not in p and 5 not in p for p in got)

    def test_ngram_jaccard_pairs(self, spark, docs):
        from payor_mdm_spark.operators.dedup import ngram_jaccard_pairs

        cands = spark.createDataFrame(
            [(1, 2), (1, 4)], "id_a long, id_b long"
        )
        rows = {(r.id_a, r.id_b): r.jaccard for r in
                ngram_jaccard_pairs(docs, cands, n=3).collect()}
        assert rows[(1, 2)] == pytest.approx(1.0)
        assert rows[(1, 4)] < 0.1

    def test_simhash_candidates(self, docs):
        from payor_mdm_spark.operators.dedup import simhash_candidate_pairs

        got = {(r.id_a, r.id_b) for r in simhash_candidate_pairs(docs).collect()}
        assert (1, 2) in got

    def test_simhash_null_text_matches_aggregate_form(self, spark):
        """ADVICE r02: NULL-text docs keep a NULL simhash (bit-identical to
        _simhash_from_hashes) and never pair — not even with each other or
        with genuinely empty docs (which correctly hash to 0)."""
        from payor_mdm_spark.operators.dedup import (
            simhash_candidate_pairs,
            simhash_col,
            simhash_signatures,
        )

        d = spark.createDataFrame(
            [(1, None), (2, None), (3, ""), (4, "   "), (5, "hello world")],
            "doc_id long, text string",
        )
        sigs = {r.source_record_id: r._sh for r in simhash_signatures(d).collect()}
        agg = {
            r.doc_id: r.sh
            for r in d.select("doc_id", simhash_col(F.col("text")).alias("sh")).collect()
        }
        assert sigs == agg  # bit-identical incl. the NULLs
        assert sigs[1] is None and sigs[2] is None
        assert sigs[3] == 0 and sigs[4] == 0
        got = {(r.id_a, r.id_b) for r in simhash_candidate_pairs(d).collect()}
        assert got == {(3, 4)}  # empty docs pair; NULL docs pair with nothing


class TestSimilaritySearch:
    @pytest.fixture(scope="class")
    def vectors(self, spark):
        import math

        rows = []
        for i in range(50):
            angle = (i % 10) / 10.0 * math.pi / 2
            rows.append((i, [math.cos(angle), math.sin(angle), 0.1 * (i // 10)]))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_brute_force_topk_exact(self, spark, vectors):
        from payor_mdm_spark.operators.similarity_search import brute_force_topk

        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0])], "query_id long, embedding array<float>"
        )
        top = brute_force_topk(vectors, queries, k=5).collect()
        assert len(top) == 5
        assert top[0].rank == 1
        # best match is vec 0 ([1,0,0]) with score 1.0
        best = [r for r in top if r.rank == 1][0]
        assert best.vec_id == 0
        assert best.score == pytest.approx(1.0)
        # ranks are ordered by descending score
        scores = [r.score for r in sorted(top, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)

    def test_lsh_topk_recall_vs_brute_force(self, spark, vectors):
        from payor_mdm_spark.operators.similarity_search import (
            brute_force_topk, lsh_topk,
        )

        queries = spark.createDataFrame(
            [(0, [1.0, 0.0, 0.0])], "query_id long, embedding array<float>"
        )
        bf = {r.vec_id for r in brute_force_topk(vectors, queries, k=3).collect()}
        ann = {r.vec_id for r in lsh_topk(vectors, queries, k=3, n_tables=8).collect()}
        # multiprobe LSH should recover most of the exact top-3
        assert len(bf & ann) >= 2

    def test_embedding_near_dup(self, spark):
        from payor_mdm_spark.operators.similarity_search import (
            embedding_near_dup_pairs,
        )

        rows = [
            (1, [1.0, 0.0]), (2, [0.999, 0.001]), (3, [0.0, 1.0]),
        ]
        corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        got = {(r.id_a, r.id_b) for r in
               embedding_near_dup_pairs(corpus, threshold=0.99).collect()}
        assert (1, 2) in got
        assert all(3 not in p for p in got)


class TestTextAnalysis:
    def test_token_and_quality(self, spark, docs):
        from payor_mdm_spark.operators.text_analysis import analyze_documents

        rows = {r.doc_id: r for r in analyze_documents(docs).collect()}
        assert rows[1].token_count == 12
        assert 0.0 <= rows[1].quality_score <= 1.0
        assert rows[1].fingerprint == rows[2].fingerprint  # same text
        assert rows[1].fingerprint != rows[4].fingerprint

    def test_language_id(self, spark, docs):
        from payor_mdm_spark.operators.text_analysis import analyze_documents

        rows = {r.doc_id: r.lang_pred for r in analyze_documents(docs).collect()}
        assert rows[1] == "en"
        assert rows[5] == "es"


class TestMultimodal:
    @pytest.fixture(scope="class")
    def media(self, spark):
        from payor_mdm_spark.operators.multimodal import MEDIA_SCHEMA

        rows = [
            ("m1", "image", "image/png", b"\x89PNGfake", (64, 48, None, None)),
            ("m2", "image", "image/png", b"\x89PNGother", (32, 32, None, None)),
            ("m3", "video", "video/mp4", b"\x00mp4fake", (640, 480, 3500, None)),
            ("m4", "audio", "audio/wav", b"RIFFfake", (None, None, 2000, 16000)),
        ]
        return spark.createDataFrame(rows, MEDIA_SCHEMA)

    def test_image_featurize_plumbing(self, media):
        from payor_mdm_spark.operators.multimodal import decode_and_featurize_images

        rows = {r.media_id: r for r in decode_and_featurize_images(media, dim=8).collect()}
        assert set(rows) == {"m1", "m2"}
        assert len(rows["m1"].features) == 8
        assert rows["m1"].width == 64
        # deterministic fake features
        again = {r.media_id: r.features for r in
                 decode_and_featurize_images(media, dim=8).collect()}
        assert again["m1"] == rows["m1"].features

    def test_strict_mode_raises(self, media):
        import py4j.protocol
        from payor_mdm_spark.operators.multimodal import decode_and_featurize_images

        with pytest.raises(Exception):
            decode_and_featurize_images(media, strict=True).collect()

    def test_video_frame_sampling(self, media):
        from payor_mdm_spark.operators.multimodal import sample_video_frames

        frames = sample_video_frames(media, every_ms=1000).collect()
        assert len(frames) == 3  # 3500ms -> 3 samples
        assert [f.frame_idx for f in sorted(frames, key=lambda f: f.frame_idx)] == [0, 1, 2]

    def test_media_stats(self, media):
        from payor_mdm_spark.operators.multimodal import media_stats

        stats = {r.kind: r.n for r in media_stats(media).collect()}
        assert stats == {"image": 2, "video": 1, "audio": 1}


class TestDedupClusters:
    def test_transitive_chains_and_singletons(self, spark):
        from payor_mdm_spark.operators.dedup import dedup_clusters

        docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
        # chain 0-1-2, pair 5-6, singletons elsewhere
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (5, 6)], "id_a long, id_b long"
        )
        got = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
        assert got[0].cluster_root == 0 and got[0].is_keeper
        assert got[1].cluster_root == 0 and not got[1].is_keeper
        assert got[2].cluster_root == 0
        assert got[5].cluster_root == 5 and got[6].cluster_root == 5
        for i in (3, 4, 7, 8, 9):
            assert got[i].cluster_root == i and got[i].is_keeper

    def test_numeric_min_not_lexicographic(self, spark):
        from payor_mdm_spark.operators.dedup import dedup_clusters

        docs = spark.createDataFrame([(99,), (130,)], "doc_id long")
        pairs = spark.createDataFrame([(99, 130)], "id_a long, id_b long")
        got = {r.doc_id: r.cluster_root for r in dedup_clusters(docs, pairs).collect()}
        assert got == {99: 99, 130: 99}  # '130' < '99' lexicographically — padded ids fix it

    def test_long_string_ids_sharing_prefix_do_not_collide(self, spark):
        # regression: a fixed-width lpad TRUNCATED >24-char ids, so two
        # distinct URL/hash ids sharing a 24-char prefix became one node
        # and unrelated clusters merged through it
        from payor_mdm_spark.operators.dedup import dedup_clusters

        p = "https://example.com/very/long/path/"  # 35 chars, shared prefix
        docs = spark.createDataFrame(
            [(p + "a",), (p + "b",), ("zz-short",)], "doc_id string"
        )
        pairs = spark.createDataFrame([(p + "b", "zz-short")], "id_a string, id_b string")
        got = {r.doc_id: r for r in dedup_clusters(docs, pairs).collect()}
        assert got[p + "a"].cluster_root == p + "a" and got[p + "a"].is_keeper
        assert got[p + "b"].cluster_root == got["zz-short"].cluster_root
        # shorter key sorts first under the length-prefixed representative
        assert got[p + "b"].cluster_root == "zz-short"


class TestContamination:
    def _corpora(self, spark):
        train = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog every day"),
                (2, "completely unrelated training text about spark planning"),
                (3, "boilerplate header boilerplate header boilerplate header"),
            ],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [
                (101, "the quick brown fox jumps over the lazy dog every day"),  # exact
                (102, "the quick brown fox jumps over the lazy dog every night"),  # near
                (103, "totally clean evaluation document with novel content here"),
            ],
            "doc_id long, text string",
        )
        return train, test

    def test_exact_near_and_clean(self, spark):
        from payor_mdm_spark.operators.dedup import cross_corpus_contamination

        train, test = self._corpora(spark)
        got = cross_corpus_contamination(
            train, test, n=3, jaccard_threshold=0.5, max_df=100
        ).collect()
        by_test = {}
        for r in got:
            by_test.setdefault(r.test_id, []).append(r)
        assert by_test[101][0].method == "exact" and by_test[101][0].jaccard == 1.0
        assert by_test[102][0].method == "near" and by_test[102][0].train_id == 1
        assert 0.5 <= by_test[102][0].jaccard < 1.0
        assert 103 not in by_test  # clean doc reports nothing

    def test_max_df_drops_boilerplate_grams(self, spark):
        from payor_mdm_spark.operators.dedup import cross_corpus_contamination

        train = spark.createDataFrame(
            [(i, "shared boilerplate gram text") for i in range(5)],
            "doc_id long, text string",
        )
        test = spark.createDataFrame(
            [(900, "shared boilerplate gram text plus unique suffix")],
            "doc_id long, text string",
        )
        # df cap 2 < 5 -> the only gram is dropped -> no near candidates
        got = cross_corpus_contamination(
            train, test, n=4, jaccard_threshold=0.1, max_df=2
        ).collect()
        assert all(r.method == "exact" for r in got)


class TestPackSequences:
    def test_bins_and_offsets(self, spark):
        from payor_mdm_spark.operators.text_analysis import pack_sequences

        docs = spark.createDataFrame(
            [
                (1, "a", "one two three"),          # 3 tokens, cum_before 0
                (2, "a", "four five"),               # cum_before 3
                (3, "a", "six seven eight nine"),    # cum_before 5 -> bin 1 at budget 4
                (4, "b", "x"),                       # separate partition restarts
            ],
            "doc_id long, source string, text string",
        )
        got = {r.doc_id: r for r in pack_sequences(docs, budget_tokens=4).collect()}
        assert (got[1].bin_id, got[1].bin_offset) == (0, 0)
        assert (got[2].bin_id, got[2].bin_offset) == (0, 3)
        assert (got[3].bin_id, got[3].bin_offset) == (1, 1)
        assert (got[4].bin_id, got[4].bin_offset) == (0, 0)

    def test_no_single_partition_per_source_window(self, spark):
        """VERDICT r02 item 3: the corpus-sized running-sum window must be
        partitioned by (source, chunk) — a window partitioned by source
        alone puts a whole source in ONE task. Only the tiny chunk-total
        offset window (input: one row per chunk) may partition by source."""
        from payor_mdm_spark.operators.text_analysis import (
            mixture_plan,
            pack_sequences,
        )

        docs = spark.createDataFrame(
            [(1, "a", "x")], "doc_id long, source string, text string"
        )
        for df in (pack_sequences(docs, 2048), mixture_plan(docs, {"a": 1.0}, 10)):
            plan = df._jdf.queryExecution().executedPlan().toString()
            for line in plan.splitlines():
                if "windowspecdefinition" not in line:
                    continue
                # the offset window aggregates _psum (chunk totals); every
                # other (corpus-sized) window must include _pid in its spec
                if "_psum" in line:
                    continue
                assert "_pid" in line, f"corpus window lacks chunk key:\n{line}"


class TestImageHeaderSniff:
    """Real (non-stubbed) container metadata parsing from byte layout."""

    @staticmethod
    def _png(w, h):
        ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
        return (
            b"\x89PNG\r\n\x1a\n"
            + (13).to_bytes(4, "big") + b"IHDR" + ihdr + b"\x00\x00\x00\x00"
        )

    @staticmethod
    def _jpeg(w, h):
        # SOI + APP0 stub + SOF0 with dims
        app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
            + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\x00" * 9
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    @staticmethod
    def _gif(w, h):
        return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00\x00\x00"

    def test_pure_python_parsers(self):
        from payor_mdm_spark.operators.multimodal import sniff_image_header

        assert sniff_image_header(self._png(640, 480)) == ("image/png", 640, 480, "ok")
        assert sniff_image_header(self._jpeg(1920, 1080)) == ("image/jpeg", 1920, 1080, "ok")
        assert sniff_image_header(self._gif(32, 16)) == ("image/gif", 32, 16, "ok")
        assert sniff_image_header(b"\x89PNG\r\n\x1a\n\x00") == ("image/png", None, None, "truncated")
        assert sniff_image_header(b"plain text") == (None, None, None, "unknown")
        assert sniff_image_header(None) == (None, None, None, "unknown")

    def test_spark_sniff_operator(self, spark):
        from payor_mdm_spark.operators.multimodal import (
            MEDIA_SCHEMA,
            sniff_image_headers,
        )

        rows = [
            ("m1", "image", "application/octet-stream", bytearray(self._png(100, 50)),
             {"width": None, "height": None, "duration_ms": None, "sample_rate": None}),
            ("m2", "image", "application/octet-stream", bytearray(self._jpeg(8, 4)),
             {"width": None, "height": None, "duration_ms": None, "sample_rate": None}),
            ("m3", "image", "application/octet-stream", bytearray(b"garbage"),
             {"width": None, "height": None, "duration_ms": None, "sample_rate": None}),
            ("m4", "audio", "audio/wav", bytearray(b"RIFF"),
             {"width": None, "height": None, "duration_ms": 1000, "sample_rate": 16000}),
        ]
        media = spark.createDataFrame(rows, MEDIA_SCHEMA)
        got = {r.media_id: r for r in sniff_image_headers(media).collect()}
        assert set(got) == {"m1", "m2", "m3"}  # audio filtered out
        assert (got["m1"].mime_detected, got["m1"].width, got["m1"].height) == ("image/png", 100, 50)
        assert (got["m2"].mime_detected, got["m2"].width, got["m2"].height) == ("image/jpeg", 8, 4)
        assert got["m3"].header_ok == "unknown"


class TestSplitMixRedact:
    def test_split_stable_under_corpus_growth(self, spark):
        from payor_mdm_spark.operators.text_analysis import split_assignment_col

        small = spark.createDataFrame([(i,) for i in range(500)], "doc_id long")
        big = spark.createDataFrame([(i,) for i in range(2000)], "doc_id long")
        s1 = {r.doc_id: r.s for r in small.select(
            "doc_id", split_assignment_col(F.col("doc_id")).alias("s")).collect()}
        s2 = {r.doc_id: r.s for r in big.select(
            "doc_id", split_assignment_col(F.col("doc_id")).alias("s")).collect()}
        assert all(s2[k] == v for k, v in s1.items())  # no migration
        from collections import Counter
        c = Counter(s2.values())
        assert 0.005 <= c["test"] / 2000 <= 0.02   # ~1%
        assert 0.005 <= c["val"] / 2000 <= 0.02
        assert c["train"] / 2000 > 0.95

    def test_mixture_quota_fill(self, spark):
        from payor_mdm_spark.operators.text_analysis import mixture_plan

        rows = []
        for i in range(10):
            rows.append((i, "a", "one two three four five six seven eight nine ten"))
        for i in range(10, 16):
            rows.append((i, "b", "alpha beta gamma delta"))
        docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
        plan = mixture_plan(docs, {"a": 0.5, "b": 0.5}, total_budget_tokens=40)
        got = {r.doc_id: r for r in plan.collect()}
        # source a: 10-token docs, quota 20 -> exactly 2 selected
        assert sum(1 for i in range(10) if got[i].selected) == 2
        # source b: 4-token docs, quota 20 -> 5 selected (20 tokens exactly)
        assert sum(1 for i in range(10, 16) if got[i].selected) == 5
        # selection is best-quality-first with id tie-break (all equal here)
        assert got[0].selected and got[1].selected and not got[2].selected

    def test_mixture_unknown_source_gets_zero_quota(self, spark):
        from payor_mdm_spark.operators.text_analysis import mixture_plan

        docs = spark.createDataFrame(
            [(1, "mystery", "some words here")], "doc_id long, source string, text string"
        )
        got = mixture_plan(docs, {"a": 1.0}, 1000).collect()[0]
        assert got.selected is False

    def test_redaction_patterns(self, spark):
        from payor_mdm_spark.operators.text_analysis import redact_pii_col

        df = spark.createDataFrame(
            [(1, "mail a.b@c.io, ssn 123-45-6789, tel (212) 555-0101, "
                 "card 4111-1111-1111-1111, clean text stays")],
            "id long, text string",
        )
        out = df.select(redact_pii_col(F.col("text")).alias("t")).collect()[0].t
        assert "<EMAIL>" in out and "<SSN>" in out and "<PHONE>" in out
        assert "<CARDNUM>" in out
        assert "clean text stays" in out
        assert "a.b@c.io" not in out and "123-45-6789" not in out


class TestRepetitionSignals:
    def test_repeated_vs_clean(self, spark):
        from payor_mdm_spark.operators.text_analysis import repetition_signals

        docs = spark.createDataFrame(
            [
                (1, "spam spam spam spam spam spam spam spam"),
                (2, "every word here is completely different from neighbors"),
                (3, "ab"),          # shorter than n -> single joined gram
                (4, ""),            # empty
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in repetition_signals(docs).collect()}
        assert got[1].dup_ngram_ratio > 0.8      # one gram repeated
        assert got[1].top_ngram_share > 0.8
        assert got[2].dup_ngram_ratio == 0.0     # all grams distinct
        assert got[3].total_ngrams == 1 and got[3].dup_ngram_ratio == 0.0
        assert got[4].total_ngrams == 1          # [''] single empty gram


class TestTfidf:
    def test_unique_terms_outrank_ubiquitous(self, spark):
        from payor_mdm_spark.operators.text_analysis import tfidf_top_terms

        docs = spark.createDataFrame(
            [
                (1, "common common zebra"),
                (2, "common quartz"),
                (3, "common common common"),
            ],
            "doc_id long, text string",
        )
        got = {(r.doc_id, r.rank): r for r in tfidf_top_terms(docs, k=2).collect()}
        assert got[(1, 1)].term == "zebra"      # df=1 beats tf-heavy 'common'
        assert got[(2, 1)].term == "quartz"
        # 'common' appears in every doc -> idf = ln(1) = 0
        assert got[(3, 1)].tfidf == 0.0

    def test_no_driver_side_count_job(self, spark):
        """VERDICT r03 item 6: corpus size N is a broadcast scalar inside
        the one query plan, not a second full-scan count job — building
        the frame must run ZERO jobs (the old code ran a distinct().count()
        at construction time)."""
        from payor_mdm_spark.operators.text_analysis import tfidf_top_terms

        sc = spark.sparkContext
        docs = spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
        )
        sc.setJobGroup("tfidf_build", "construction only")
        df = tfidf_top_terms(docs, k=1)
        n_build = len(sc.statusTracker().getJobIdsForGroup("tfidf_build"))
        sc.setJobGroup("", "")
        assert n_build == 0, "operator construction must be fully lazy"
        # and the folded-in N still yields correct idf: N=2, df(alpha)=2
        got = {r.doc_id: r for r in df.collect()}
        assert got[1].term == "beta" and got[2].term == "gamma"

    def test_null_doc_id_not_dropped(self, spark):
        """ADVICE r04: the constant-key equi join attaching the broadcast
        corpus-size scalar must be null-safe — crc32(NULL)*0 is NULL and a
        NULL equi-join key never matches, so a NULL doc_id's terms would
        silently vanish (the old crossJoin kept them)."""
        from payor_mdm_spark.operators.text_analysis import tfidf_top_terms

        docs = spark.createDataFrame(
            [(1, "alpha beta"), (None, "alpha gamma")],
            "doc_id long, text string",
        )
        rows = tfidf_top_terms(docs, k=2).collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, set()).add(r.term)
        assert None in by_doc, "NULL-id document dropped by the N-join"
        assert by_doc[None] == {"alpha", "gamma"}
        # N counts only distinct non-null ids (count_distinct semantics),
        # so idf for the unique terms is ln(1/1) = 0 here — value parity
        # with the pre-rewrite crossJoin path is pinned by the oracle; this
        # test pins row retention.
        assert by_doc[1] == {"alpha", "beta"}


class TestWavHeaderSniff:
    @staticmethod
    def _wav(channels=2, rate=16000, bits=16, n_frames=16000):
        block = channels * bits // 8
        fmt = (
            b"fmt " + (16).to_bytes(4, "little")
            + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
            + rate.to_bytes(4, "little")
            + (rate * block).to_bytes(4, "little")
            + block.to_bytes(2, "little") + bits.to_bytes(2, "little")
        )
        data = b"data" + (n_frames * block).to_bytes(4, "little") + b"\x00" * 8
        body = b"WAVE" + fmt + data
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    def test_parse_and_duration(self):
        from payor_mdm_spark.operators.multimodal import sniff_wav_header

        mime, ch, rate, bits, dur, ok = sniff_wav_header(self._wav())
        assert (mime, ch, rate, bits, ok) == ("audio/wav", 2, 16000, 16, "ok")
        assert dur == 1000  # 16000 frames at 16 kHz = 1 s
        assert sniff_wav_header(b"RIFFxxxxWAVE")[5] == "truncated"
        assert sniff_wav_header(b"not audio")[5] == "unknown"
        assert sniff_wav_header(None)[5] == "unknown"

    def test_spark_operator(self, spark):
        from payor_mdm_spark.operators.multimodal import (
            MEDIA_SCHEMA, sniff_audio_headers,
        )

        meta = {"width": None, "height": None, "duration_ms": None, "sample_rate": None}
        rows = [
            ("a1", "audio", "application/octet-stream",
             bytearray(self._wav(1, 8000, 8, 4000)), meta),
            ("a2", "audio", "application/octet-stream", bytearray(b"junk"), meta),
            ("i1", "image", "image/png", bytearray(b"\x89PNG"), meta),
        ]
        got = {r.media_id: r for r in sniff_audio_headers(
            spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
        assert set(got) == {"a1", "a2"}
        assert (got["a1"].channels, got["a1"].sample_rate, got["a1"].duration_ms) == (1, 8000, 500)
        assert got["a2"].header_ok == "unknown"


class TestMp3HeaderSniff:
    @staticmethod
    def _mp3(tag_body=10, frame_bytes=1600):
        # ID3v2 tag (syncsafe size) + one MPEG1 Layer III frame header
        # (0xFFFB = sync + V1 + L3; 0x90 = 128 kbps @ 44100) + CBR padding
        id3 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, tag_body]) + b"\x00" * tag_body
        return id3 + b"\xff\xfb\x90\x00" + b"\x00" * (frame_bytes - 4)

    def test_parse_and_duration(self):
        from payor_mdm_spark.operators.multimodal import sniff_mp3_header

        mime, ch, rate, bits, dur, ok = sniff_mp3_header(self._mp3())
        assert (mime, ch, rate, bits, ok) == ("audio/mpeg", 2, 44100, None, "ok")
        assert dur == 100  # 1600 bytes * 8 / 128 kbps = 100 ms
        # mono MPEG2 frame: 0xFFF3 (V2 L3), 0x90 -> 64kbps @ 22050, mode 3
        mono = b"\xff\xf3\x90\xc0" + b"\x00" * 796
        assert sniff_mp3_header(mono)[1:3] == (1, 22050)
        assert sniff_mp3_header(b"no sync here")[5] == "unknown"
        assert sniff_mp3_header(None)[5] == "unknown"

    def test_audio_dispatch_wav_vs_mp3(self, spark):
        from payor_mdm_spark.operators.multimodal import (
            MEDIA_SCHEMA, sniff_audio_headers,
        )

        meta = {"width": None, "height": None, "duration_ms": None, "sample_rate": None}
        rows = [
            ("wav", "audio", "application/octet-stream",
             bytearray(TestWavHeaderSniff._wav(1, 8000, 8, 4000)), meta),
            ("mp3", "audio", "application/octet-stream",
             bytearray(self._mp3()), meta),
        ]
        got = {r.media_id: r for r in sniff_audio_headers(
            spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
        assert got["wav"].mime_detected == "audio/wav"
        assert (got["mp3"].mime_detected, got["mp3"].sample_rate) == ("audio/mpeg", 44100)


class TestMp4BoxWalk:
    @staticmethod
    def _box(typ: bytes, payload: bytes) -> bytes:
        return (8 + len(payload)).to_bytes(4, "big") + typ + payload

    @classmethod
    def _trak(cls, codec: bytes | None) -> bytes:
        if codec is None:
            return (8).to_bytes(4, "big") + b"trak"
        # sample entry: a box whose TYPE is the codec id
        entry = cls._box(codec, b"\x00" * 8)
        stsd = cls._box(
            b"stsd", b"\x00\x00\x00\x00" + (1).to_bytes(4, "big") + entry
        )
        return cls._box(
            b"trak", cls._box(b"mdia", cls._box(b"minf", cls._box(b"stbl", stsd)))
        )

    @classmethod
    def _mp4(cls, timescale=1000, duration=3500, tracks=2, mvhd_version=0,
             codecs=None):
        ftyp = (16).to_bytes(4, "big") + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
        if mvhd_version == 0:
            payload = (
                b"\x00\x00\x00\x00"               # version 0 + flags
                + b"\x00" * 8                       # ctime + mtime
                + timescale.to_bytes(4, "big")
                + duration.to_bytes(4, "big")
                + b"\x00" * 4                       # pad past the >=24 floor
            )
        else:
            payload = (
                b"\x01\x00\x00\x00"               # version 1 + flags
                + b"\x00" * 16                      # 64-bit ctime + mtime
                + timescale.to_bytes(4, "big")
                + duration.to_bytes(8, "big")
            )
        mvhd = cls._box(b"mvhd", payload)
        if codecs is None:
            traks = cls._trak(None) * tracks
        else:
            traks = b"".join(cls._trak(c) for c in codecs)
        moov = cls._box(b"moov", mvhd + traks)
        return ftyp + moov

    def test_parse_v0_and_v1(self):
        from payor_mdm_spark.operators.multimodal import sniff_mp4_boxes

        mime, brand, dur, tracks, codecs, ok = sniff_mp4_boxes(self._mp4())
        assert (mime, brand, dur, tracks, ok) == ("video/mp4", "isom", 3500, 2, "ok")
        assert codecs is None  # bare traks carry no stsd
        v1 = sniff_mp4_boxes(self._mp4(timescale=600, duration=1200,
                                       tracks=1, mvhd_version=1))
        assert (v1[2], v1[3]) == (2000, 1)
        assert sniff_mp4_boxes(b"\x00\x00\x00\x10ftypisom\x00\x00\x02\x00")[5] == "truncated"
        assert sniff_mp4_boxes(b"not a video")[5] == "unknown"
        assert sniff_mp4_boxes(None)[5] == "unknown"

    def test_stsd_codec_ids(self):
        """VERDICT r03 item 8: codec sample-entry ids via the
        trak->mdia->minf->stbl->stsd descent."""
        from payor_mdm_spark.operators.multimodal import sniff_mp4_boxes

        got = sniff_mp4_boxes(self._mp4(codecs=[b"avc1", b"mp4a"]))
        assert got[3] == 2 and got[4] == "avc1,mp4a" and got[5] == "ok"
        hevc = sniff_mp4_boxes(self._mp4(tracks=1, codecs=[b"hev1"]))
        assert hevc[4] == "hev1"

    def test_spark_operator(self, spark):
        from payor_mdm_spark.operators.multimodal import (
            MEDIA_SCHEMA, sniff_video_headers,
        )

        meta = {"width": None, "height": None, "duration_ms": None, "sample_rate": None}
        rows = [
            ("v1", "video", "video/mp4", bytearray(self._mp4()), meta),
            ("v2", "video", "video/mp4", bytearray(b"garbage"), meta),
            ("a1", "audio", "audio/wav", bytearray(b"RIFF"), meta),
        ]
        got = {r.media_id: r for r in sniff_video_headers(
            spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()}
        assert set(got) == {"v1", "v2"}
        assert (got["v1"].major_brand, got["v1"].duration_ms,
                got["v1"].track_count) == ("isom", 3500, 2)
        assert got["v2"].header_ok == "unknown"


class TestFlacHeaderSniff:
    @staticmethod
    def _flac(rate=44100, channels=2, bits=16, total_samples=88200,
              last=True, extra_block_first=False):
        packed = (
            (rate << 44)
            | ((channels - 1) << 41)
            | ((bits - 1) << 36)
            | total_samples
        )
        streaminfo = (
            (4096).to_bytes(2, "big") * 2      # min/max blocksize
            + b"\x00" * 6                        # min/max framesize
            + packed.to_bytes(8, "big")
            + b"\x00" * 16                       # md5
        )
        si_block = bytes([0x80 if last else 0x00]) + (34).to_bytes(3, "big") + streaminfo
        head = b"fLaC"
        if extra_block_first:
            # a VORBIS_COMMENT-ish block (type 4) before STREAMINFO — the
            # walk must skip it
            head += bytes([0x04]) + (6).to_bytes(3, "big") + b"\x00" * 6
        return head + si_block

    def test_streaminfo_fields(self):
        from payor_mdm_spark.operators.multimodal import sniff_flac_header

        mime, ch, rate, bits, dur, ok = sniff_flac_header(self._flac())
        assert (mime, ch, rate, bits, dur, ok) == (
            "audio/flac", 2, 44100, 16, 2000, "ok"
        )
        mono = sniff_flac_header(
            self._flac(rate=16000, channels=1, bits=24, total_samples=16000)
        )
        assert (mono[1], mono[2], mono[3], mono[4]) == (1, 16000, 24, 1000)
        skip = sniff_flac_header(self._flac(last=False, extra_block_first=True))
        assert skip[5] == "ok" and skip[2] == 44100
        assert sniff_flac_header(b"fLaC")[5] == "truncated"
        assert sniff_flac_header(b"OggS etc")[0] is None

    def test_dispatch_routes_flac(self):
        from payor_mdm_spark.operators.multimodal import sniff_audio_header

        got = sniff_audio_header(self._flac())
        assert got[0] == "audio/flac" and got[5] == "ok"


class TestCorpusLineCleanup:
    def test_line_dedup_boilerplate_removed_order_kept(self, spark):
        from payor_mdm_spark.operators.text_analysis import line_dedup

        docs = spark.createDataFrame(
            [
                (1, "alpha unique\nshared banner\nbeta unique"),
                (2, "gamma unique\nshared banner"),
                (3, "shared banner\ndelta unique"),
                (4, "shared banner"),  # every line dropped -> empty doc
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in line_dedup(docs, max_count=2).collect()}
        assert got[1].text == "alpha unique\nbeta unique"  # order preserved
        assert got[2].text == "gamma unique"
        assert got[3].text == "delta unique"
        assert got[4].text == "" and got[4].n_dropped == 1
        assert (got[1].n_lines, got[1].n_dropped) == (3, 1)

    def test_line_dedup_within_doc_duplicates_count(self, spark):
        from payor_mdm_spark.operators.text_analysis import line_dedup

        # the repeated line occurs 3x in ONE doc -> corpus count 3 > 2
        docs = spark.createDataFrame(
            [(1, "echo echo echo line\necho echo echo line\necho echo echo line\nkeep this line")],
            "doc_id long, text string",
        )
        got = line_dedup(docs, max_count=2).collect()[0]
        assert got.text == "keep this line" and got.n_dropped == 3

    def test_line_quality_rules(self, spark):
        from payor_mdm_spark.operators.text_analysis import line_quality_filter

        docs = spark.createDataFrame(
            [(1, "a good long line here\nok\nAccept COOKIE policy now\ntwo words")],
            "doc_id long, text string",
        )
        got = line_quality_filter(docs).collect()[0]
        assert got.text == "a good long line here"
        assert (got.n_lines, got.n_kept) == (4, 1)
        # empty result when nothing survives
        empty = spark.createDataFrame([(2, "no\nok")], "doc_id long, text string")
        got2 = line_quality_filter(empty).collect()[0]
        assert got2.text == "" and got2.n_kept == 0


class TestBigramLm:
    def test_common_phrasing_scores_lower(self, spark):
        from payor_mdm_spark.operators.text_analysis import bigram_lm_scores

        docs = spark.createDataFrame(
            [
                (1, "the cat sat"), (2, "the cat sat"), (3, "the cat sat"),
                (4, "zq xv qqj"),     # gibberish: every bigram unique
                (5, "solo"),          # < 2 tokens -> NULL entropy
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in bigram_lm_scores(docs).collect()}
        assert got[1].cross_entropy == got[2].cross_entropy
        assert got[1].cross_entropy < got[4].cross_entropy  # common beats rare
        assert got[5].n_bigrams == 0 and got[5].cross_entropy is None
        assert got[1].n_bigrams == 2

    def test_add_k_smoothing_math(self, spark):
        import math

        from payor_mdm_spark.operators.text_analysis import bigram_lm_scores

        # corpus: one doc "a b a b" -> tokens a,b; V=2; C(a b)=2, C(b a)=1,
        # C(a)=2, C(b)=2; k=0.5
        docs = spark.createDataFrame([(1, "a b a b")], "doc_id long, text string")
        got = bigram_lm_scores(docs).collect()[0]
        expect = -(
            math.log((2 + 0.5) / (2 + 0.5 * 2)) * 2      # 'a b' twice
            + math.log((1 + 0.5) / (2 + 0.5 * 2))        # 'b a' once
        ) / 3
        assert abs(got.cross_entropy - round(expect, 4)) < 1e-9


class TestPrefixSumEquivalence:
    def test_matches_naive_window_on_skewed_random_input(self, spark):
        """_partitioned_prefix_sum must equal the single-window cumsum for
        ANY chunking — exercised on a seeded skewed input (one dominant
        source) across a partition count that forces multi-chunk sources."""
        import random

        from pyspark.sql.window import Window

        from payor_mdm_spark.operators.text_analysis import (
            _partitioned_prefix_sum,
        )

        rng = random.Random(7)
        rows = [
            (i, "hot" if rng.random() < 0.8 else f"s{rng.randint(0, 3)}",
             rng.randint(0, 50))
            for i in range(2000)
        ]
        df = spark.createDataFrame(rows, "id long, src string, v long")
        got = {
            r.id: r.run
            for r in _partitioned_prefix_sum(
                df, "src", [F.col("id").asc()], "v", "run"
            ).collect()
        }
        w = (
            Window.partitionBy("src").orderBy("id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        want = {
            r.id: r.run
            for r in df.select("id", F.sum("v").over(w).alias("run")).collect()
        }
        assert got == want

    def test_forced_tiny_chunk_count_is_boundary_independent(self, spark):
        """VERDICT r03 item 9: the chunk count is now a parameter derived
        from input size — any forced value (including a pathological 2)
        must produce the identical prefix sum."""
        import random

        from payor_mdm_spark.operators.text_analysis import _partitioned_prefix_sum

        rng = random.Random(11)
        rows = [
            (i, f"s{rng.randint(0, 2)}", rng.randint(0, 9)) for i in range(500)
        ]
        df = spark.createDataFrame(rows, "id long, src string, v long")

        def run(chunks):
            return {
                r.id: r.run
                for r in _partitioned_prefix_sum(
                    df, "src", [F.col("id").asc()], "v", "run", chunks=chunks
                ).collect()
            }

        base = run(32)
        assert run(2) == base
        assert run(1) == base  # degenerate single chunk still exact

    def test_default_chunk_count_scales_with_input_size(self, spark):
        from payor_mdm_spark.operators.text_analysis import (
            _CHUNK_CAP, _CHUNK_TARGET_BYTES, _default_chunk_count,
        )

        n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # file-backed frame with known (small) size -> floor at the
        # session parallelism
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        assert _default_chunk_count(docs) == n_shuffle
        # in-memory frame (no size statistic) -> same safe floor
        mem = spark.createDataFrame([(1, "x")], "id long, t string")
        assert _default_chunk_count(mem) == n_shuffle
        # the heuristic itself: a 100 TB input would get size/64MB chunks,
        # clamped at the broadcast-bounding cap
        assert min(-(-(100 * 10**12) // _CHUNK_TARGET_BYTES), _CHUNK_CAP) == _CHUNK_CAP


class TestLineDedupInvariants:
    def test_high_cap_is_identity(self, spark):
        from payor_mdm_spark.operators.text_analysis import line_dedup

        docs = spark.createDataFrame(
            [(1, "x\ny\nx"), (2, "x"), (3, "a\nb")], "doc_id long, text string"
        )
        got = {r.doc_id: r for r in line_dedup(docs, max_count=10**6).collect()}
        assert got[1].text == "x\ny\nx" and got[1].n_dropped == 0
        assert got[2].text == "x" and got[3].text == "a\nb"

    def test_partitioning_invariance(self, spark):
        from payor_mdm_spark.operators.text_analysis import line_dedup

        docs = spark.createDataFrame(
            [(i, f"unique {i}\nshared boiler line") for i in range(40)],
            "doc_id long, text string",
        )
        one = {r.doc_id: r.text for r in line_dedup(docs.coalesce(1)).collect()}
        many = {r.doc_id: r.text for r in line_dedup(docs.repartition(16)).collect()}
        assert one == many
        assert all(t == f"unique {i}" for i, t in one.items())


class TestSamplingAndNgrams:
    def test_stratified_sample_deterministic_and_no_migration(self, spark):
        from payor_mdm_spark.operators.text_analysis import stratified_sample

        docs = spark.createDataFrame(
            [(i, "a" if i % 2 == 0 else "b") for i in range(400)],
            "doc_id long, source string",
        )
        once = {r.doc_id for r in stratified_sample(docs, {"a": 0.5}).collect()}
        again = {r.doc_id for r in stratified_sample(docs, {"a": 0.5}).collect()}
        assert once == again  # deterministic
        assert all(i % 2 == 0 for i in once)  # stratum 'b' has fraction 0
        assert 60 <= len(once) <= 140  # ~50% of 200
        # growth never migrates membership, only assigns new rows
        grown = docs.unionByName(
            spark.createDataFrame([(1000 + i, "a") for i in range(100)],
                                  "doc_id long, source string")
        )
        grown_keep = {r.doc_id for r in stratified_sample(grown, {"a": 0.5}).collect()}
        assert once == {i for i in grown_keep if i < 1000}

    def test_top_ngrams_counts_and_order(self, spark):
        from payor_mdm_spark.operators.text_analysis import top_ngrams

        docs = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps somewhere else entirely today"),
                (3, "tiny"),
            ],
            "doc_id long, text string",
        )
        got = top_ngrams(docs, n=5, k=3).collect()
        assert got[0].gram == "the quick brown fox jumps"
        assert got[0].occurrences == 2 and got[0].doc_freq == 2
        assert [r.rank for r in got] == [1, 2, 3]
        # deterministic tie-break: count desc then gram asc
        assert got[1].gram < got[2].gram


# The O(words^2) n-gram expressions the operators used before they sliced a
# projected token column: kept here only as the value reference.
def _old_slice_ngrams(toks, n, short, start):
    """``toks`` is the tokenizer EXPRESSION; ``start`` 0 or 1 as each old
    site had it."""
    if start == 0:
        seq, at = F.sequence(F.lit(0), F.size(toks) - n), lambda i: i + 1
    else:
        seq, at = F.sequence(F.lit(1), F.size(toks) - (n - 1)), lambda i: i
    return F.when(
        F.size(toks) >= n,
        F.transform(seq, lambda i: F.concat_ws(" ", F.slice(toks, at(i), n))),
    ).otherwise(short)


def _old_fingerprint(text, shingle_words=4):
    from payor_mdm_spark.functions.textnorm import md5_60bit
    from payor_mdm_spark.operators.text_analysis import tokens_col

    toks = tokens_col(F.regexp_replace(text, r"[^\w\s]", ""))
    shingles = _old_slice_ngrams(
        toks, shingle_words, F.array(F.concat_ws(" ", toks)), 0
    )
    return F.array_min(F.transform(shingles, lambda s: md5_60bit(s)))


def _old_dedup_ngrams(text, n):
    toks = F.split(F.lower(text), r"\s+")
    return _old_slice_ngrams(toks, n, F.array(F.concat_ws(" ", toks)), 0)


def _old_top_ngrams(text, n):
    from payor_mdm_spark.operators.text_analysis import tokens_col

    return _old_slice_ngrams(tokens_col(text), n, F.array(), 1)


class TestNgramsFromProjectedTokens:
    """The n-gram and shingle columns built from a projected token column
    equal the old per-position re-tokenizing expressions, edge cases
    included."""

    TEXTS = [
        None,
        "",
        "   ",
        "  leading and trailing spaces  ",
        "!!! ... ??? --",
        "two words",
        "exactly three tokens",
        "four tokens, exactly here.",
        "a b c a b c a b c a b c",
        "spam spam spam spam spam spam",
        "Ünïcödé façade STRASSE straße 東京 タワー ñandú",
        "tabs\tand\nnewlines\r\nmixed   in",
        "The quick brown fox jumps over the lazy dog; the QUICK brown fox!",
    ]

    @pytest.fixture(scope="class")
    def edge_docs(self, spark):
        return spark.createDataFrame(
            list(enumerate(self.TEXTS)), "doc_id long, text string"
        )

    def test_fingerprint(self, edge_docs):
        from payor_mdm_spark.operators.text_analysis import analyze_documents

        got = dict(analyze_documents(edge_docs).select("doc_id", "fingerprint")
                   .collect())
        want = dict(edge_docs.select("doc_id", _old_fingerprint(F.col("text")))
                    .collect())
        assert got == want

    @pytest.mark.parametrize("n", [1, 2, 3, 4, 5])
    def test_ngram_columns(self, edge_docs, n):
        from payor_mdm_spark.operators.dedup import _split_tokens, _word_ngrams
        from payor_mdm_spark.operators.text_analysis import (
            tokens_col, word_ngrams_col,
        )

        t = F.col("text")
        toks = edge_docs.select(
            "doc_id", "text",
            _split_tokens(t).alias("_split"), tokens_col(t).alias("_tok"),
        )
        got = toks.select(
            "doc_id",
            _word_ngrams(F.col("_split"), n).alias("dedup"),
            word_ngrams_col(F.col("_tok"), n, F.array()).alias("top"),
            _old_dedup_ngrams(t, n).alias("old_dedup"),
            _old_top_ngrams(t, n).alias("old_top"),
        ).collect()
        for r in got:
            assert r.dedup == r.old_dedup, (r.doc_id, n)
            assert r.top == r.old_top, (r.doc_id, n)

    def test_repetition_signals(self, edge_docs):
        from collections import Counter

        from payor_mdm_spark.operators.text_analysis import repetition_signals

        old = dict(
            edge_docs.select("doc_id", _old_dedup_ngrams(F.col("text"), 3))
            .collect()
        )
        got = {r.doc_id: r for r in repetition_signals(edge_docs).collect()}
        assert set(got) == set(old)
        for doc_id, grams in old.items():
            counts = Counter(grams)
            r = got[doc_id]
            assert (r.total_ngrams, r.distinct_ngrams) == (len(grams), len(counts))
            assert r.dup_ngram_ratio == pytest.approx(
                1 - len(counts) / len(grams), abs=5e-5
            )
            assert r.top_ngram_share == pytest.approx(
                max(counts.values()) / len(grams), abs=5e-5
            )

    def test_top_ngrams(self, edge_docs):
        from collections import Counter

        from payor_mdm_spark.operators.text_analysis import top_ngrams

        old = edge_docs.select("doc_id", _old_top_ngrams(F.col("text"), 2)).collect()
        occ = Counter(g for r in old for g in r[1])
        dfreq = Counter(g for r in old for g in set(r[1]))
        want = sorted(occ, key=lambda g: (-occ[g], g))[:40]
        got = top_ngrams(edge_docs, n=2, k=40).collect()
        assert [r.gram for r in got] == want
        assert [(r.occurrences, r.doc_freq) for r in got] == [
            (occ[g], dfreq[g]) for g in want
        ]


class TestMinhashExactVerifyKernel:
    """Pins the r06 Arrow-kernel exact verify against the expression form's
    edge semantics: NULL text shingles to {NULL} (so a NULL-NULL pair is an
    exact match at jaccard 1.0, and NULL-vs-text never matches), sub-k text
    is its own single shingle, and both the broadcast and the big-survivor
    (semi-join) code paths agree."""

    def _world(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "abcdefghij"),
                (2, "Abcdefghij"),   # case-folds equal to doc 1
                (3, None),
                (4, None),
                (5, "ab"),           # below shingle_k: whole-string shingle
                (6, "AB"),
            ],
            "doc_id long, text string",
        )
        surv = spark.createDataFrame(
            [(1, 2), (3, 4), (1, 5), (1, 3), (5, 6)],
            "id_a long, id_b long",
        )
        return docs, surv

    def _run(self, spark, n_pairs):
        from payor_mdm_spark.operators.dedup import _minhash_exact_verify

        docs, surv = self._world(spark)
        out = _minhash_exact_verify(
            surv, docs, "doc_id", "text", 5, 0.8, n_pairs=n_pairs
        )
        return sorted(tuple(r) for r in out.collect())

    def test_edge_semantics_broadcast_path(self, spark):
        # upper() folding: 1-2 identical; NULL-NULL: 3-4 at 1.0; sub-k
        # case-folded: 5-6 at 1.0; NULL-vs-text (1,3) and text-vs-subk
        # (1,5) drop below threshold
        assert self._run(spark, n_pairs=5) == [
            (1, 2, 1.0), (3, 4, 1.0), (5, 6, 1.0)
        ]

    def test_edge_semantics_semi_join_path(self, spark):
        # force the big-survivor branch (semi-join + shuffle attaches)
        assert self._run(spark, n_pairs=10_000_000) == [
            (1, 2, 1.0), (3, 4, 1.0), (5, 6, 1.0)
        ]


class TestIncrementalMinhash:
    def _corpora(self, spark):
        old = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog again and again"),
                (2, "the quick brown fox jumps over the lazy dog again and again"),
                (3, "completely unrelated text about spark query engines and shuffles"),
            ],
            "doc_id long, text string",
        )
        new = spark.createDataFrame(
            [
                (10, "the quick brown fox jumps over the lazy dog again and again!"),
                (11, "completely unrelated text about spark query engines and shuffles"),
                (12, "a brand new document that matches nothing else at all"),
            ],
            "doc_id long, text string",
        )
        return old, new

    def test_equals_batch_delta(self, spark):
        from payor_mdm_spark.operators.dedup import (
            minhash_dedup_incremental, minhash_dedup_pairs,
        )

        old, new = self._corpora(spark)
        full = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_pairs(
                old.unionByName(new), jaccard_threshold=0.5
            ).collect()
        }
        old_only = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_pairs(old, jaccard_threshold=0.5).collect()
        }
        inc = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_incremental(
                old, new, jaccard_threshold=0.5
            ).collect()
        }
        assert inc == full - old_only
        assert (2, 11) not in inc and (1, 2) not in inc  # old x old excluded
        assert (3, 11) in inc  # old x new found
        assert all(10 in p or 11 in p or 12 in p for p in inc)

    def test_signature_store_roundtrip(self, spark, tmp_path):
        from payor_mdm_spark.operators.dedup import minhash_dedup_incremental
        from payor_mdm_spark.sources.catalog import CheckpointStore

        old, new = self._corpora(spark)
        store = CheckpointStore(spark, str(tmp_path / "sigs"))
        # first call: computes old signatures from text, commits old+new
        first = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_incremental(
                old, new, store=store, jaccard_threshold=0.5
            ).collect()
        }
        assert store.exists("minhash_signatures")
        assert store.read("minhash_signatures").count() == 6
        # second delta: old signatures come FROM THE STORE (old text no
        # longer needed for signatures, only for verification rehydration)
        newer = spark.createDataFrame(
            [(20, "a brand new document that matches nothing else at all!")],
            "doc_id long, text string",
        )
        prev_all = old.unionByName(new)
        second = {
            (r.id_a, r.id_b)
            for r in minhash_dedup_incremental(
                prev_all, newer, store=store, jaccard_threshold=0.5
            ).collect()
        }
        assert (12, 20) in second  # near-dup of a doc from the prior delta
        assert all(20 in p for p in second)
        assert first  # first delta found its pairs too
        assert store.read("minhash_signatures").count() == 7


class TestGopherFilter:
    def test_verdicts_and_reasons(self, spark):
        from payor_mdm_spark.operators.text_analysis import gopher_filter

        good = "the quick brown fox jumps over the lazy dog and then runs off to find more of the good stuff in town"
        docs = spark.createDataFrame(
            [
                (1, good),                                   # passes all rules
                (2, "tiny doc"),                             # too few tokens
                (3, "spam spam spam spam spam " * 8),        # repetition + no stopwords
                (4, ("a " * 30).strip()),                    # mean word len too low
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in gopher_filter(docs).collect()}
        assert got[1].keep and got[1].reasons == []
        assert not got[2].keep and "too_few_tokens" in got[2].reasons
        assert not got[3].keep
        assert {"dup_ngram_ratio", "top_ngram_share",
                "stopword_ratio_low"} <= set(got[3].reasons)
        assert not got[4].keep and "mean_word_len_low" in got[4].reasons


class TestStagingAdversarialInputs:
    def test_arbitrary_text_never_breaks_staging(self, spark):
        """Robustness batch: staging must survive adversarial transcript
        text (unicode, regex metachars, quotes, huge tokens, control
        chars) in ONE Spark job — every conversation stages to exactly one
        record with a non-null id and the normalization columns present."""
        import datetime

        from payor_mdm_spark.operators.rollup import rollup_conversations
        from payor_mdm_spark.operators.staging import stage_records
        from payor_mdm_spark.streaming.ingest import TURN_SCHEMA

        ts = datetime.datetime(2024, 5, 1, 12, 0, 0)
        nasty = [
            "",
            " ",
            "\\\\",
            "I'm calling about O'Brien & Sons (.*+?[]{}|^$) Inc.",
            "unicode éèê 你好 \U0001f600 mixed",
            "x" * 20000,
            'quotes "double" and \'single\' and `backticks`',
            "tabs\tand\nnewlines\rin text",
            "null byte \x00 and bell \x07 chars",
            "address is 1 Main St, Springfield, Illinois, 627041234567890",
            "tax id is 99-9999999999999 phone (999) 999-99999999",
            "ZIP 00000-0000 state ZZ",
        ]
        rows = []
        for i, text in enumerate(nasty):
            conv = f"conv-crm-{i:06d}"
            rows.append((conv, 0, "user", text, None, ts))
            rows.append((conv, 1, "assistant", "ok", None, ts))
        staged = stage_records(
            spark, rollup_conversations(spark.createDataFrame(rows, TURN_SCHEMA))
        ).collect()
        assert len(staged) == len(nasty)
        for r in staged:
            assert r.source_record_id and r.source_system == "crm"
            # normalization columns exist and blocking keys are non-null
            assert r.block_name_key is not None
            assert r.block_zip3_name4 is not None


class TestDuplicateSpans:
    def test_coverage_math_and_corpus_duplicates(self, spark):
        from payor_mdm_spark.operators.text_analysis import duplicate_span_signals

        shared = "0123456789abcdefghij"  # exactly span_len chars
        docs = spark.createDataFrame(
            [
                (1, f"{shared} unique middle part {shared}"),
                (2, f"prefix text then {shared} and more after"),
                (3, "completely distinct content with no repeats at all"),
                (4, "short"),  # below span_len -> all zeros
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in duplicate_span_signals(docs, span_len=20).collect()}
        # hand-verified against a reference interval-union implementation:
        # the shared block PLUS its flanking-space windows duplicate, so
        # doc 1 covers [0,21) + [39,60) = 42 chars across its two copies
        # and doc 2 covers [16,38) = 22 chars
        assert (got[1].n_dup_spans, got[1].dup_char_coverage) == (4, 42)
        assert (got[2].n_dup_spans, got[2].dup_char_coverage) == (3, 22)
        assert got[3].n_dup_spans == 0 and got[3].dup_char_ratio == 0.0
        assert got[4].dup_char_coverage == 0

    def test_overlapping_windows_union_not_sum(self, spark):
        from payor_mdm_spark.operators.text_analysis import duplicate_span_signals

        # a 25-char duplicated region plus its trailing-space window -> 7
        # duplicated 20-char windows whose UNION is 26 chars, not 7*20
        # (hand-verified against a reference interval-union implementation)
        region = "abcdefghijklmnopqrstuvwxy"
        docs = spark.createDataFrame(
            [(1, f"{region} filler one here"), (2, f"{region} other filler two")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in duplicate_span_signals(docs, span_len=20).collect()}
        assert got[1].n_dup_spans == 7
        assert got[1].dup_char_coverage == 26

    def test_token_anchor_detects_misaligned_duplicates(self, spark):
        """The content-defined anchoring property (VERDICT r03 item 2):
        a duplicated region at DIFFERENT char offsets in two docs (so a
        fixed char stride k>1 would sample disjoint window sets) is still
        detected, because token boundaries are recomputed from the shared
        content itself."""
        from payor_mdm_spark.operators.text_analysis import duplicate_span_signals

        region = "the shared duplicated sentence is exactly this one here"
        docs = spark.createDataFrame(
            [
                # offsets into the doc differ by 3 (not a multiple of any
                # plausible stride alignment): "a b " vs "corpus "
                (1, f"a b {region} trailing words one"),
                (2, f"corpus {region} other tail text"),
                (3, "entirely unrelated filler content with nothing shared"),
            ],
            "doc_id long, text string",
        )
        got = {
            r.doc_id: r
            for r in duplicate_span_signals(
                docs, span_len=20, anchor="token"
            ).collect()
        }
        # every token-start window inside the region duplicates in both
        # copies; the region is 56 chars -> token starts at offsets
        # 0,4,11,22,31,34,42,46 of which those <= 56-20=36 yield windows
        assert got[1].n_dup_spans >= 5 and got[2].n_dup_spans >= 5
        assert got[1].dup_char_coverage >= len(region) - 20
        assert got[3].n_dup_spans == 0

    def test_token_anchor_subset_and_sampling(self, spark):
        """Token-anchored windows are a subset of char-anchored ones, and
        sample_mod thins deterministically: every sampled dup position is
        also a token-mode dup position, and counts shrink monotonically
        char >= token >= sampled."""
        from payor_mdm_spark.operators.text_analysis import duplicate_span_signals

        base = "the quick brown fox jumps over the lazy dog again and again"
        docs = spark.createDataFrame(
            [(1, f"{base} first copy marker"), (2, f"{base} second copy tag")],
            "doc_id long, text string",
        )
        char = {r.doc_id: r for r in duplicate_span_signals(docs, span_len=20).collect()}
        tok = {
            r.doc_id: r
            for r in duplicate_span_signals(docs, span_len=20, anchor="token").collect()
        }
        samp = {
            r.doc_id: r
            for r in duplicate_span_signals(
                docs, span_len=20, anchor="token", sample_mod=2
            ).collect()
        }
        for d in (1, 2):
            assert char[d].n_dup_spans >= tok[d].n_dup_spans >= samp[d].n_dup_spans
            assert tok[d].n_dup_spans > 0  # the shared prefix is token-aligned
            assert char[d].dup_char_coverage >= tok[d].dup_char_coverage

    def test_invalid_params_fail_fast(self, spark):
        import pytest as _pytest

        from payor_mdm_spark.operators.text_analysis import duplicate_span_signals

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        with _pytest.raises(ValueError, match="anchor"):
            duplicate_span_signals(docs, anchor="stride")
        with _pytest.raises(ValueError, match="sample_mod"):
            duplicate_span_signals(docs, sample_mod=0)
