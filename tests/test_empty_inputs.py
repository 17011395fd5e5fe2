"""Degenerate-input sweep: every text/dedup/similarity operator must
survive empty strings, whitespace-only docs, and empty relations without
raising (Spark 4 ANSI mode turns sloppy division/cast into runtime
crashes — this is the regression net for that class of bug)."""

import pytest
from pyspark.sql import functions as F

from pigpen_spark.functions import dedup as D
from pigpen_spark.functions import multimodal as M
from pigpen_spark.functions import similarity as S
from pigpen_spark.functions import text as T


@pytest.fixture()
def degenerate_docs(spark):
    return spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "x"), (4, "normal text with some words here")],
        "doc_id long, text string",
    )


TEXT_EXPRS = [
    ("token_count", T.token_count),
    ("bpe_token_count", T.bpe_token_count),
    ("lang_id", T.lang_id),
    ("punct_ratio", T.punct_ratio),
    ("digit_ratio", T.digit_ratio),
    ("stopword_ratio", T.stopword_ratio),
    ("mean_token_len", T.mean_token_len),
    ("quality_score", T.quality_score),
    ("fingerprint", T.fingerprint),
    ("shingle_fingerprint", T.shingle_fingerprint),
    ("simhash", D.simhash),
    ("minhash_signature", lambda c: D.minhash_signature(c, k=4)),
]


@pytest.mark.parametrize("name,builder", TEXT_EXPRS, ids=[n for n, _ in TEXT_EXPRS])
def test_text_expr_survives_degenerate_docs(spark, degenerate_docs, name, builder):
    rows = degenerate_docs.select("doc_id", builder("text").alias("out")).collect()
    assert len(rows) == 4  # no exception; values may be NULL for empty docs


def test_dedup_ops_on_degenerate_docs(degenerate_docs):
    assert D.exact_dedup(degenerate_docs, "text", "doc_id").count() == 4
    D.minhash_candidates(degenerate_docs, "doc_id", "text").collect()
    D.simhash_candidates(degenerate_docs, "doc_id", "text").collect()
    D.ngram_jaccard_pairs(degenerate_docs, "doc_id", "text").collect()


def test_similarity_zero_vectors(spark):
    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 2.0]), (2, [3.0, 4.0])],
        "vec_id long, embedding array<float>",
    )
    # zero-norm vector: cosine NULL, must not raise, must not rank
    out = S.brute_force_topk(df, df, k=2).collect()
    assert all(r["q_id"] is not None for r in out)
    pairs = S.embedding_near_dup_pairs(df, threshold=0.5).collect()
    assert all(r["score"] is not None for r in pairs)


def test_empty_relation_through_operators(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    assert D.exact_dedup(empty, "text", "doc_id").count() == 0
    assert D.minhash_candidates(empty, "doc_id", "text").count() == 0
    out = empty.select(T.quality_score("text").alias("q"))
    assert out.collect() == []


class TestRound3cDegenerate:
    def test_perplexity_buckets_degenerate(self, spark, degenerate_docs):
        from pigpen_spark.functions.classify import perplexity_buckets
        df = degenerate_docs.withColumn("lang", F.lit("en"))
        out = {r.doc_id: r.bucket for r in perplexity_buckets(
            df, "doc_id", "text", "lang").collect()}
        assert out[1] is None and out[2] is None and out[3] is None
        assert out[4] is not None

    def test_histogram_quantiles_empty(self, spark):
        from pigpen_spark.functions.sketch import histogram_quantiles
        empty = spark.createDataFrame([], "x long")
        assert histogram_quantiles(empty, F.col("x"), 0, 100, 10).count() == 0

    def test_bloom_empty_sketch_rejects_all(self, spark):
        from pigpen_spark.functions.sketch import bloom_build, bloom_maybe_contains
        empty = spark.createDataFrame([], "h long")
        sk = bloom_build(empty, m_bits=1024, k=3)
        probe = spark.createDataFrame([(5,), (7,)], "h long")
        out = bloom_maybe_contains(probe, sk, m_bits=1024, k=3)
        assert [r.maybe for r in out.collect()] == [False, False]

    def test_star_wcc_empty_pairs(self, spark):
        from pigpen_spark.functions.dedup import dedup_clusters_star
        empty = spark.createDataFrame([], "id_a long, id_b long")
        assert dedup_clusters_star(empty).count() == 0

    def test_snapshot_diff_empty_sides(self, spark):
        from pigpen_spark.operators.analytics import snapshot_diff
        empty = spark.createDataFrame([], "k long, v long")
        full = spark.createDataFrame([(1, 10)], "k long, v long")
        out = {r.status for r in snapshot_diff(empty, full, ["k"]).collect()}
        assert out == {"added"}
        out2 = snapshot_diff(empty, empty, ["k"]).count()
        assert out2 == 0

    def test_dedup_keyed_window_empty(self, spark):
        from pigpen_spark.operators.windows import dedup_keyed_window
        empty = spark.createDataFrame([], "event_id long, ts timestamp, user_id long")
        assert dedup_keyed_window(empty, ["user_id"], "ts", 60).count() == 0

    def test_validate_all_null_column(self, spark):
        from pigpen_spark.functions import validate as V
        df = spark.createDataFrame([(None,), (None,)], "x string")
        row = V.check_rules(df, {"x_present": F.col("x").isNotNull()}).collect()[0]
        assert (row.n_rows, row.n_violations, row.passed) == (2, 2, False)

    def test_validate_empty_frame(self, spark):
        from pigpen_spark.functions import validate as V
        df = spark.createDataFrame([], "x long")
        row = V.check_rules(df, {"pos": F.col("x") > 0}).collect()[0]
        # vacuous pass: zero rows, zero violations
        assert (row.n_rows, row.n_violations, row.passed) == (0, 0, True)


def test_continuation_exprs_survive_degenerate_docs(spark, degenerate_docs):
    rows = degenerate_docs.select(
        "doc_id",
        T.cooccurrence_pairs("text").alias("pairs"),
        T.strip_markup("text").alias("clean"),
        T.url_normalize("text").alias("u"),
        T.url_host("text").alias("h"),
        T.url_domain("text").alias("d"),
    ).collect()
    assert len(rows) == 4
    empty = next(r for r in rows if r.doc_id == 1)
    assert empty.pairs == [] and empty.clean == "" and empty.h == ""


def test_continuation_ops_on_degenerate_docs(spark, degenerate_docs):
    from pigpen_spark.functions.pipeline import remove_frequent_spans
    from pigpen_spark.functions.ranking import collocations
    from pigpen_spark.operators.joins import fuzzy_join
    from pigpen_spark.operators.windows import take_budget

    assert remove_frequent_spans(degenerate_docs, "doc_id", "text",
                                 chunk=2, min_docs=2).count() == 4
    collocations(degenerate_docs, "text", min_count=1).collect()
    fuzzy_join(degenerate_docs, degenerate_docs, "doc_id", "text",
               max_dist=1).collect()  # includes the empty-string row
    take_budget(degenerate_docs, [F.col("doc_id")], T.token_count("text"),
                budget=5).collect()


def test_continuation_ops_on_empty_relation(spark):
    from pigpen_spark.functions.pipeline import remove_frequent_spans
    from pigpen_spark.functions.ranking import collocations
    from pigpen_spark.operators.joins import fuzzy_join
    from pigpen_spark.operators.windows import take_budget

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert remove_frequent_spans(empty, "doc_id", "text").count() == 0
    assert collocations(empty, "text").count() == 0
    assert fuzzy_join(empty, empty, "doc_id", "text").count() == 0
    assert take_budget(empty, [F.col("doc_id")], F.lit(1), budget=5).count() == 0


def test_lsh_index_paths_on_empty_relation(spark):
    emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    idx = S.lsh_index(emb, n_planes=3, dim=4)
    assert idx.count() == 0
    assert S.lsh_topk_against(idx, emb, k=3, n_planes=3, dim=4).count() == 0
    assert S.negative_samples(emb, "vec_id", k=2, n_total=1).count() == 0


UNFUSED_DECODERS = [
    ("image_stats", M.IMAGE_STATS_SCHEMA),
    ("image_thumbnail", M.THUMB_SCHEMA),
    ("audio_features_wav", M.AUDIO_SCHEMA),
    ("audio_downsample", M.DOWNSAMPLE_SCHEMA),
    ("video_meta", M.VIDEO_META_SCHEMA),
    ("frame_sample_gif", M.FRAME_STATS_SCHEMA),
    ("frame_sample_mp4", M.FRAME_STATS_SCHEMA),
    ("frame_sample_avi", M.FRAME_STATS_SCHEMA),
    ("frame_sample_webm", M.FRAME_STATS_SCHEMA),
    ("audio_profile_mp3", M.MP3_META_SCHEMA),
    ("audio_profile_ogg", M.OGG_META_SCHEMA),
    ("audio_profile_flac", M.FLAC_META_SCHEMA),
    ("audio_profile_aac", M.AAC_META_SCHEMA),
    ("audio_profile_auto", M.AUDIO_AUTO_SCHEMA),
    ("decode_image_meta", M.IMAGE_META_SCHEMA),
]


@pytest.mark.parametrize("name,schema", UNFUSED_DECODERS,
                         ids=[n for n, _ in UNFUSED_DECODERS])
def test_multimodal_decoder_on_empty_relation(spark, name, schema):
    empty = spark.range(4, numPartitions=2).select(
        F.col("id").alias("doc_id"),
        F.lit(b"").cast("binary").alias("payload"),
    ).filter(F.col("doc_id") < 0)
    out = getattr(M, name)(empty, "doc_id")
    assert out.collect() == []
    assert out.schema == spark.createDataFrame([], schema).schema
