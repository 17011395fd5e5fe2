"""Round-4 tests: ADVICE fixes, array-output stringification, and the
fixed-merge hash-exact BPE oracle equivalence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pigpen_spark.session import set_options


class TestTakeBudgetNullSize:
    def test_null_size_raises_loudly(self, spark):
        from pigpen_spark.operators.windows import take_budget

        df = spark.createDataFrame(
            [(1, 2, 5), (2, 1, None)], ["id", "score", "sz"])
        with pytest.raises(Exception, match="take_budget: NULL size"):
            take_budget(df, [F.col("score").desc(), F.col("id")], "sz",
                        budget=100).collect()

    def test_coalesced_sizes_still_work(self, spark):
        from pigpen_spark.operators.windows import take_budget

        df = spark.createDataFrame(
            [(1, 2, 5), (2, 1, None)], ["id", "score", "sz"])
        out = {r.id for r in take_budget(
            df, [F.col("score").desc(), F.col("id")],
            F.coalesce("sz", F.lit(0)), budget=100).collect()}
        assert out == {1, 2}


class TestSynthOutCol:
    def test_synth_payload_out_col_respected(self, spark):
        from pigpen_spark.functions import multimodal as M

        base = spark.range(3).withColumnRenamed("id", "doc_id")
        for fn in (M.synth_png, M.synth_wav, M.synth_gif, M.synth_jpeg,
                   M.synth_mp4):
            out = fn(base, "doc_id", out_col="blob")
            assert out.columns == ["id", "blob"], fn.__name__
            rows = out.collect()
            assert len(rows) == 3 and all(
                isinstance(r["blob"], (bytes, bytearray)) and len(r["blob"]) > 0
                for r in rows
            ), fn.__name__

    def test_synth_default_col_unchanged(self, spark):
        from pigpen_spark.functions import multimodal as M

        base = spark.range(2).withColumnRenamed("id", "doc_id")
        assert M.synth_png(base, "doc_id").columns == ["id", "payload"]


class TestBpeFixedOracleEquivalence:
    def test_sql_replace_chain_matches_encode_word(self, spark):
        """The delimited-string replace chain (the DuckDB oracle form)
        must equal the real greedy merge pass on vocabulary AND
        adversarial words — this is what licenses ext_bpe_encode's
        hash-exact status."""
        import random

        import duckdb

        from pigpen_spark.functions.bpe import (FIXED_MERGES,
                                                encode_word,
                                                encode_word_sql)

        con = duckdb.connect()
        rng = random.Random(4)
        words = ["scan", "column", "window", "order", "agg", "a", "er",
                 "ererer", "ananan", "scanscan", "colucolu"]
        words += ["".join(rng.choice("abcerstowlun") for _ in range(rng.randint(1, 16)))
                  for _ in range(200)]
        for w in words:
            got = con.execute(
                f"SELECT {encode_word_sql(repr(w), FIXED_MERGES)}"
            ).fetchone()[0]
            want = " ".join(encode_word(w, FIXED_MERGES))
            assert got == want, (w, got, want)

    def test_equal_sided_pair_rejected(self):
        from pigpen_spark.functions.bpe import encode_word_sql

        with pytest.raises(ValueError, match="equal-sided"):
            encode_word_sql("'x'", [("a", "a")])

    def test_fixed_merges_all_distinct_sided(self):
        from pigpen_spark.functions.bpe import FIXED_MERGES

        assert all(left != right for left, right in FIXED_MERGES)
        assert len(FIXED_MERGES) == 24

    def test_spark_encoder_matches_oracle_on_docs(self, spark):
        """End-to-end: the pandas_udf encoder over real doc rows equals
        the SQL chain applied per word."""
        import duckdb

        from pigpen_spark.functions import bpe as B

        df = spark.createDataFrame(
            [(1, "scan column order"), (2, ""), (3, "agg  agg"),
             (4, "windowwindow part")],
            ["doc_id", "text"],
        )
        enc = B.bpe_encode(df, "doc_id", "text", B.FIXED_MERGES)
        got = {r["id"]: (r["pieces"], r["n_pieces"])
               for r in enc.select(
                   "id", F.array_join("pieces", " ").alias("pieces"),
                   "n_pieces").collect()}
        con = duckdb.connect()
        for doc_id, text in [(1, "scan column order"), (2, ""),
                             (3, "agg  agg"), (4, "windowwindow part")]:
            pieces = []
            for w in text.lower().split(" "):
                if w:
                    pieces.append(con.execute(
                        f"SELECT {B.encode_word_sql(repr(w), B.FIXED_MERGES)}"
                    ).fetchone()[0])
            want = " ".join(pieces)
            assert got[doc_id][0] == want
            assert got[doc_id][1] == (len(want.split(" ")) if want else 0)


class TestStringifiedCatalogOutputs:
    def test_no_complex_typed_output_columns(self, spark, sf_dir):
        """Catalog determinism rule #4 enforced repo-wide: no registered
        query may emit array/struct/map columns (the driver canonicalizer
        cannot hash them — r3's two RED rows)."""
        import __spark_entry__ as E

        offenders = []
        for name, fn in E.queries().items():
            df = fn(spark, sf_dir)
            for field in df.schema.fields:
                if field.dataType.typeName() in ("array", "struct", "map"):
                    offenders.append((name, field.name))
        assert offenders == []


class TestGroupStream:
    """The huge-group streaming path (operators/group_stream.py):
    Pig-Accumulator parity — VERDICT r3 missing #2."""

    def test_bounded_chunks_on_giant_group(self, spark):
        """A 200k-row single key must reach Python as chunks no larger
        than the Arrow batch size — the property that makes a
        billion-row key spill-bounded instead of OOMing applyInPandas."""
        from pigpen_spark.relation import Relation

        old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
        set_options(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": "2048"})
        try:
            df = (spark.range(200_000)
                  .select(F.lit(1).alias("k"), F.col("id").alias("v")))
            rel = Relation(df)

            def init(key):
                return {"n": 0, "s": 0, "max_chunk": 0}

            def acc(st, chunk):
                st["n"] += len(chunk)
                st["s"] += int(chunk["v"].sum())
                st["max_chunk"] = max(st["max_chunk"], len(chunk))
                return st

            def fin(key, st):
                return {"k": key[0], "n": st["n"], "s": st["s"],
                        "max_chunk": st["max_chunk"]}

            row = rel.group_by(F.col("k")).apply_stream(
                init, acc, fin,
                schema="k int, n long, s long, max_chunk long",
                key_names=["k"],
            ).df.collect()
            assert len(row) == 1
            r = row[0]
            assert r["n"] == 200_000
            assert r["s"] == 200_000 * 199_999 // 2
            assert 0 < r["max_chunk"] <= 2048
        finally:
            set_options(spark, {"spark.sql.execution.arrow.maxRecordsPerBatch": old})

    def test_matches_groupby_agg_many_groups(self, spark):
        from pigpen_spark.relation import Relation

        df = (spark.range(10_000)
              .select((F.col("id") % 37).alias("k"), F.col("id").alias("v"))
              .repartition(16))
        rel = Relation(df)
        got = {(r["k"], r["n"], r["s"]) for r in rel.group_by(F.col("k")).apply_stream(
            lambda key: [0, 0],
            lambda st, ch: [st[0] + len(ch), st[1] + int(ch["v"].sum())],
            lambda key, st: {"k": key[0], "n": st[0], "s": st[1]},
            schema="k long, n long, s long", key_names=["k"],
        ).df.collect()}
        want = {(r["k"], r["n"], r["s"]) for r in df.groupBy("k").agg(
            F.count(F.lit(1)).alias("n"), F.sum("v").alias("s")).collect()}
        assert got == want and len(got) == 37

    def test_order_by_streams_rows_in_order(self, spark):
        from pigpen_spark.relation import Relation

        rows = [(i % 5, (i * 7919) % 10_000, i) for i in range(2_000)]
        df = spark.createDataFrame(rows, ["k", "ord", "v"]).repartition(8)
        rel = Relation(df)

        def acc(st, ch):
            st.extend(ch["ord"].tolist())
            return st

        got = {r["k"]: r["ok"] for r in rel.group_by(F.col("k")).apply_stream(
            lambda key: [], acc,
            lambda key, st: {"k": key[0], "ok": st == sorted(st),
                             "n": len(st)},
            schema="k long, ok boolean, n long", key_names=["k"],
            order_by=[F.col("ord")],
        ).df.collect()}
        assert got and all(got.values())

    def test_null_key_groups_together(self, spark):
        from pigpen_spark.relation import Relation

        df = spark.createDataFrame(
            [(None, 1), (None, 2), (1, 3)], "k int, v int")
        rel = Relation(df)
        got = {r["k"]: r["n"] for r in rel.group_by(F.col("k")).apply_stream(
            lambda key: 0, lambda st, ch: st + len(ch),
            lambda key, st: {"k": key[0], "n": st},
            schema="k int, n long", key_names=["k"],
        ).df.collect()}
        assert got == {None: 2, 1: 1}

    def test_cogroup_stream_matches_materializing_cogroup(self, spark):
        from pigpen_spark.relation import Relation

        left = Relation(spark.createDataFrame(
            [(1, "a"), (2, "b"), (4, "d")], ["k", "name"]))
        right = Relation(spark.createDataFrame(
            [(1, 10), (1, 20), (3, 30)], ["k", "x"]))

        def init(key):
            return {"names": [], "xs": 0, "nx": 0}

        def acc(st, tag, ch):
            if tag == 0:
                st["names"].extend(ch["name"].tolist())
            else:
                st["nx"] += len(ch)
                st["xs"] += int(ch["x"].sum())
            return st

        def fin(key, st):
            return {"k": key[0], "names": ",".join(sorted(st["names"])),
                    "nx": st["nx"], "xs": st["xs"]}

        got = {(r["k"], r["names"], r["nx"], r["xs"])
               for r in left.cogroup_stream(
                   [(right, F.col("k"))], F.col("k"), init, acc, fin,
                   schema="k long, names string, nx long, xs long",
                   key_names=["k"]).df.collect()}
        # full-outer semantics: all keys from both sides appear
        assert got == {(1, "a", 2, 30), (2, "b", 0, 0),
                       (3, "", 1, 30), (4, "d", 0, 0)}


class TestMjpegMp4:
    """Real MJPEG-in-ISO-BMFF frame decode (VERDICT r3 next #5)."""

    def test_round_trip_exact(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        for i in (0, 1, 5, 7, 11, 23):
            bw, bh, a, nf = 1 + i % 3, 1 + (i // 2) % 3, i % 150, 1 + i % 4
            frames = []
            for f in range(nf):
                blocks = a + f + np.arange(bw)[None, :] + np.arange(bh)[:, None]
                frames.append(np.repeat(np.repeat(blocks, 8, 0), 8, 1)
                              .astype(np.uint8))
            payload = C.mp4_encode_mjpeg([C.jpeg_encode(fr) for fr in frames],
                                         bw * 8, bh * 8)
            w, h, dec = C.mp4_frames(payload)
            assert (w, h) == (bw * 8, bh * 8) and len(dec) == nf
            for f in range(nf):
                assert (dec[f][:, :, 0] == frames[f]).all()

    def test_meta_and_frames_agree(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        img = np.full((8, 16), 77, dtype=np.uint8)
        payload = C.mp4_encode_mjpeg([C.jpeg_encode(img)] * 3, 16, 8)
        m = C.mp4_meta(payload)
        t = m["tracks"][0]
        assert (t["codec"], t["handler"], t["n_samples"]) == ("jpeg", "vide", 3)
        assert (t["width"], t["height"]) == (16, 8)

    def test_non_mjpeg_and_corrupt_raise(self):
        import pytest as _pytest

        from pigpen_spark.functions import codecs as C

        skeleton = C.mp4_encode_skeleton(1000, [
            {"handler": "vide", "codec": "avc1", "width": 320, "height": 240,
             "n_samples": 24, "track_duration_ms": 1000}])
        with _pytest.raises(ValueError, match="no mjpeg video track"):
            C.mp4_frames(skeleton)
        with _pytest.raises(ValueError):
            C.mp4_frames(b"not a container")

    def test_spark_frame_sample_mp4(self, spark):
        from pigpen_spark.functions import multimodal as M

        base = spark.range(6).withColumnRenamed("id", "doc_id")
        clips = M.synth_mjpeg(base, "doc_id")
        got = {(r["id"], r["frame_index"]): r["f_px_sum"]
               for r in M.frame_sample_mp4(clips, "id", every_n=2).collect()}
        fused = {(r["id"], r["frame_index"]): r["f_px_sum"]
                 for r in M.synth_frame_stats_mp4(base, "doc_id", every_n=2)
                 .collect()}
        assert got == fused and got
        # closed form for doc 5: bw=3,bh=3,a=5,nf=2 → frame 0 only
        bw = bh = 3
        assert got[(5, 0)] == 64 * (bw * bh * 5 + bh * 3 + bw * 3)


class TestFusedMatchesUnfused:
    def test_image_audio_video_fused_equivalence(self, spark):
        from pigpen_spark.functions import multimodal as M

        base = spark.range(8).withColumnRenamed("id", "doc_id")

        unfused = M.image_stats(M.synth_png(base, "doc_id"), "id")
        fused = M.synth_image_stats(base, "doc_id", fmt="png")
        assert {tuple(r) for r in unfused.collect()} == \
               {tuple(r) for r in fused.collect()}

        unfused_j = M.image_stats(M.synth_jpeg(base, "doc_id"), "id")
        fused_j = M.synth_image_stats(base, "doc_id", fmt="jpeg")
        assert {tuple(r) for r in unfused_j.collect()} == \
               {tuple(r) for r in fused_j.collect()}

        unfused_a = M.audio_features_wav(M.synth_wav(base, "doc_id"), "id")
        fused_a = M.synth_audio_stats(base, "doc_id")
        assert {tuple(r) for r in unfused_a.collect()} == \
               {tuple(r) for r in fused_a.collect()}

        unfused_g = M.frame_sample_gif(M.synth_gif(base, "doc_id"), "id",
                                       every_n=2)
        fused_g = M.synth_frame_stats_gif(base, "doc_id", every_n=2)
        assert {tuple(r) for r in unfused_g.collect()} == \
               {tuple(r) for r in fused_g.collect()}

        unfused_v = M.video_meta(M.synth_mp4(base, "doc_id"), "id")
        fused_v = M.synth_video_meta(base, "doc_id")
        assert {tuple(r) for r in unfused_v.collect()} == \
               {tuple(r) for r in fused_v.collect()}

        unfused_w = M.video_meta(M.synth_webm(base, "doc_id"), "id")
        fused_w = M.synth_video_meta_webm(base, "doc_id")
        assert {tuple(r) for r in unfused_w.collect()} == \
               {tuple(r) for r in fused_w.collect()}

        # no unfused synth_* exists for these fixtures: decode their
        # payload bytes directly
        def payloads(make):
            return spark.createDataFrame(
                [(i, make(i)) for i in range(8)], "id long, payload binary")

        unfused_aac = M.audio_profile_aac(payloads(M._aac_payload), "id")
        fused_aac = M.synth_audio_profile_aac(base, "doc_id")
        assert {tuple(r) for r in unfused_aac.collect()} == \
               {tuple(r) for r in fused_aac.collect()}

        # decode_image_meta and the triage fixture share one header sniff
        meta = M.decode_image_meta(payloads(M._image_triage_payload), "id")
        got = {(r["id"], r["width"], r["height"], r["format"])
               for r in meta.collect()}
        fused_t = M.synth_image_triage(base, "doc_id")
        assert got == {tuple(r) for r in fused_t.collect()}
        assert {f for _i, _w, _h, f in got} == {"png", "jpeg", "gif", "bmp"}

    def test_thumb_and_downsample_fused_equivalence(self, spark):
        from pyspark.sql import functions as F

        from pigpen_spark.functions import multimodal as M

        base = spark.range(8).withColumnRenamed("id", "doc_id")
        thumbs = M.image_thumbnail(M.synth_png(base, "doc_id"), "id", factor=2)
        verify = M.image_stats(
            thumbs.select("id", F.col("thumb").alias("payload")), "id")
        unfused = {(r["id"], r["px_sum"]) for r in verify.collect()}
        fused = {(r["id"], r["t_px_sum"])
                 for r in M.synth_thumb_stats(base, "doc_id", factor=2).collect()}
        assert unfused == fused

        un_d = M.audio_downsample(M.synth_wav(base, "doc_id"), "id", factor=2)
        got_d = {(r["id"], r["rate_out"], r["n_out"], r["sample_sum_out"])
                 for r in un_d.collect()}
        f_d = {(r["id"], r["rate_out"], r["n_out"], r["sample_sum_out"])
               for r in M.synth_audio_downsample_stats(base, "doc_id", factor=2)
               .collect()}
        assert got_d == f_d


class TestSkewJoinBench:
    """Deliberate-skew join rows (VERDICT r3 next #7): salted_join proven
    on data where one key carries ~20% of rows."""

    def test_salted_matches_plain_on_skewed_data(self, spark, sf_dir):
        from pigpen_spark import catalog
        from pigpen_spark import catalog_ext  # noqa: F401 — registers ext_*

        qs = catalog.queries()
        plain = {tuple(r) for r in qs["ext_skew_join_plain"](spark, sf_dir).collect()}
        salted = {tuple(r) for r in qs["ext_skew_join_salted"](spark, sf_dir).collect()}
        assert plain == salted and len(plain) > 0

    def test_plans_pinned(self, spark, sf_dir):
        from pigpen_spark import catalog
        from pigpen_spark import catalog_ext  # noqa: F401 — registers ext_*

        qs = catalog.queries()
        plain = qs["ext_skew_join_plain"](spark, sf_dir)
        salted = qs["ext_skew_join_salted"](spark, sf_dir)
        pp = plain._jdf.queryExecution().executedPlan().toString()
        sp = salted._jdf.queryExecution().executedPlan().toString()
        # control: SMJ, no broadcast, no salt explode
        assert "SortMergeJoin" in pp and "BroadcastHashJoin" not in pp
        assert "Generate" not in pp
        # salted: SMJ on (salt, key) with the 16-way replication explode
        assert "SortMergeJoin" in sp and "BroadcastHashJoin" not in sp
        assert "Generate" in sp and "__rsalt" in sp

    def test_hot_key_spreads_across_salt_buckets(self, spark):
        from pigpen_spark.operators.joins import salted_join

        left = spark.range(10_000).select(F.lit(1).alias("k"),
                                          F.col("id").alias("v"))
        right = spark.createDataFrame([(1, "x")], ["k", "name"])
        out = salted_join(left, right.hint("merge"), on="k", salt=8)
        assert out.count() == 10_000
        # the per-row salt must actually take >1 value for a single hot key
        n_buckets = (left.withColumn(
            "s", F.pmod(F.monotonically_increasing_id(), F.lit(8)))
            .select("s").distinct().count())
        assert n_buckets > 1


class TestLoadTap:
    """load-tap / store-tap analogs (reference cascading.clj:50-88) —
    the one §2.1 row that was a documented pattern without a test."""

    def test_load_tap_wraps_callable_and_dataframe(self, spark, tmp_path):
        from pigpen_spark.sources.io import load_tap

        df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        rel1 = load_tap(spark, df)                      # direct frame
        rel2 = load_tap(spark, lambda s: s.createDataFrame(
            [(1, "a"), (2, "b")], ["k", "v"]))          # deferred producer
        assert {tuple(r) for r in rel1.df.collect()} == \
               {tuple(r) for r in rel2.df.collect()} == {(1, "a"), (2, "b")}
        # the wrap joins the full operator algebra
        assert rel1.filter(F.col("k") == 1).df.count() == 1

    def test_load_tap_rejects_non_dataframe(self, spark):
        import pytest as _pytest

        from pigpen_spark.sources.io import load_tap

        with _pytest.raises(TypeError, match="must be or produce"):
            load_tap(spark, lambda s: [1, 2, 3])

    def test_store_tap_drives_any_sink(self, spark, tmp_path):
        from pigpen_spark.sources.io import load_tap, store_tap

        rel = load_tap(spark, spark.createDataFrame([(7, "x")], ["k", "v"]))
        out = str(tmp_path / "tap_out")
        store_tap(rel, lambda df: df.write.mode("overwrite").parquet(out))
        back = spark.read.parquet(out)
        assert [tuple(r) for r in back.collect()] == [(7, "x")]

    def test_store_tap_compiles_pending_python_ops(self, spark, tmp_path):
        """writer must see the MATERIALIZED frame: a pending fused *_py
        chain compiles before the sink runs."""
        from pigpen_spark.sources.io import load_tap, store_tap

        rel = load_tap(spark, spark.createDataFrame([(1,), (2,)], ["k"]))
        rel2 = rel.map_py(lambda r: {"k": r["k"] * 10}, schema="k long")
        got = []
        store_tap(rel2, lambda df: got.extend(r["k"] for r in df.collect()))
        assert sorted(got) == [10, 20]


class TestRemoveFrequentSpansJoinForm:
    """The big-ban-set path (SCALE.md: the broadcast HOF scan went ~450x
    slower once the ban set exploded at 10x scale)."""

    def _corpus(self, spark):
        rows = [(i, "ban ner spam spam unique" + str(i) + " tail tok")
                for i in range(12)]
        rows.append((99, "ban ner spam spam ban ner spam spam"))  # all banned
        rows.append((100, ""))                                    # empty doc
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_join_matches_broadcast(self, spark):
        from pigpen_spark.functions.pipeline import remove_frequent_spans

        df = self._corpus(spark)
        b = {tuple(r) for r in remove_frequent_spans(
            df, "doc_id", "text", chunk=4, min_docs=10,
            strategy="broadcast").collect()}
        j = {tuple(r) for r in remove_frequent_spans(
            df, "doc_id", "text", chunk=4, min_docs=10,
            strategy="join").collect()}
        assert b == j and len(b) == 14

    def test_auto_switches_on_ban_size(self, spark):
        from pigpen_spark.functions.pipeline import remove_frequent_spans

        df = self._corpus(spark)
        # broadcast_max=0 forces the join path through auto
        forced = {tuple(r) for r in remove_frequent_spans(
            df, "doc_id", "text", chunk=4, min_docs=10,
            strategy="auto", broadcast_max=0).collect()}
        default = {tuple(r) for r in remove_frequent_spans(
            df, "doc_id", "text", chunk=4, min_docs=10).collect()}
        assert forced == default

    def test_join_form_keeps_order_and_all_docs(self, spark):
        from pigpen_spark.functions.pipeline import remove_frequent_spans

        df = self._corpus(spark)
        out = {r["doc_id"]: (r["clean_text"], r["n_removed"])
               for r in remove_frequent_spans(
                   df, "doc_id", "text", chunk=4, min_docs=10,
                   strategy="join").collect()}
        # doc 99: both its chunks are banned spans -> empty, 2 removed
        assert out[99] == ("", 2)
        assert out[100] == ("", 0)
        # the shared 4-token chunk is banned; the doc-unique tail survives
        assert out[0] == ("unique0 tail tok", 1)

    def test_bad_strategy_rejected(self, spark):
        from pigpen_spark.functions.pipeline import remove_frequent_spans

        with pytest.raises(ValueError, match="unknown strategy"):
            remove_frequent_spans(self._corpus(spark), "doc_id", "text",
                                  strategy="nope")


class TestNormalizeNfc:
    def test_nfc_matches_python_and_is_idempotent(self, spark):
        import unicodedata

        from pigpen_spark.functions.text import normalize_nfc

        cases = ["Café", "Åberg", "ﬁne", "Ångstrom",
                 "ȩ́x", "plain", "", None]
        df = spark.createDataFrame([(i, c) for i, c in enumerate(cases)],
                                   "i int, t string")
        got = {r["i"]: r["n"] for r in df.select(
            "i", normalize_nfc("t").alias("n")).collect()}
        for i, c in enumerate(cases):
            want = None if c is None else unicodedata.normalize("NFC", c)
            assert got[i] == want, (c, got[i], want)
        # idempotence: NFC(NFC(x)) == NFC(x)
        df2 = df.select("i", normalize_nfc(normalize_nfc("t")).alias("n"))
        assert {r["i"]: r["n"] for r in df2.collect()} == got


class TestLshPlanesFor:
    def test_density_invariance_and_clamps(self):
        from pigpen_spark.tuning import lsh_planes_for

        # expected occupancy n / 2^planes stays ~target across 1000x
        for n in (10_000, 100_000, 1_000_000, 10_000_000):
            p = lsh_planes_for(n, target_bucket=200)
            assert 8 <= p <= 32
            assert n / (1 << p) <= 200 * 1.01
        # 10x data adds ~log2(10) ~ 3-4 planes (above the floor clamp)
        assert 3 <= lsh_planes_for(2_000_000) - lsh_planes_for(200_000) <= 4
        assert lsh_planes_for(10) == 8          # floor
        assert lsh_planes_for(10**12, cap=20) == 20  # cap
        with pytest.raises(ValueError):
            lsh_planes_for(0)


class TestAutoPlanes:
    def test_auto_resolves_and_matches_explicit(self, spark):
        from pigpen_spark.functions import similarity as S
        from pigpen_spark.tuning import lsh_planes_for

        rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)])
                for i in range(300)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        expected_planes = lsh_planes_for(300)
        auto = S.lsh_topk(df, k=3, n_planes="auto", dim=8)
        explicit = S.lsh_topk(df, k=3, n_planes=expected_planes, dim=8)
        assert {tuple(r) for r in auto.collect()} == \
               {tuple(r) for r in explicit.collect()}

    def test_auto_on_index(self, spark):
        from pigpen_spark.functions import similarity as S

        rows = [(i, [float((i * 5 + j) % 7) for j in range(8)])
                for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        idx = S.lsh_index(df, n_planes="auto", dim=8)
        assert idx.count() == 50 and "bucket" in idx.columns


class TestStreamGroupAccumulate:
    def test_generic_state_survives_batches(self, spark, tmp_path):
        import json

        from pigpen_spark.streaming import core as st

        SCHEMA = "user string, v double, ts timestamp"

        def write_batch(path, rows, name):
            path.mkdir(parents=True, exist_ok=True)
            (path / f"{name}.json").write_text(
                "\n".join(json.dumps(r) for r in rows))

        src = tmp_path / "in_acc"
        write_batch(src, [
            {"user": "a", "v": 2.0, "ts": "2024-01-01 00:00:00"},
            {"user": "a", "v": 3.0, "ts": "2024-01-01 00:01:00"},
            {"user": "b", "v": 5.0, "ts": "2024-01-01 00:02:00"},
        ], "b0")
        write_batch(src, [
            {"user": "a", "v": 10.0, "ts": "2024-01-01 00:03:00"},
        ], "b1")
        # one file per micro-batch: state must carry across batches
        rel = st.read_stream_json(spark, str(src), SCHEMA,
                                  maxFilesPerTrigger=1)

        def init(key):
            return {"n": 0, "s": 0.0, "mx": None}

        def acc(stt, pdf):
            stt["n"] += len(pdf)
            stt["s"] += float(pdf["v"].sum())
            m = float(pdf["v"].max())
            stt["mx"] = m if stt["mx"] is None else max(stt["mx"], m)
            return stt

        def emit(key, stt):
            return {"user": key[0], "n": stt["n"], "s": stt["s"],
                    "mx": stt["mx"]}

        out = st.stream_group_accumulate(
            rel.df, "user", init, acc, emit,
            "user string, n bigint, s double, mx double", "ts")
        q = (out.writeStream.format("memory").queryName("acc1")
             .outputMode("update")
             .option("checkpointLocation", str(tmp_path / "ck_acc"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        rows = spark.sql("select * from acc1").collect()
        # update mode re-emits per batch; n is monotonic, so the row
        # with max n per key is the current state (collect order is not
        # a contract)
        cur = {}
        for r in rows:
            if r["user"] not in cur or r["n"] > cur[r["user"]][0]:
                cur[r["user"]] = (r["n"], r["s"], r["mx"])
        assert cur["a"] == (3, 15.0, 10.0)
        assert cur["b"] == (1, 5.0, 5.0)
        # two emissions for "a" proves the state crossed a batch boundary
        assert sum(1 for r in rows if r["user"] == "a") == 2


class TestProgressiveJpeg:
    """Progressive (SOF2) JPEG: multi-scan decode + the 5-scan encoder."""

    def test_progressive_equals_baseline_on_arbitrary_images(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        rng = np.random.default_rng(11)
        for trial in range(24):
            h, w = int(rng.integers(1, 33)), int(rng.integers(1, 33))
            if trial % 3 == 0:
                img = rng.integers(0, 256, (h, w)).astype(np.uint8)
            elif trial % 3 == 1:
                img = (np.add.outer(np.arange(h), np.arange(w)) % 251).astype(np.uint8)
            else:
                img = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
            q = int(rng.choice([1, 2, 4]))
            base = C.jpeg_decode(C.jpeg_encode(img, quant=q))
            prog = C.jpeg_decode(C.jpeg_encode_progressive(img, quant=q))
            assert base.shape == prog.shape and (base == prog).all(), \
                (trial, img.shape, q)

    def test_lossless_subspace_round_trip(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        blocks = np.array([[7, 100], [180, 33]], dtype=np.uint8)
        img = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
        out = C.jpeg_decode(C.jpeg_encode_progressive(img))
        assert (out[:, :, 0] == img).all()

    def test_sof2_meta_and_marker(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        img = np.full((8, 16), 40, dtype=np.uint8)
        payload = C.jpeg_encode_progressive(img)
        assert b"\xFF\xC2" in payload and b"\xFF\xC0" not in payload
        assert payload.count(b"\xFF\xDA") == 5      # the 5-scan script
        assert C.jpeg_meta(payload) == (16, 8, 1)

    def test_truncated_progressive_raises(self):
        import numpy as np
        import pytest as _pytest

        from pigpen_spark.functions import codecs as C

        img = np.full((8, 8), 90, dtype=np.uint8)
        payload = C.jpeg_encode_progressive(img)
        with _pytest.raises(ValueError):
            C.jpeg_decode(payload[:len(payload) // 2])


class TestSortedNeighborhood:
    def test_pairs_within_window_and_deterministic(self, spark):
        from pigpen_spark.functions.dedup import sorted_neighborhood_pairs

        rows = [(1, "apple pie"), (2, "apple pye"), (3, "banana"),
                (4, "bananna"), (5, "cherry"), (6, "apple pie")]
        df = spark.createDataFrame(rows, ["id", "text"])
        pairs = sorted_neighborhood_pairs(df, "id", F.col("text"), window=3)
        got = {(r["id_a"], r["id_b"], r["rank_dist"]) for r in pairs.collect()}
        # sort order: (text, id): apple pie(1), apple pie(6), apple pye(2),
        # banana(3), bananna(4), cherry(5)
        assert (1, 6, 1) in got and (1, 2, 2) in got and (6, 2, 1) in got
        assert (3, 4, 1) in got and (4, 5, 1) in got and (3, 5, 2) in got
        # n*(w-1) minus tail truncation
        assert len(got) == 2 * 6 - 3

    def test_no_single_partition_window(self, spark):
        from pigpen_spark.functions.dedup import sorted_neighborhood_pairs

        df = spark.range(100).select(
            F.col("id"), F.concat(F.lit("k"), F.col("id") % 10).alias("t"))
        plan = sorted_neighborhood_pairs(df, "id", F.col("t"), window=2) \
            ._jdf.queryExecution().executedPlan().toString()
        # the two-phase ranked form: no empty-partition global Window
        assert "Window [" not in plan or "PartitionBy" not in plan

    def test_window_validation(self, spark):
        from pigpen_spark.functions.dedup import sorted_neighborhood_pairs

        with pytest.raises(ValueError, match="window must be >= 2"):
            sorted_neighborhood_pairs(
                spark.range(3).select("id", F.lit("x").alias("t")),
                "id", F.col("t"), window=1)


class TestTarShards:
    """WebDataset-style tar shard sink/source (multimodal packaging)."""

    def test_round_trip_with_meta(self, spark, tmp_path):
        from pigpen_spark.functions import multimodal as M
        from pigpen_spark.sources.io import load_tar_shards, store_tar_shards

        base = spark.range(20).withColumnRenamed("id", "doc_id")
        payloads = M.synth_png(base, "doc_id").withColumn(
            "lang", F.concat(F.lit("l"), (F.col("id") % 3).cast("string")))
        out = str(tmp_path / "wds")
        store_tar_shards(payloads, out, payload_col="payload",
                         name_col="id", suffix=".png",
                         meta_cols=["lang"], shards=4)
        back = load_tar_shards(spark, out, suffix=".png")
        rows = back.df.collect()
        assert len(rows) == 20
        import json

        orig = {str(r["id"]): (bytes(r["payload"]), r["lang"])
                for r in payloads.collect()}
        for r in rows:
            payload, lang = orig[r["name"]]
            assert bytes(r["payload"]) == payload
            assert json.loads(r["meta_json"]) == {"lang": lang}
        # shard fan-out honored (≤4 tars, ≥1)
        import os

        tars = [f for f in os.listdir(out) if f.endswith(".tar")]
        assert 1 <= len(tars) <= 4

    def test_members_are_standard_tar(self, spark, tmp_path):
        import tarfile

        from pigpen_spark.sources.io import store_tar_shards

        df = spark.createDataFrame(
            [(1, bytearray(b"abc")), (2, bytearray(b"defg"))], ["id", "payload"])
        out = str(tmp_path / "plain")
        store_tar_shards(df, out, shards=1)
        import os

        tar_path = os.path.join(out, sorted(os.listdir(out))[0])
        with tarfile.open(tar_path) as tar:   # stdlib reads it back: POSIX tar
            names = sorted(tar.getnames())
            assert names == ["1.bin", "2.bin"]
            assert tar.extractfile("2.bin").read() == b"defg"


class TestPagerank:
    """Integer-exact PageRank (fixed iterations, BIGINT grid)."""

    @staticmethod
    def _py_pagerank(edges, iterations, scale=10**12):
        """Straight-line integer reimplementation of the documented
        arithmetic contract."""
        edges = sorted(set(edges))
        nodes = sorted({u for e in edges for u in e})
        outdeg = {}
        for s, _ in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        n = len(nodes)
        base = scale // n
        teleport = (15 * base) // 100
        rank = {u: base for u in nodes}
        for _ in range(iterations):
            sums = {u: 0 for u in nodes}
            for s, d in edges:
                sums[d] += rank.get(s, 0) // outdeg[s]
            rank = {u: teleport + (85 * sums[u]) // 100 for u in nodes}
        return rank

    def test_matches_python_reference(self, spark):
        from pigpen_spark.functions.dedup import pagerank

        # diamond + dangling sink + a self-reinforcing pair
        edges = [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (6, 7), (7, 6)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.node: r["rank"] for r in pagerank(df, iterations=4).collect()}
        assert got == self._py_pagerank(edges, iterations=4)

    def test_dangling_receives_but_does_not_send(self, spark):
        from pigpen_spark.functions.dedup import pagerank

        # node 3 has no out-edges: it must appear in the output with
        # more than the teleport floor (it receives), while isolated-ish
        # source node 1 (no in-edges) holds exactly the teleport term.
        df = spark.createDataFrame([(1, 2), (2, 3)], ["src", "dst"])
        got = {r.node: r["rank"] for r in pagerank(df, iterations=2).collect()}
        scale = 10**12
        base = scale // 3
        teleport = (15 * base) // 100
        assert set(got) == {1, 2, 3}
        assert got[1] == teleport
        assert got[3] > teleport

    def test_iterations_validated(self, spark):
        from pigpen_spark.functions.dedup import pagerank

        df = spark.createDataFrame([(1, 2)], ["src", "dst"])
        with pytest.raises(ValueError, match="iterations"):
            pagerank(df, iterations=0)


    def test_checkpoint_interval_is_value_neutral(self, spark):
        from pigpen_spark.functions.dedup import pagerank

        edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 1)]
        df = spark.createDataFrame(edges, ["src", "dst"])
        a = {r.node: r["rank"]
             for r in pagerank(df, iterations=7, checkpoint_every=2).collect()}
        assert a == self._py_pagerank(edges, iterations=7)
        with __import__("pytest").raises(ValueError, match="checkpoint_every"):
            pagerank(df, checkpoint_every=0)

    def test_oracle_sql_matches_duckdb(self, spark):
        """End-to-end cross-engine differential on an arbitrary graph."""
        import duckdb

        from pigpen_spark.functions.dedup import pagerank, pagerank_cte_sql

        edges = [(i, (i * i + 1) % 11) for i in range(11)] + [(3, 7), (7, 3)]
        edges = [(s, d) for s, d in edges if s != d]
        df = spark.createDataFrame(edges, ["src", "dst"])
        got = {r.node: r["rank"] for r in pagerank(df, iterations=3).collect()}
        vals = ", ".join(f"({s}, {d})" for s, d in sorted(set(edges)))
        sql = pagerank_cte_sql(
            f"edges AS (SELECT DISTINCT * FROM (VALUES {vals}) t(src, dst))",
            iterations=3)
        want = {n: r for n, r in duckdb.sql(sql).fetchall()}
        assert got == want


class TestAviCodec:
    """RIFF-AVI: the second real video container (DIB + MJPG streams)."""

    def test_dib_round_trip_exact(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        # odd widths exercise the 4-byte row padding; multi-frame keeps
        # chunk word-alignment honest
        for w, h, nf in [(5, 7, 3), (4, 3, 1), (7, 2, 4), (1, 1, 2)]:
            frames = [((np.arange(h * w * 3).reshape(h, w, 3) + 11 * f) % 251)
                      .astype(np.uint8) for f in range(nf)]
            ww, hh, dec = C.avi_frames(C.avi_encode_dib(frames, fps=12))
            assert (ww, hh, len(dec)) == (w, h, nf)
            for a, b in zip(frames, dec):
                assert np.array_equal(a, b)

    def test_mjpg_round_trip_lossless_subspace(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        img = np.repeat(np.repeat(
            np.array([[10, 11], [12, 13]], dtype=np.uint8), 8, 0), 8, 1)
        samples = [C.jpeg_encode((img + f).astype(np.uint8)) for f in range(3)]
        w, h, dec = C.avi_frames(C.avi_encode_mjpeg(samples, 16, 16))
        assert (w, h, len(dec)) == (16, 16, 3)
        assert int(dec[2].sum()) - int(dec[0].sum()) == 2 * 16 * 16

    def test_error_contract(self):
        import numpy as np
        import pytest as _pytest

        from pigpen_spark.functions import codecs as C

        with _pytest.raises(ValueError, match="bad RIFF/AVI header"):
            C.avi_frames(b"RIFF\x00\x00\x00\x00WAVE")
        with _pytest.raises(ValueError, match="need at least one frame"):
            C.avi_encode_dib([])
        with _pytest.raises(ValueError, match="one geometry"):
            C.avi_encode_dib([np.zeros((2, 2, 3), np.uint8),
                              np.zeros((3, 2, 3), np.uint8)])
        # unsupported codec fourcc in strh must raise, not mis-decode
        good = C.avi_encode_dib([np.zeros((2, 2, 3), np.uint8)])
        bad = good.replace(b"vidsDIB ", b"vidscvid", 1)
        with _pytest.raises(ValueError, match="unsupported codec"):
            C.avi_frames(bad)

    def test_spark_frame_sample_avi(self, spark):
        from pigpen_spark.functions import multimodal as M

        base = spark.range(6).withColumnRenamed("id", "doc_id")
        clips = M.synth_avi(base, "doc_id")
        got = {(r["id"], r["frame_index"]): r["f_px_sum"]
               for r in M.frame_sample_avi(clips, "id", every_n=2).collect()}
        fused = {(r["id"], r["frame_index"]): r["f_px_sum"]
                 for r in M.synth_frame_stats_avi(base, "doc_id", every_n=2)
                 .collect()}
        assert got == fused and got
        # closed form for doc 5: w=4,h=5,a=5 → frame 0 only
        w, h, a = 4 + 5 % 5, 3 + 2 % 4, 5
        want = (3 * h * w * a + 3 * h * (w * (w - 1) // 2)
                + 3 * w * (h * (h - 1) // 2) + h * w * 3)
        assert got[(5, 0)] == want


class TestDsir:
    """DSIR hashed n-gram importance weighting (arXiv:2302.03169)."""

    def test_target_like_docs_outrank(self, spark):
        from pigpen_spark.functions import classify as C

        target_rows = [(i, "alpha beta gamma delta") for i in range(8)]
        raw_rows = target_rows + [
            (100 + i, "omega psi chi phi") for i in range(8)]
        target = spark.createDataFrame(target_rows, ["doc_id", "text"])
        raw = spark.createDataFrame(raw_rows, ["doc_id", "text"])
        ratio = C.dsir_ratio_table(
            spark,
            C.dsir_bucket_counts(target, "text", 64),
            C.dsir_bucket_counts(raw, "text", 64), n_buckets=64)
        got = {r.doc_id: r.w_ppm for r in
               C.dsir_importance(raw, "doc_id", "text", ratio, 64).collect()}
        # every target-vocabulary doc strictly outranks every off-target doc
        assert min(got[i] for i in range(8)) > max(got[100 + i] for i in range(8))

    def test_feature_count_and_empty_doc(self, spark):
        from pigpen_spark.functions import classify as C

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "")], ["doc_id", "text"])
        ratio = C.dsir_ratio_table(
            spark, C.dsir_bucket_counts(df, "text", 32),
            C.dsir_bucket_counts(df, "text", 32), n_buckets=32)
        got = {r.doc_id: (r.n_feats, r.w_ppm) for r in
               C.dsir_importance(df, "doc_id", "text", ratio, 32).collect()}
        assert got[1][0] == 3 + 2          # 3 unigrams + 2 bigrams
        assert got[2] == (0, None)         # token-less: no features, no score

    def test_identical_corpora_score_uniform(self, spark):
        from pigpen_spark.functions import classify as C

        # target == raw ⇒ every smoothed ratio is ~1e6 ⇒ all docs equal
        df = spark.createDataFrame(
            [(1, "x y"), (2, "y z"), (3, "z x")], ["doc_id", "text"])
        c = C.dsir_bucket_counts(df, "text", 16)
        ratio = C.dsir_ratio_table(spark, c, c, n_buckets=16)
        scores = {r.w_ppm for r in
                  C.dsir_importance(df, "doc_id", "text", ratio, 16).collect()}
        assert scores == {1000000}


class TestKmvSketch:
    """KMV/theta distinct sketch with set algebra (Beyer et al. 2007)."""

    def test_unsaturated_is_exact(self, spark):
        from pigpen_spark.functions import sketch as K

        df = spark.createDataFrame([(f"v{i}",) for i in range(20)], ["x"])
        sk = K.kmv_sketch(df, F.col("x"), k=64)
        assert K.kmv_estimate(sk, 64).collect()[0].est_distinct == 20

    def test_saturated_estimate_within_envelope(self, spark):
        from pigpen_spark.functions import sketch as K

        n = 5000
        df = spark.createDataFrame([(f"item-{i}",) for i in range(n)], ["x"])
        est = K.kmv_estimate(K.kmv_sketch(df, F.col("x"), k=256), 256) \
            .collect()[0].est_distinct
        # relative error ~1/sqrt(k-2) ≈ 6.3%; allow 4 sigma
        assert abs(est - n) < 4 * n / (254 ** 0.5)

    def test_merge_equals_sketch_of_union(self, spark):
        from pigpen_spark.functions import sketch as K

        a = spark.createDataFrame([(f"a{i}",) for i in range(300)], ["x"])
        b = spark.createDataFrame([(f"b{i}",) for i in range(300)], ["x"])
        u = a.union(b)
        merged = {r.h for r in K.kmv_merge(
            K.kmv_sketch(a, F.col("x"), 64),
            K.kmv_sketch(b, F.col("x"), 64), 64).collect()}
        direct = {r.h for r in K.kmv_sketch(u, F.col("x"), 64).collect()}
        assert merged == direct

    def test_disjoint_and_identical_overlap(self, spark):
        from pigpen_spark.functions import sketch as K

        a = spark.createDataFrame([(f"a{i}",) for i in range(200)], ["x"])
        b = spark.createDataFrame([(f"b{i}",) for i in range(200)], ["x"])
        ska = K.kmv_sketch(a, F.col("x"), 64)
        skb = K.kmv_sketch(b, F.col("x"), 64)
        r = K.kmv_overlap(ska, skb, 64).collect()[0]
        assert r.jaccard_ppm == 0 and r.est_intersect == 0
        r2 = K.kmv_overlap(ska, ska, 64).collect()[0]
        assert r2.jaccard_ppm == 1000000 and r2.est_a == r2.est_intersect

    def test_keyed_sketch(self, spark):
        from pigpen_spark.functions import sketch as K

        df = spark.createDataFrame(
            [("g1", f"v{i}") for i in range(10)]
            + [("g2", f"w{i}") for i in range(500)], ["g", "x"])
        est = {r.g: r.est_distinct for r in K.kmv_estimate(
            K.kmv_sketch(df, F.col("x"), 64, key=["g"]), 64,
            key=["g"]).collect()}
        assert est["g1"] == 10
        assert abs(est["g2"] - 500) < 4 * 500 / (62 ** 0.5)

    def test_k_validated(self, spark):
        from pigpen_spark.functions import sketch as K

        df = spark.createDataFrame([("x",)], ["x"])
        with pytest.raises(ValueError, match="k must be"):
            K.kmv_sketch(df, F.col("x"), k=1)


class TestKAnonymity:
    """k-anonymity / l-diversity audit (privacy gate)."""

    def test_report_counts(self, spark):
        from pigpen_spark.functions.validate import k_anonymity_report

        rows = ([("a", "x", i) for i in range(5)]          # class of 5, 5 values
                + [("a", "y", 1), ("a", "y", 1)]           # class of 2, 1 value
                + [("b", "x", 7)])                          # class of 1
        df = spark.createDataFrame(rows, ["q1", "q2", "s"])
        r = k_anonymity_report(df, ["q1", "q2"], k=3,
                               sensitive="s", l=2).collect()[0]
        assert (r.n_rows, r.n_classes) == (8, 3)
        assert (r.min_class_size, r.n_small_classes, r.rows_at_risk) == (1, 2, 3)
        assert (r.min_diversity, r.n_low_diversity_classes) == (1, 2)

    def test_violations_and_suppression_round_trip(self, spark):
        from pigpen_spark.functions.validate import (
            k_anonymity_report, k_anonymity_violations)

        rows = [("a", i) for i in range(6)] + [("b", 0), ("c", 1), ("c", 2)]
        df = spark.createDataFrame(rows, ["q", "v"])
        bad = k_anonymity_violations(df, ["q"], k=3)
        assert {(r.q, r.class_size) for r in bad.collect()} == {("b", 1), ("c", 2)}
        # suppressing the violating classes yields a k-anonymous release
        clean = df.join(bad.select("q"), on="q", how="left_anti")
        r = k_anonymity_report(clean, ["q"], k=3).collect()[0]
        assert r.n_small_classes == 0 and r.n_rows == 6

    def test_k_validated(self, spark):
        from pigpen_spark.functions.validate import k_anonymity_report

        df = spark.createDataFrame([("a", 1)], ["q", "v"])
        with pytest.raises(ValueError, match="k must be"):
            k_anonymity_report(df, ["q"], k=1)


class TestKmvStream:
    def test_streamed_sketch_equals_batch_sketch(self, spark, tmp_path):
        import json as _json
        import os

        from pigpen_spark.functions import sketch as K
        from pigpen_spark.streaming import core as st

        src = tmp_path / "kmv_src"
        src.mkdir(parents=True)
        # overlapping batches: the merge must dedup across history
        batches = [[f"item-{i}" for i in range(0, 300)],
                   [f"item-{i}" for i in range(150, 450)],
                   [f"item-{i}" for i in range(400, 500)]]
        for bi, items in enumerate(batches):
            p = src / f"b{bi}.json"
            with open(p, "w") as f:
                for x in items:
                    f.write(_json.dumps({"x": x}) + "\n")
            os.utime(p, (1000 + bi, 1000 + bi))  # deterministic batch order

        stream = (spark.readStream.schema("x string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = st.kmv_stream(stream, "x", str(tmp_path / "kmv_sk"),
                          str(tmp_path / "kmv_ck"), k=64, available_now=True)
        q.awaitTermination(120)

        vs = [v for v in os.listdir(tmp_path / "kmv_sk") if v.startswith("v")]
        assert len(vs) == 1   # superseded versions pruned
        stored = spark.read.parquet(str(tmp_path / "kmv_sk" / vs[0]))
        # invariant: stored sketch == batch-mode sketch of the full history
        full = spark.read.schema("x string").json(str(src))
        direct = K.kmv_sketch(full, F.col("x"), 64)
        assert {r.h for r in stored.collect()} == {r.h for r in direct.collect()}
        # and the estimate is within the KMV envelope of the 500 truth
        est = K.kmv_estimate(stored, 64).collect()[0].est_distinct
        assert abs(est - 500) < 4 * 500 / (62 ** 0.5)


class TestWinnowing:
    """Full winnowing (MOSS) partial-overlap detection."""

    def test_quote_reuse_detected_where_minhash_misses(self, spark):
        from pigpen_spark.functions.dedup import winnow_overlap_pairs

        quote = "the five boxing wizards jump quickly over every lazy dog tonight"
        filler_a = " ".join(f"alpha{i}" for i in range(60))
        filler_b = " ".join(f"beta{i}" for i in range(60))
        rows = [(1, filler_a + " " + quote),
                (2, quote + " " + filler_b),
                (3, " ".join(f"gamma{i}" for i in range(70)))]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = {(r.id_a, r.id_b): r.shared for r in winnow_overlap_pairs(
            df, "doc_id", "text", shingle_n=3, w=4, min_shared=2).collect()}
        # docs 1&2 share only the 11-token quote (>= w+n-1 = 6 tokens ⇒
        # guaranteed common fingerprints); doc 3 shares nothing
        assert (1, 2) in pairs and pairs[(1, 2)] >= 2
        assert not any(3 in p for p in pairs)

    def test_guarantee_on_short_common_run(self, spark):
        from pigpen_spark.functions.dedup import winnow_overlap_pairs

        # identical docs must reach containment 1e6
        t = "one two three four five six seven eight nine ten"
        df = spark.createDataFrame([(1, t), (2, t)], ["doc_id", "text"])
        r = winnow_overlap_pairs(df, "doc_id", "text",
                                 min_shared=1).collect()[0]
        assert r.containment_ppm == 1000000

    def test_max_df_cuts_hub_fingerprints(self, spark):
        from pigpen_spark.functions.dedup import winnow_overlap_pairs

        # every doc carries the same boilerplate; distinct tails.
        # with max_df=2 the boilerplate fingerprints (df=4) are cut, so
        # no pair survives min_shared
        bp = "all rights reserved contact us terms of service apply here"
        rows = [(i, bp + " " + " ".join(f"u{i}x{j}" for j in range(30)))
                for i in range(4)]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        with_hubs = winnow_overlap_pairs(df, "doc_id", "text",
                                         min_shared=2).count()
        without = winnow_overlap_pairs(df, "doc_id", "text",
                                       min_shared=2, max_df=2).count()
        assert with_hubs > 0 and without == 0

    def test_w_validated(self, spark):
        from pigpen_spark.functions.dedup import winnow_overlap_pairs

        df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
        with pytest.raises(ValueError, match="w must be"):
            winnow_overlap_pairs(df, "doc_id", "text", w=1)


class TestDsirFused:
    def test_fused_matches_composed(self, spark):
        from pigpen_spark.functions import classify as C

        rows = ([(i, "en", "alpha beta gamma") for i in range(6)]
                + [(10 + i, "de", "omega psi chi") for i in range(6)])
        df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
        fused = {tuple(r) for r in C.dsir_score_corpus(
            df, "doc_id", "text", F.col("lang") == "en", 64).collect()}
        ratio = C.dsir_ratio_table(
            spark,
            C.dsir_bucket_counts(df.filter(F.col("lang") == "en"), "text", 64),
            C.dsir_bucket_counts(df, "text", 64), 64)
        composed = {tuple(r) for r in C.dsir_importance(
            df, "doc_id", "text", ratio, 64).collect()}
        assert fused == composed


class TestAssembleConversations:
    def test_assembly_and_stats(self, spark):
        from pigpen_spark.operators.windows import assemble_conversations

        rows = [
            # session 1 of user 7: u,a,u,u (one repeat), 90s span
            (1, 7, 1000, "user", "hi"),
            (2, 7, 1030, "assistant", "hello"),
            (3, 7, 1060, "user", "more"),
            (4, 7, 1090, "user", "again"),
            # gap > 300 ⇒ session 2
            (5, 7, 2000, "user", "new topic"),
            # other user
            (6, 8, 1000, "user", "x"),
        ]
        df = spark.createDataFrame(
            rows, ["event_id", "uid", "ts", "role", "msg"])
        out = {r.session_id: r for r in assemble_conversations(
            df, "uid", "ts", "role", "msg", "event_id",
            gap_seconds=300).collect()}
        s1 = out["7-1"]
        assert s1.n_turns == 4 and s1.n_role_repeats == 1
        assert s1.duration_s == 90  # numeric ts: duration in its own unit
        assert s1.transcript == \
            "user: hi | assistant: hello | user: more | user: again"
        assert out["7-2"].n_turns == 1 and out["7-2"].n_role_repeats == 0
        assert out["8-1"].n_turns == 1

    def test_tie_determinism_via_event_id(self, spark):
        from pigpen_spark.operators.windows import assemble_conversations

        # identical timestamps: order must follow event_id
        rows = [(2, 1, 500, "b", "second"), (1, 1, 500, "a", "first")]
        df = spark.createDataFrame(
            rows, ["event_id", "uid", "ts", "role", "msg"])
        r = assemble_conversations(
            df, "uid", "ts", "role", "msg", "event_id",
            gap_seconds=10).collect()[0]
        assert r.transcript == "a: first | b: second"


class TestDegenerateNewOps:
    """Empty/degenerate-input contracts for the second-pass operators."""

    def test_pagerank_empty_edges_raises_cleanly(self, spark):
        from pigpen_spark.functions.dedup import pagerank

        with pytest.raises(ValueError, match="edge list is empty"):
            pagerank(spark.createDataFrame([], "src long, dst long")).collect()

    def test_kmv_overlap_one_side_empty(self, spark):
        from pigpen_spark.functions import sketch as K

        a = K.kmv_sketch(spark.createDataFrame([], "x string"), F.col("x"), 8)
        b = K.kmv_sketch(spark.createDataFrame([("y",)], ["x"]), F.col("x"), 8)
        r = K.kmv_overlap(a, b, 8).collect()[0]
        assert (r.est_a, r.est_b, r.est_intersect, r.jaccard_ppm) == (0, 1, 0, 0)

    def test_dsir_empty_text_scores_null(self, spark):
        from pigpen_spark.functions import classify as C

        d = spark.createDataFrame([(1, ""), (2, "a b")], ["doc_id", "text"])
        got = {r.doc_id: (r.n_feats, r.w_ppm) for r in C.dsir_score_corpus(
            d, "doc_id", "text", F.lit(True), 16).collect()}
        assert got[1] == (0, None) and got[2][0] == 3

    def test_k_anonymity_empty_input_zero_counts(self, spark):
        from pigpen_spark.functions.validate import k_anonymity_report

        d = spark.createDataFrame([], "q string, v long")
        r = k_anonymity_report(d, ["q"], 3, sensitive="v").collect()[0]
        assert (r.n_rows, r.n_classes, r.n_small_classes, r.rows_at_risk) \
            == (0, 0, 0, 0)
        assert r.min_class_size is None and r.min_diversity is None

    def test_winnow_empty_text_whole_doc_fingerprint(self, spark):
        from pigpen_spark.functions.dedup import winnow_overlap_pairs

        # token-less docs share the single whole-doc fingerprint
        d = spark.createDataFrame([(1, ""), (2, "")], ["doc_id", "text"])
        r = winnow_overlap_pairs(d, "doc_id", "text", min_shared=1).collect()
        assert [(x.id_a, x.id_b, x.containment_ppm) for x in r] \
            == [(1, 2, 1000000)]


class TestAnnMrr:
    def test_hand_example(self, spark):
        from pigpen_spark.functions.similarity import ann_mrr

        approx = spark.createDataFrame(
            [(1, 100, 1), (1, 101, 2),        # q1: relevant at rank 2
             (2, 200, 1),                      # q2: relevant at rank 1
             (3, 300, 1), (3, 301, 2)],        # q3: relevant absent
            ["q_id", "n_id", "rank"])
        truth = spark.createDataFrame(
            [(1, 101), (2, 200), (3, 999)], ["q_id", "n_id"])
        r = ann_mrr(approx, truth).collect()[0]
        assert (r.n_queries, r.n_found) == (3, 2)
        assert r.mrr_ppm == (500000 + 1000000 + 0) // 3

    def test_multiple_relevant_uses_best_rank(self, spark):
        from pigpen_spark.functions.similarity import ann_mrr

        approx = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3)], ["q_id", "n_id", "rank"])
        truth = spark.createDataFrame(
            [(1, 12), (1, 11)], ["q_id", "n_id"])   # best relevant at rank 2
        r = ann_mrr(approx, truth).collect()[0]
        assert (r.n_queries, r.mrr_ppm) == (1, 500000)


class TestScd2:
    """SCD Type-2 dimension versioning."""

    def _dim(self, spark):
        return spark.createDataFrame(
            [(1, "a", 0, 5), (1, "b", 5, None), (2, "x", 0, None),
             (3, "z", 0, None)],
            "k long, attr string, valid_from long, valid_to long")

    def test_versions_chain_and_collapse(self, spark):
        from pigpen_spark.operators.analytics import scd2_apply

        ch = spark.createDataFrame(
            [(1, "c", 10), (1, "d", 12), (2, "x", 9), (4, "new", 7)],
            "k long, attr string, ts long")
        out = sorted(map(tuple, scd2_apply(
            self._dim(spark), ch, ["k"], "ts", ["attr"]).collect()))
        assert out == sorted([
            (1, "a", 0, 5),          # closed history untouched
            (1, "b", 5, 10),         # open version closed at change ts
            (1, "c", 10, 12),        # chained versions in one batch
            (1, "d", 12, None),
            (2, "x", 0, None),       # repeated state collapsed: stays open
            (3, "z", 0, None),       # untouched key passes through
            (4, "new", 7, None),     # brand-new key opens
        ])

    def test_as_of_lookup_over_result(self, spark):
        from pigpen_spark.operators.analytics import scd2_apply

        ch = spark.createDataFrame([(1, "c", 10)],
                                   "k long, attr string, ts long")
        out = scd2_apply(self._dim(spark), ch, ["k"], "ts", ["attr"])
        from pyspark.sql import functions as FF
        asof = out.filter((FF.col("k") == 1) & (FF.col("valid_from") <= 7)
                          & (FF.col("valid_to").isNull()
                             | (FF.col("valid_to") > 7)))
        assert [r.attr for r in asof.collect()] == ["b"]

    def test_out_of_order_and_duplicate_raise(self, spark):
        from pigpen_spark.operators.analytics import scd2_apply

        bad = spark.createDataFrame([(1, "q", 3)],
                                    "k long, attr string, ts long")
        with pytest.raises(Exception, match="out-of-order"):
            scd2_apply(self._dim(spark), bad, ["k"], "ts", ["attr"]).collect()
        dup = spark.createDataFrame([(1, "q", 9), (1, "r", 9)],
                                    "k long, attr string, ts long")
        with pytest.raises(Exception, match="compact the feed"):
            scd2_apply(self._dim(spark), dup, ["k"], "ts", ["attr"]).collect()


class TestConversationStream:
    def test_streamed_matches_batch_assembly(self, spark, tmp_path):
        import json as _json
        import os

        from pigpen_spark.operators.windows import assemble_conversations
        from pigpen_spark.streaming import core as st

        src = tmp_path / "cs_src"
        src.mkdir(parents=True)
        # user 1: session A (t=0..100), session B (t=5000..5050, closed by
        # batch 2's t=99999 event which itself stays open)
        batches = [
            [dict(event_id=1, uid=1, ts=0, role="user", msg="a"),
             dict(event_id=2, uid=1, ts=100, role="assistant", msg="b")],
            [dict(event_id=3, uid=1, ts=5000, role="user", msg="c"),
             dict(event_id=4, uid=1, ts=5050, role="user", msg="d")],
            [dict(event_id=5, uid=1, ts=99999, role="user", msg="e")],
        ]
        for bi, rows in enumerate(batches):
            p = src / f"b{bi}.json"
            with open(p, "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            os.utime(p, (1000 + bi, 1000 + bi))  # deterministic batch order

        schema = "event_id long, uid long, ts long, role string, msg string"
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = st.conversation_stream(
            stream, "uid", "ts", "role", "msg", "event_id",
            gap_seconds=1800, open_path=str(tmp_path / "cs_open"),
            out_path=str(tmp_path / "cs_out"),
            checkpoint=str(tmp_path / "cs_ck"), available_now=True)
        q.awaitTermination(120)

        out = spark.read.parquet(str(tmp_path / "cs_out"))
        got = {r.session_id: r.transcript for r in out.collect()}
        # exactly the two closed sessions under globally unique keys,
        # never the open tail
        assert got == {"1@0": "user: a | assistant: b",
                       "1@5000": "user: c | user: d"}
        # open store holds only the un-closed tail event
        vs = sorted(os.listdir(tmp_path / "cs_open"))
        tail = spark.read.parquet(str(tmp_path / "cs_open" / vs[-1]))
        assert [r.event_id for r in tail.collect()] == [5]
        # live output == batch operator over the same closed events
        closed_batch = spark.createDataFrame(
            [tuple(r.values()) for b in batches[:2] for r in b], schema)
        want = {r.transcript for r in assemble_conversations(
            closed_batch, "uid", "ts", "role", "msg", "event_id",
            gap_seconds=1800).collect()}
        assert set(got.values()) == want


class TestWebmMeta:
    """Matroska/WebM EBML container walk (third container)."""

    def test_round_trip_fields(self):
        from pigpen_spark.functions import codecs as C

        data = C.webm_encode_skeleton(12345, [
            {"handler": "vide", "codec": "V_VP9", "width": 640,
             "height": 360, "fps": 24},
            {"handler": "soun", "codec": "A_OPUS"},
        ])
        m = C.webm_meta(data)
        assert m["duration_ms"] == 12345 and m["n_tracks"] == 2
        v, a = m["tracks"]
        assert (v["handler"], v["codec"], v["width"], v["height"]) == \
            ("vide", "V_VP9", 640, 360)
        assert v["n_samples"] == 12345 * 1_000_000 // (1_000_000_000 // 24)
        assert (a["handler"], a["codec"], a["n_samples"]) == ("soun", "A_OPUS", 0)

    def test_vint_multibyte_sizes(self):
        # a payload long enough to need 2-byte size vints round-trips
        from pigpen_spark.functions import codecs as C

        tracks = [{"handler": "vide", "codec": "V_AV1" + "X" * 200,
                   "width": 4096, "height": 2160, "fps": 60}]
        m = C.webm_meta(C.webm_encode_skeleton(99999, tracks))
        assert m["tracks"][0]["codec"].startswith("V_AV1X")
        assert m["tracks"][0]["width"] == 4096

    def test_error_contract(self):
        import pytest as _pytest

        from pigpen_spark.functions import codecs as C

        with _pytest.raises(ValueError, match="no EBML header"):
            C.webm_meta(b"RIFF....AVI ")
        good = C.webm_encode_skeleton(1000, [])
        with _pytest.raises(ValueError):
            C.webm_meta(good[:-3])      # truncated element

    def test_video_meta_dispatches_on_magic(self, spark):
        from pigpen_spark.functions import multimodal as M

        base = spark.range(4).withColumnRenamed("id", "doc_id")
        mp4s = M.synth_mp4(base, "doc_id")
        webms = M.synth_webm(base, "doc_id")
        mixed = mp4s.union(webms)
        out = M.video_meta(mixed, "id")
        codecs = {r.codec for r in out.collect()}
        assert codecs & {"avc1", "hev1"} and codecs & {"V_VP9", "V_AV1"}
        assert "corrupt" not in codecs


class TestMadOutliers:
    def test_flags_heavy_tail_not_bulk(self, spark):
        from pigpen_spark.functions.sketch import mad_outliers

        df = spark.createDataFrame(
            [("a", v) for v in [1, 2, 3, 4, 5, 100]] + [("b", 7)], ["g", "v"])
        got = {(r.g, r.v): (r.grp_median, r.grp_mad, r.is_outlier)
               for r in mad_outliers(df, ["g"], F.col("v"), 3, 1).collect()}
        assert got[("a", 100)] == (3, 1, True)
        assert all(not got[("a", v)][2] for v in (1, 2, 3, 4, 5))
        # singleton group: mad 0, never flagged (0 > 0 is false)
        assert got[("b", 7)] == (7, 0, False)

    def test_mean_sigma_would_mask_what_mad_catches(self, spark):
        from pigpen_spark.functions.sketch import mad_outliers

        # two huge outliers inflate sigma enough that a 2-sigma rule
        # misses them both; MAD flags both (the robustness argument)
        import statistics

        vals = [10, 11, 12, 13, 14, 10000, 10001]
        mu, sd = statistics.mean(vals), statistics.pstdev(vals)
        assert all(abs(v - mu) < 2 * sd for v in vals)  # sigma rule: none
        df = spark.createDataFrame([("g", v) for v in vals], ["g", "v"])
        flagged = {r.v for r in mad_outliers(
            df, ["g"], F.col("v"), 3, 1).collect() if r.is_outlier}
        assert flagged == {10000, 10001}

    def test_threshold_validated(self, spark):
        from pigpen_spark.functions.sketch import mad_outliers

        df = spark.createDataFrame([("g", 1)], ["g", "v"])
        with pytest.raises(ValueError, match="positive rational"):
            mad_outliers(df, ["g"], F.col("v"), 0, 1)


class TestScd2Stream:
    def test_sequential_batches_equal_one_shot(self, spark, tmp_path):
        import json as _json
        import os

        from pigpen_spark.operators.analytics import scd2_apply
        from pigpen_spark.streaming import core as st

        src = tmp_path / "s2_src"
        src.mkdir(parents=True)
        batches = [
            [dict(k=1, ts=10, attr="a"), dict(k=2, ts=10, attr="x"),
             dict(k=1, ts=10, attr="a")],          # dup delivery collapses
            [dict(k=1, ts=20, attr="b"), dict(k=2, ts=25, attr="x")],  # 2nd repeats
            [dict(k=1, ts=30, attr="c"), dict(k=3, ts=30, attr="z")],
        ]
        for bi, rows in enumerate(batches):
            p = src / f"b{bi}.json"
            with open(p, "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            # the file source orders batches by modification time — make
            # it deterministic (same-ms writes would shuffle batch order)
            os.utime(p, (1000 + bi, 1000 + bi))

        schema = "k long, ts long, attr string"
        stream = (spark.readStream.schema(schema)
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = st.scd2_stream(stream, ["k"], "ts", ["attr"],
                           dim_path=str(tmp_path / "s2_dim"),
                           checkpoint=str(tmp_path / "s2_ck"),
                           available_now=True)
        q.awaitTermination(120)

        vs = sorted(os.listdir(tmp_path / "s2_dim"))
        live = sorted(map(tuple, spark.read.parquet(
            str(tmp_path / "s2_dim" / vs[-1]))
            .select("k", "attr", "valid_from", "valid_to").collect()))
        assert live == sorted([
            (1, "a", 10, 20), (1, "b", 20, 30), (1, "c", 30, None),
            (2, "x", 10, None),                    # repeat collapsed
            (3, "z", 30, None),
        ])
        # one-shot batch application over the full compacted feed agrees
        empty = spark.createDataFrame(
            [], "k long, attr string, valid_from long, valid_to long")
        feed = spark.createDataFrame(
            [(r["k"], r["ts"], r["attr"]) for b in batches for r in b],
            schema).dropDuplicates(["k", "ts"])
        oneshot = sorted(map(tuple, scd2_apply(
            empty, feed, ["k"], "ts", ["attr"])
            .select("k", "attr", "valid_from", "valid_to").collect()))
        assert live == oneshot


class TestMp3Meta:
    """MPEG-audio frame-header chain walk."""

    def test_cbr_and_vbr_round_trip(self):
        from pigpen_spark.functions import codecs as C

        m = C.mp3_meta(C.mp3_encode_skeleton(10))
        assert (m["n_frames"], m["sample_rate"], m["vbr"]) == (10, 44100, False)
        assert m["duration_ms"] == 10 * 1152 * 1000 // 44100
        v = C.mp3_meta(C.mp3_encode_skeleton(4, 1, [9, 11, 9, 14]))
        assert v["vbr"] and (v["bitrate_kbps_min"], v["bitrate_kbps_max"]) \
            == (128, 320)

    def test_id3_skip_and_broken_chain(self):
        import pytest as _pytest

        from pigpen_spark.functions import codecs as C

        data = C.mp3_encode_skeleton(3)
        assert data[:3] == b"ID3" and C.mp3_meta(data)["n_frames"] == 3
        # a byte inserted mid-stream breaks the chain loudly
        corrupt = data[:200] + b"\x00" + data[200:]
        with _pytest.raises(ValueError, match="bad frame header"):
            C.mp3_meta(corrupt)
        with _pytest.raises(ValueError, match="no frames"):
            C.mp3_meta(b"ID3\x04\x00\x00\x00\x00\x00\x00")

    def test_spark_profile(self, spark):
        from pigpen_spark.functions import multimodal as M

        base = spark.range(6).withColumnRenamed("id", "doc_id")
        got = {r.id: r for r in M.audio_profile_mp3(
            M.synth_mp3(base, "doc_id"), "id").collect()}
        fused = {r.id: r for r in M.synth_audio_profile_mp3(
            base, "doc_id").collect()}
        assert {k: tuple(v) for k, v in got.items()} == \
            {k: tuple(v) for k, v in fused.items()}
        assert got[5].vbr  # doc 5: indices 14 vs 10 differ


class TestNewParserMalformedContract:
    """The round-4 container parsers hold the same error contract as the
    image/audio codecs: malformed bytes raise ValueError — never
    IndexError/struct.error/KeyError — and every truncation prefix
    terminates."""

    def test_all_truncations_raise_valueerror(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        avi = C.avi_encode_dib([np.zeros((3, 3, 3), np.uint8)] * 2)
        webm = C.webm_encode_skeleton(5000, [
            {"handler": "vide", "codec": "V_VP9", "width": 64,
             "height": 48, "fps": 24}])
        mp3 = C.mp3_encode_skeleton(4)
        for fn, payload in ((C.avi_frames, avi), (C.webm_meta, webm),
                            (C.mp3_meta, mp3)):
            for cut in range(0, len(payload), 3):
                try:
                    fn(payload[:cut])
                except ValueError:
                    pass            # the contract
                # any other exception type propagates and fails the test

    def test_garbage_and_byte_flips_never_escape_valueerror(self):
        import numpy as np

        from pigpen_spark.functions import codecs as C

        avi = bytearray(C.avi_encode_dib([np.zeros((3, 3, 3), np.uint8)]))
        webm = bytearray(C.webm_encode_skeleton(5000, [
            {"handler": "soun", "codec": "A_OPUS"}]))
        mp3 = bytearray(C.mp3_encode_skeleton(3))
        for fn, payload in ((C.avi_frames, avi), (C.webm_meta, webm),
                            (C.mp3_meta, mp3)):
            fn(bytes(payload))      # pristine parses
            for pos in range(4, min(len(payload), 60), 5):
                mutated = bytearray(payload)
                mutated[pos] ^= 0xFF
                try:
                    fn(bytes(mutated))
                except ValueError:
                    pass
            with __import__("pytest").raises(ValueError):
                fn(b"not a container at all")


class TestAttribution:
    def test_first_last_and_organic(self, spark):
        from pigpen_spark.operators.analytics import attribution

        # user 1 journey: ad(0) → email(100) → BUY(200) → BUY(5000, organic
        # w.r.t. 1000s lookback) ; user 2: social(0) → BUY(50)
        rows = [
            (1, 1, 0, "ad", False), (2, 1, 100, "email", False),
            (3, 1, 200, "buy", True), (4, 1, 5000, "buy", True),
            (5, 2, 0, "social", False), (6, 2, 50, "buy", True),
        ]
        df = spark.createDataFrame(
            rows, "event_id long, uid long, tsec long, ch string, conv boolean")
        ev = df.select("event_id", "uid",
                       F.timestamp_seconds(F.col("tsec")).alias("ts"),
                       "ch", "conv")
        got = {(r.uid, r.conv_ts_us): (r.first_touch, r.last_touch)
               for r in attribution(ev, "uid", "ts", "ch", F.col("conv"),
                                    lookback_seconds=1000,
                                    tiebreak_col="event_id").collect()}
        assert got[(1, 200_000_000)] == ("ad", "email")
        assert got[(1, 5_000_000_000)] == (None, None)   # organic
        assert got[(2, 50_000_000)] == ("social", "social")

    def test_conversion_events_are_not_touches(self, spark):
        from pigpen_spark.operators.analytics import attribution

        # a purchase between touch and purchase must not become the
        # last touch
        rows = [(1, 1, 0, "ad", False), (2, 1, 10, "buy", True),
                (3, 1, 20, "buy", True)]
        df = spark.createDataFrame(
            rows, "event_id long, uid long, tsec long, ch string, conv boolean")
        ev = df.select("event_id", "uid",
                       F.timestamp_seconds(F.col("tsec")).alias("ts"),
                       "ch", "conv")
        got = {r.conv_ts_us: (r.first_touch, r.last_touch)
               for r in attribution(ev, "uid", "ts", "ch", F.col("conv"),
                                    lookback_seconds=100,
                                    tiebreak_col="event_id").collect()}
        assert got[10_000_000] == ("ad", "ad")
        assert got[20_000_000] == ("ad", "ad")


class TestResampleFfill:
    def test_grid_and_fill(self, spark):
        from pigpen_spark.operators.windows import resample_ffill

        rows = [(1, "a", 3, 10.0), (2, "a", 34, 20.0), (3, "a", 35, 25.0),
                (4, "b", 100, 7.0)]
        df = spark.createDataFrame(
            rows, "event_id long, k string, tsec long, v double")
        ev = df.select("event_id", "k",
                       F.timestamp_seconds(F.col("tsec")).alias("ts"), "v")
        got = sorted(map(tuple, resample_ffill(
            ev, ["k"], "ts", ["v"], interval_seconds=10,
            tiebreak=["event_id"]).collect()))
        assert got == [
            ("a", 0, 10.0),            # bucket of the first obs
            ("a", 10_000_000, 10.0),   # gap: forward-filled
            ("a", 20_000_000, 10.0),
            ("a", 30_000_000, 25.0),   # latest obs in bucket wins (ts=35)
            ("b", 100_000_000, 7.0),   # keys never bleed into each other
        ]

    def test_multiple_value_columns_and_validation(self, spark):
        from pigpen_spark.operators.windows import resample_ffill

        df = spark.createDataFrame(
            [(1, "k", 0, 1.0, 5), (2, "k", 25, 2.0, 6)],
            "event_id long, k string, tsec long, a double, b long")
        ev = df.select("event_id", "k",
                       F.timestamp_seconds(F.col("tsec")).alias("ts"),
                       "a", "b")
        got = sorted(map(tuple, resample_ffill(
            ev, ["k"], "ts", ["a", "b"], 10, ["event_id"]).collect()))
        assert got == [("k", 0, 1.0, 5), ("k", 10_000_000, 1.0, 5),
                       ("k", 20_000_000, 2.0, 6)]
        with pytest.raises(ValueError, match="interval_seconds"):
            resample_ffill(ev, ["k"], "ts", ["a"], 0)


class TestTransitionMatrix:
    def test_counts_and_row_probabilities(self, spark):
        from pigpen_spark.operators.analytics import transition_matrix

        rows = [(1, 1, 0, "a"), (2, 1, 10, "b"), (3, 1, 20, "a"),
                (4, 1, 30, "b"), (5, 2, 0, "a"), (6, 2, 5, "c")]
        df = spark.createDataFrame(
            rows, "event_id long, uid long, tsec long, s string")
        ev = df.select("event_id", "uid",
                       F.timestamp_seconds(F.col("tsec")).alias("ts"), "s")
        got = {(r.from_state, r.to_state): (r.n, r.p_ppm)
               for r in transition_matrix(ev, "uid", "ts", "s",
                                          "event_id").collect()}
        # a→b twice, a→c once (row a: 2/3 and 1/3), b→a once (row b: 1/1)
        assert got[("a", "b")] == (2, 666666)
        assert got[("a", "c")] == (1, 333333)
        assert got[("b", "a")] == (1, 1000000)
        # journeys never cross users: no c→anything
        assert not any(f == "c" for f, _ in got)


class TestPiiProfile:
    def test_counts_and_ppm(self, spark):
        from pigpen_spark.functions.validate import pii_profile

        df = spark.createDataFrame(
            [("a@b.com", "10.0.0.1"), ("clean", "also clean"),
             ("x 12345678", "c@d.org")], ["u", "v"])
        got = {(r["column"], r.pattern): (r.n_hits, r.hit_ppm)
               for r in pii_profile(df).collect()}
        assert got[("u", "email")] == (1, 333333)
        assert got[("u", "digit_run")] == (1, 333333)
        assert got[("v", "ipv4")] == (1, 333333)
        assert got[("v", "email")] == (1, 333333)
        assert got[("u", "ipv4")] == (0, 0)

    def test_audit_agrees_with_redact(self, spark):
        """A column the audit calls clean must be unchanged by redact."""
        from pigpen_spark.functions.text import redact
        from pigpen_spark.functions.validate import pii_profile

        df = spark.createDataFrame(
            [("hello world",), ("no pii here",)], ["t"])
        prof = pii_profile(df).agg(F.sum("n_hits")).collect()[0][0]
        changed = df.filter(redact(F.col("t")) != F.col("t")).count()
        assert prof == 0 and changed == 0

    def test_no_string_columns_raises(self, spark):
        from pigpen_spark.functions.validate import pii_profile

        with pytest.raises(ValueError, match="no string columns"):
            pii_profile(spark.range(3))


class TestScd2CorruptDimension:
    def test_multiple_open_versions_raise(self, spark):
        from pigpen_spark.operators.analytics import scd2_apply

        corrupt = spark.createDataFrame(
            [(1, "a", 0, None), (1, "b", 5, None)],
            "k long, attr string, valid_from long, valid_to long")
        ch = spark.createDataFrame([(1, "c", 10)],
                                   "k long, attr string, ts long")
        with pytest.raises(Exception, match="multiple open versions"):
            scd2_apply(corrupt, ch, ["k"], "ts", ["attr"]).collect()


class TestDatasetChecksum:
    def test_order_insensitive_and_mergeable(self, spark):
        from pigpen_spark.functions.validate import dataset_checksum

        a = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "v"])
        b = spark.createDataFrame([(2, "y"), (1, "x")], ["id", "v"])
        c = spark.createDataFrame([(3, "z")], ["id", "v"])
        ra, rb, rc = (dataset_checksum(d).collect()[0] for d in (a, b, c))
        rall = dataset_checksum(a.union(c)).collect()[0]
        assert ra.checksum == rb.checksum            # row order irrelevant
        assert int(ra.checksum) + int(rc.checksum) == int(rall.checksum)

    def test_detects_any_cell_change_and_nulls(self, spark):
        from pigpen_spark.functions.validate import dataset_checksum

        a = spark.createDataFrame([(1, "x")], ["id", "v"])
        b = spark.createDataFrame([(1, "y")], ["id", "v"])
        n = spark.createDataFrame([(1, None)], "id long, v string")
        e = spark.createDataFrame([(1, "")], "id long, v string")
        sums = {dataset_checksum(d).collect()[0].checksum for d in (a, b, n, e)}
        assert len(sums) == 4            # value, NULL and '' all distinct

    def test_column_subset_and_empty(self, spark):
        from pigpen_spark.functions.validate import dataset_checksum

        a = spark.createDataFrame([(1, "x"), (2, "x")], ["id", "v"])
        only_v = dataset_checksum(a, columns=["v"]).collect()[0]
        assert only_v.n_rows == 2
        empty = dataset_checksum(
            spark.createDataFrame([], "id long")).collect()[0]
        assert (empty.n_rows, empty.checksum) == (0, "0")
        with pytest.raises(ValueError, match="no columns"):
            dataset_checksum(a, columns=[])


class TestChecksumBuckets:
    def test_buckets_sum_to_total_and_localize(self, spark):
        from pigpen_spark.functions.validate import (
            dataset_checksum, dataset_checksum_buckets)

        a = spark.createDataFrame([(i, f"v{i}") for i in range(200)],
                                  ["id", "v"])
        total = int(dataset_checksum(a).collect()[0].checksum)
        buckets = dataset_checksum_buckets(a, 16).collect()
        assert sum(int(r.checksum) for r in buckets) == total
        assert sum(r.n_rows for r in buckets) == 200
        # a one-row change flips exactly one bucket's checksum
        b = spark.createDataFrame(
            [(i, "CHANGED" if i == 7 else f"v{i}") for i in range(200)],
            ["id", "v"])
        ba = {r.bucket: r.checksum
              for r in dataset_checksum_buckets(a, 16).collect()}
        bb = {r.bucket: r.checksum
              for r in dataset_checksum_buckets(b, 16).collect()}
        diff = {k for k in set(ba) | set(bb) if ba.get(k) != bb.get(k)}
        assert 1 <= len(diff) <= 2   # old row's bucket and/or new row's


class TestComoments:
    def test_matches_python_and_derives_corr(self, spark):
        from pigpen_spark.functions.sketch import comoments

        xs = [1, 2, 3, 4, 10]
        ys = [2, 4, 5, 4, 5]
        df = spark.createDataFrame(list(zip(xs, ys)), ["x", "y"])
        r = comoments(df, F.col("x"), F.col("y")).collect()[0]
        assert r.n == 5
        assert int(r.sum_x) == sum(xs) and int(r.sum_y) == sum(ys)
        assert int(r.sum_xy) == sum(a * b for a, b in zip(xs, ys))
        assert int(r.sum_x2) == sum(a * a for a in xs)
        # readout: exact integer covariance numerator
        import statistics

        cov_num = r.n * int(r.sum_xy) - int(r.sum_x) * int(r.sum_y)
        assert cov_num == round(statistics.covariance(xs, ys) * 5 * 4)

    def test_merge_by_addition(self, spark):
        from pigpen_spark.functions.sketch import comoments

        a = spark.createDataFrame([(1, 2), (3, 4)], ["x", "y"])
        b = spark.createDataFrame([(5, 6)], ["x", "y"])
        ra = comoments(a, F.col("x"), F.col("y")).collect()[0]
        rb = comoments(b, F.col("x"), F.col("y")).collect()[0]
        rall = comoments(a.union(b), F.col("x"), F.col("y")).collect()[0]
        for f in ("sum_x", "sum_y", "sum_xy", "sum_x2", "sum_y2"):
            assert int(ra[f]) + int(rb[f]) == int(rall[f])
        assert ra.n + rb.n == rall.n


class TestOlsReadout:
    def test_perfect_line_exact(self, spark):
        from pigpen_spark.functions.sketch import comoments, ols_readout

        df = spark.createDataFrame([(x, 2 * x + 3) for x in range(1, 8)],
                                   ["x", "y"])
        r = ols_readout(comoments(df, F.col("x"), F.col("y"))).collect()[0]
        assert (r.slope_ppm, r.intercept_scaled) == (2_000_000, 3_000_000)
        assert int(r.cov_num) // int(r.var_x_num) == 2

    def test_zero_variance_reads_null(self, spark):
        from pigpen_spark.functions.sketch import comoments, ols_readout

        df = spark.createDataFrame([(5, 1), (5, 2)], ["x", "y"])
        r = ols_readout(comoments(df, F.col("x"), F.col("y"))).collect()[0]
        assert r.slope_ppm is None and r.intercept_scaled is None
        assert int(r.var_x_num) == 0


class TestChecksumStreamMaintenance:
    def test_rollup_stream_maintains_checksum(self, spark, tmp_path):
        """The checksum is a sum, so the EXISTING rollup_stream machinery
        maintains it live — no dedicated twin needed (composition pin)."""
        import json as _json
        import os

        from pigpen_spark.functions.validate import dataset_checksum
        from pigpen_spark.streaming import core as st

        src = tmp_path / "ck_src"
        src.mkdir(parents=True)
        batches = [[{"id": i, "v": f"x{i}"} for i in range(0, 40)],
                   [{"id": i, "v": f"x{i}"} for i in range(40, 90)]]
        for bi, rows in enumerate(batches):
            p = src / f"b{bi}.json"
            with open(p, "w") as f:
                for r in rows:
                    f.write(_json.dumps(r) + "\n")
            os.utime(p, (1000 + bi, 1000 + bi))

        stream = (spark.readStream.schema("id long, v string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        canon = F.concat_ws(
            "\x1f", F.concat(F.lit("id="), F.coalesce(
                F.col("id").cast("string"), F.lit("\x00"))),
            F.concat(F.lit("v="), F.coalesce(F.col("v"), F.lit("\x00"))))
        h = (F.conv(F.substring(F.md5(canon), 1, 15), 16, 10)
             .cast("decimal(38,0)"))
        q = st.rollup_stream(
            stream.withColumn("g", F.lit(1)), ["g"],
            aggs={"n": F.count(F.lit(1)),
                  "s": F.sum(h).cast("decimal(38,0)")},
            merges={"n": "count", "s": "sum"},
            rollup_path=str(tmp_path / "ck_roll"),
            checkpoint=str(tmp_path / "ck_ck"), available_now=True)
        q.awaitTermination(120)

        import os as _os
        vs = sorted(_os.listdir(tmp_path / "ck_roll"))
        live = spark.read.parquet(
            str(tmp_path / "ck_roll" / vs[-1])).collect()[0]
        full = spark.read.schema("id long, v string").json(str(src))
        batch = dataset_checksum(full).collect()[0]
        assert live.n == batch.n_rows == 90
        assert str(int(live.s)) == batch.checksum


class TestFertilityAndDiversity:
    def test_fertility_ppm_semantics(self, spark):
        import __spark_entry__ as e

        out = {r.lang: r for r in e.queries()["ext_fertility"](
            spark, "/root/testdata/sf0.001").collect()}
        for r in out.values():
            # bpe-ish tokens at least as many as whitespace words
            assert r.fertility_ppm >= 1_000_000
            assert r.n_chars > r.n_tokens > 0

    def test_diversity_identity_against_bruteforce(self, spark):
        import numpy as np

        from pigpen_spark.functions.similarity import embedding_diversity

        rng = np.random.default_rng(7)
        vecs = rng.normal(size=(40, 8))
        df = spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
            "vec_id long, embedding array<double>")
        r = embedding_diversity(df).collect()[0]
        # brute-force E||x-y||^2 over ALL ordered pairs incl. self (the
        # moment identity's population form)
        sq = ((vecs[:, None, :] - vecs[None, :, :]) ** 2).sum(-1)
        want = sq.mean()
        assert abs(r.mean_pair_sq_dist - want) < 1e-5
        assert (r.n_vectors, r.dim) == (40, 8)

    def test_duplicated_corpus_loses_no_diversity_but_collapse_does(self, spark):
        import numpy as np

        from pigpen_spark.functions.similarity import embedding_diversity

        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(30, 4))
        mk = lambda arr: spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(arr)],
            "vec_id long, embedding array<double>")
        base = embedding_diversity(mk(vecs)).collect()[0].mean_pair_sq_dist
        dup = embedding_diversity(
            mk(np.vstack([vecs, vecs]))).collect()[0].mean_pair_sq_dist
        collapsed = embedding_diversity(
            mk(np.vstack([vecs[:1]] * 30))).collect()[0].mean_pair_sq_dist
        assert abs(dup - base) < 1e-6      # duplication: same distribution
        assert collapsed == 0.0            # mode collapse reads zero


class TestRrfFuse:
    def test_consensus_outranks_single_list(self, spark):
        from pigpen_spark.functions.ranking import rrf_fuse

        # candidate 100 is rank 3 in BOTH lists; candidate 200 is rank 1
        # in one list only — consensus wins under RRF
        a = spark.createDataFrame(
            [(1, 200, 1), (1, 101, 2), (1, 100, 3)], ["q_id", "n_id", "rank"])
        b = spark.createDataFrame(
            [(1, 300, 1), (1, 301, 2), (1, 100, 3)], ["q_id", "n_id", "rank"])
        out = {r.n_id: (r.rrf_score, r.fused_rank)
               for r in rrf_fuse([a, b], topk=10).collect()}
        assert out[100][1] == 1                      # consensus first
        assert out[100][0] == 2 * (1000000 // 63)
        assert out[200][0] == 1000000 // 61

    def test_single_ranking_is_order_preserving(self, spark):
        from pigpen_spark.functions.ranking import rrf_fuse

        a = spark.createDataFrame(
            [(1, 10, 1), (1, 11, 2), (1, 12, 3)], ["q_id", "n_id", "rank"])
        out = [r.n_id for r in rrf_fuse([a], topk=3)
               .orderBy("fused_rank").collect()]
        assert out == [10, 11, 12]
        with pytest.raises(ValueError, match="at least one"):
            rrf_fuse([])


class TestMarkdownSections:
    def test_split_semantics(self, spark):
        from pigpen_spark.functions.text import markdown_sections

        doc = "preamble line\n# Intro\nbody one\nmore\n## Sub\nbody two\n# End"
        df = spark.createDataFrame([(1, doc)], ["doc_id", "text"])
        got = [(r.section_idx, r.heading, r.body)
               for r in markdown_sections(df, "doc_id", "text")
               .orderBy("section_idx").collect()]
        assert got == [
            (0, None, "preamble line"),          # preamble: NULL heading
            (1, "Intro", "body one\nmore"),
            (2, "Sub", "body two"),              # '##' stripped too
            (3, "End", ""),                      # trailing empty section
        ]

    def test_hash_only_inside_line_does_not_split(self, spark):
        from pigpen_spark.functions.text import markdown_sections

        df = spark.createDataFrame(
            [(1, "# Top\nissue #42 is fine\nstill same section")],
            ["doc_id", "text"])
        rows = markdown_sections(df, "doc_id", "text").collect()
        assert len(rows) == 1
        assert rows[0].body == "issue #42 is fine\nstill same section"


class TestContentChunks:
    def test_insertion_locality_vs_fixed_chunks(self, spark):
        """The CDC property: one inserted token changes O(1) chunk
        digests; fixed-width chunking shifts every later chunk."""
        from pigpen_spark.functions.pipeline import content_chunks, token_chunks

        base = " ".join(f"tok{i}" for i in range(200))
        edited = " ".join(["tok0", "INSERTED"]
                          + [f"tok{i}" for i in range(1, 200)])
        df = spark.createDataFrame([(1, base), (2, edited)], ["id", "t"])
        out = {r.id: r.c for r in df.select(
            "id", content_chunks(F.col("t"), 8).alias("c")).collect()}
        fixed = {r.id: r.c for r in df.select(
            "id", token_chunks(F.col("t"), 8).alias("c")).collect()}
        cdc_shared = len(set(out[1]) & set(out[2]))
        fixed_shared = len(set(fixed[1]) & set(fixed[2]))
        # CDC: all but O(1) chunks survive the insertion; fixed: almost none
        assert cdc_shared >= len(out[1]) - 2
        assert fixed_shared <= 1

    def test_chunks_reassemble_exactly(self, spark):
        from pigpen_spark.functions.pipeline import content_chunks

        t = "a bb ccc dd e fff gg hh iii j"
        df = spark.createDataFrame([(1, t)], ["id", "t"])
        chunks = df.select(content_chunks(
            F.col("t"), 4).alias("c")).collect()[0].c
        assert " ".join(chunks) == t
        empty = spark.createDataFrame([(1, "")], ["id", "t"])
        assert empty.select(content_chunks(
            F.col("t"), 4).alias("c")).collect()[0].c == []

    def test_divisor_validated(self, spark):
        from pigpen_spark.functions.pipeline import content_chunks

        with pytest.raises(ValueError, match="divisor"):
            content_chunks(F.col("t"), 1)


class TestNoveltyScores:
    def test_graded_overlap(self, spark):
        from pigpen_spark.functions.dedup import novelty_scores

        ref = spark.createDataFrame(
            [(100, "the quick brown fox jumps high")], ["doc_id", "text"])
        corpus = spark.createDataFrame([
            (1, "the quick brown fox jumps high"),       # full overlap
            (2, "the quick brown cat sleeps all day"),    # partial
            (3, "entirely different words here now"),     # none
            (4, "ab"),                                    # < n tokens
        ], ["doc_id", "text"])
        got = {r.doc_id: (r.n_grams, r.n_shared, r.overlap_ppm)
               for r in novelty_scores(corpus, ref, "doc_id", "text",
                                       n=3).collect()}
        assert got[1] == (4, 4, 1_000_000)
        assert got[2][1] == 1 and 0 < got[2][2] < 1_000_000  # 'the quick brown'
        assert got[3] == (3, 0, 0)      # 5 tokens -> 3 trigrams
        assert got[4] == (0, 0, None)        # no evidence, not "novel"


class TestStratifiedSplit:
    def test_exact_counts_per_stratum(self, spark):
        from pigpen_spark.functions.pipeline import stratified_split

        from collections import Counter

        rows = [(i, "a" if i < 50 else "b") for i in range(80)]
        df = spark.createDataFrame(rows, ["id", "g"])
        out = stratified_split(df, "id", ["g"],
                               {"train": 0.7, "val": 0.2, "test": 0.1})
        c = Counter((r.g, r.split) for r in out.collect())
        # stratum a: 50 rows → 35/10/5 EXACT; stratum b: 30 → 21/6/3
        assert c[("a", "train")] == 35 and c[("a", "val")] == 10 \
            and c[("a", "test")] == 5
        assert c[("b", "train")] == 21 and c[("b", "val")] == 6 \
            and c[("b", "test")] == 3

    def test_assignment_stable_under_shuffle(self, spark):
        from pigpen_spark.functions.pipeline import stratified_split

        rows = [(i, "g") for i in range(40)]
        df = spark.createDataFrame(rows, ["id", "g"])
        a = {r.id: r.split for r in stratified_split(
            df, "id", ["g"], {"x": 0.5, "y": 0.5}).collect()}
        b = {r.id: r.split for r in stratified_split(
            df.repartition(7).orderBy(F.col("id").desc()), "id", ["g"],
            {"x": 0.5, "y": 0.5}).collect()}
        assert a == b

    def test_fraction_validation(self, spark):
        from pigpen_spark.functions.pipeline import stratified_split

        df = spark.createDataFrame([(1, "g")], ["id", "g"])
        with pytest.raises(ValueError, match="sum to"):
            stratified_split(df, "id", ["g"], {"a": 0.5, "b": 0.2})


class TestClassBalance:
    def test_gini_extremes(self, spark):
        import __spark_entry__ as e

        # engine semantics on a hand corpus via the registered callable's
        # own building blocks: single-class → 0; balanced k=2 → 500000
        from pyspark.sql import functions as FF

        df = spark.createDataFrame(
            [("s1", "en")] * 4 + [("s2", "en")] * 2 + [("s2", "de")] * 2,
            ["source", "lang"])
        c = df.groupBy("source", "lang").agg(FF.count(FF.lit(1)).alias("n"))
        s = c.groupBy("source").agg(
            FF.sum("n").alias("total"),
            FF.sum(FF.col("n").cast("decimal(38,0)") * FF.col("n"))
            .alias("sum_sq"))
        out = {r.source: r.g for r in s.select(
            "source",
            FF.expr("CAST(1000000 - (sum_sq * 1000000) DIV "
                    "(CAST(total AS DECIMAL(38,0)) * total) AS BIGINT)")
            .alias("g")).collect()}
        assert out["s1"] == 0
        assert out["s2"] == 500000


class TestEmbedDrift:
    def test_shift_and_collapse_signatures(self, spark):
        import numpy as np

        import __spark_entry__ as e

        # semantic check via the registered query's building blocks:
        # shifted corpus -> mean_shift_sq ~ shift^2 * dim; same corpus -> ~0
        from pigpen_spark.functions.similarity import embedding_diversity

        rng = np.random.default_rng(5)
        base = rng.normal(size=(50, 8))
        mk = lambda arr, off: [(i * 2 + off, [float(x) for x in v])
                               for i, v in enumerate(arr)]
        # half 0 = base, half 1 = base + 3.0 in every dim
        rows = mk(base, 0) + mk(base + 3.0, 1)
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        import pigpen_spark.catalog as cat
        import tempfile, os
        d = tempfile.mkdtemp()
        df.write.mode("overwrite").parquet(os.path.join(d, "embeddings.parquet"))
        # reuse the catalog callable against the synthetic dir (it only
        # reads embeddings.parquet)
        r = e.queries()["ext_embed_drift"](spark, d).collect()[0]
        assert r.n_a == r.n_b == 50
        assert abs(r.mean_shift_sq - 9.0 * 8) < 0.1     # shift² · dim
        assert abs(r.diversity_a - r.diversity_b) < 1e-6  # same spread
