"""Round-7 additions: streaming decontamination twin, stored-filter
bloom gate, expression-probe differential, stub gating."""

import json
import os

import pytest
from pyspark.sql import functions as F

from pigpen_spark.functions import sketch as K


@pytest.fixture(scope="module")
def spark():
    from pigpen_spark.session import get_spark

    s = get_spark("test-round7")
    s.sparkContext.setLogLevel("ERROR")
    yield s


BENCH = [
    (100, "the quick brown fox jumps over the lazy dog today"),
    (101, "pack my box with five dozen liquor jugs for delivery"),
]
TRAIN = [
    # doc 1 quotes benchmark doc 100 verbatim -> must flag
    (1, "intro words then the quick brown fox jumps over the lazy dog today and more"),
    # clean docs -> must not flag (modulo deterministic Bloom FPs, which
    # are identical in the batch twin by construction)
    (2, "completely unrelated text about distributed query engines"),
    (3, "another clean document with its own vocabulary entirely"),
    (4, ""),          # zero-gram doc: must survive as n_maybe=0
]


class TestBloomGate:
    def test_gate_flags_contamination(self, spark):
        bench = spark.createDataFrame(BENCH, "doc_id long, text string")
        train = spark.createDataFrame(TRAIN, "doc_id long, text string")
        from pigpen_spark.functions.dedup import shingle_hashes, token_hashes

        grams = bench.select(F.explode(
            shingle_hashes(token_hashes(F.col("text")), 3)).alias("h"))
        words = K.bloom_words(K.bloom_build(grams, m_bits=1 << 14, k=3),
                              m_bits=1 << 14)
        out = {r["doc_id"]: (r["n_maybe"], r["flagged"])
               for r in K.bloom_gate(train, "doc_id", "text", words,
                                     n=3, m_bits=1 << 14, k=3).collect()}
        assert len(out) == 4
        assert out[1][1] is True and out[1][0] >= 8   # verbatim quote
        assert out[4] == (0, False)                   # zero-gram doc kept

    def test_expression_probe_matches_join_probe(self, spark):
        # bloom_maybe_col (literal expression) and bloom_maybe_contains
        # (k broadcast joins) must agree bit-for-bit on every probe
        # probe hashes stay within the shingle-hash contract (mod _P)
        items = spark.range(0, 500).select(
            ((F.col("id") * F.lit(2654435761)) % F.lit(K._P)).alias("h"))
        sketch = K.bloom_build(items.filter(F.col("h") % 3 == 0),
                               m_bits=1 << 12, k=3)
        words = K.bloom_words(sketch, m_bits=1 << 12)
        joined = {r["h"]: r["maybe"] for r in K.bloom_maybe_contains(
            items, sketch, m_bits=1 << 12, k=3).collect()}
        expr = {r["h"]: r["maybe"] for r in items.select(
            "h", K.bloom_maybe_col(words, F.col("h"), m_bits=1 << 12, k=3)
            .alias("maybe")).collect()}
        assert joined == expr
        assert sum(expr.values()) >= len(expr) // 4   # members all pass


from hypothesis import given, settings
from hypothesis import strategies as st

from pigpen_spark.functions import codecs as CX
from pigpen_spark.functions import wordpiece as W


class TestWordPiece:
    def test_greedy_longest_match(self):
        p, u = W.greedy_encode_word("hashing", ["hash", "h"], ["ing", "i", "n", "g"])
        assert (p, u) == (["hash", "##ing"], 0)

    def test_unk_whole_word(self):
        assert W.greedy_encode_word("xyz", ["x"], []) == (["[UNK]"], 1)
        # > max_word chars -> [UNK] by contract (max_input_chars_per_word)
        assert W.greedy_encode_word("a" * 17, ["a"], ["a"]) == (["[UNK]"], 1)
        assert W.greedy_encode_word("a" * 16, ["a"], ["a"])[1] == 0

    def test_start_and_cont_inventories_are_distinct(self):
        # "ab": 'a' is a start piece but 'b' is NOT a continuation
        assert W.greedy_encode_word("ab", ["a", "b"], ["a"]) == (["[UNK]"], 1)
        assert W.greedy_encode_word("aa", ["a"], ["a"]) == (["a", "##a"], 0)

    def test_oracle_matches_encoder_on_random_words(self):
        # brute-force differential: the SQL oracle segments exactly like
        # the Python encoder on 400 random words, batched into ONE query
        # so the 16-stage CTE binds once (per-example binds are ~0.5s)
        import random

        import duckdb

        rng = random.Random(13)
        words = ["".join(rng.choice("abcdefgh")
                         for _ in range(rng.randint(1, 20)))
                 for _ in range(400)]
        con = duckdb.connect()
        con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                    ",".join(f"({i}, '{w}')" for i, w in enumerate(words)) +
                    ") t(doc_id, text)")
        sql = W.wordpiece_encode_fixed_sql(
            "documents", "doc_id", "text", W.FIXED_START, W.FIXED_CONT)
        got = {r[0]: (r[1], r[2], r[3]) for r in con.execute(sql).fetchall()}
        for i, word in enumerate(words):
            p, u = W.greedy_encode_word(word, W.FIXED_START, W.FIXED_CONT)
            assert got[i] == (" ".join(p), len(p), u), word

    def test_trainer_reproducible_and_alphabet_covered(self):
        hist = [("banana", 9), ("bandana", 4), ("nab", 7), ("ban", 5)]
        s1, c1 = W.learn_wordpiece(hist, vocab_size=12)
        s2, c2 = W.learn_wordpiece(list(hist), vocab_size=12)
        assert (s1, c1) == (s2, c2)
        # seed alphabet present in both inventories
        assert {"a", "b", "n", "d"} <= set(s1) and {"a", "b", "n", "d"} <= set(c1)
        # the trained inventory actually compresses the training words
        p, u = W.greedy_encode_word("banana", s1, c1)
        assert u == 0 and len(p) < 6

    def test_merge_criterion_prefers_likelihood_not_count(self):
        # pair (x,##y) appears 5x with rare sides: 5/(5*5)=0.2;
        # (a,##b) appears 6x with very common sides: 6/(100*100) — the
        # WordPiece argmax must pick (x,##y) where raw-count BPE would
        # pick the higher-count (a,##b)
        sym = {"x": 5, "##y": 5, "a": 100, "##b": 100}
        pair = {("x", "##y"): 5, ("a", "##b"): 6}
        assert W._best_pair(sym, pair, max_piece=4) == ("x", "##y")
        # and ties break lexicographically
        sym2 = {"x": 2, "##y": 2, "a": 2, "##b": 2}
        pair2 = {("x", "##y"): 2, ("a", "##b"): 2}
        assert W._best_pair(sym2, pair2, max_piece=4) == ("a", "##b")

    def test_spark_encoder_matches_python(self, spark):
        rows = [(1, "the quick brown fox"), (2, ""),
                (3, "hash join supercalifragilisticexpialidocious"),
                (4, None), (5, "data dup the the")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["id"]: (r["pieces"], r["n_pieces"], r["n_unk_words"])
               for r in W.wordpiece_encode(
                   df, "doc_id", "text", W.FIXED_START, W.FIXED_CONT).collect()}
        for did, text in rows:
            pieces, unks = [], 0
            for w in ("" if text is None else text).lower().split(" "):
                if not w:
                    continue
                p, u = W.greedy_encode_word(w, W.FIXED_START, W.FIXED_CONT)
                pieces.extend(p)
                unks += u
            assert got[did] == (pieces, len(pieces), unks)


def _mutate(data: bytes, pos: int, val: int) -> bytes:
    pos %= len(data)
    if data[pos] == val:
        val ^= 0xFF
    return data[:pos] + bytes([val]) + data[pos + 1:]


class TestCodecMutationFuzz:
    """Adversarial-input hardening for the r6 codecs (VERDICT r6 #8):
    mutate LENGTH FIELDS, CRCs and LACING VALUES specifically — not just
    truncate — and pin the quarantine contract: ValueError or a clean
    parse, never any other exception, always terminating.  At Arrow-
    batch scope this is the 100 TB safety property (one hostile payload
    must quarantine its row, not kill the task)."""

    @settings(max_examples=80, deadline=None)
    @given(st.integers(1, 6), st.integers(0, 4000), st.integers(0, 255))
    def test_ogg_arbitrary_byte_mutation(self, pages, pos, val):
        d = CX.ogg_encode_skeleton("opus", n_audio_pages=pages,
                                   packets_per_page=2)
        try:
            m = CX.ogg_meta(_mutate(d, pos, val))
            assert m["codec"] in ("opus", "vorbis")
        except ValueError:
            pass

    @settings(max_examples=40, deadline=None)
    @given(st.integers(1, 4), st.integers(0, 3), st.integers(0, 255))
    def test_ogg_crc_mutation_always_detected(self, pages, which_byte, val):
        # the 4 CRC bytes sit at offset 22 of each page header; a
        # mutated CRC must RAISE (the whole point of verifying it)
        d = CX.ogg_encode_skeleton("opus", n_audio_pages=pages,
                                   packets_per_page=2)
        assert d[:4] == b"OggS"
        with pytest.raises(ValueError):
            CX.ogg_meta(_mutate(d, 22 + which_byte, val))

    @settings(max_examples=60, deadline=None)
    @given(st.integers(1, 4), st.integers(0, 255))
    def test_ogg_lacing_mutation(self, pages, val):
        # byte 26 is the segment count; 27.. are the lacing values —
        # mutating them must desync lengths into a ValueError (CRC
        # covers the header, so any change is caught) and never loop
        d = CX.ogg_encode_skeleton("opus", n_audio_pages=pages,
                                   packets_per_page=2)
        for off in (26, 27):
            try:
                CX.ogg_meta(_mutate(d, off, val))
            except ValueError:
                pass

    @settings(max_examples=80, deadline=None)
    @given(st.integers(0, 300), st.integers(0, 255), st.integers(0, 5))
    def test_flac_block_length_mutation(self, pos, val, pads):
        d = CX.flac_encode_streaminfo(44100, 2, 16, 1 << 20,
                                      n_padding_blocks=pads)
        try:
            m = CX.flac_streaminfo(_mutate(d, pos, val))
            assert m["n_meta_blocks"] >= 1
        except ValueError:
            pass

    @settings(max_examples=80, deadline=None)
    @given(st.integers(1, 20), st.integers(0, 2000), st.integers(0, 255))
    def test_adts_length_field_mutation(self, frames, pos, val):
        d = CX.adts_encode_skeleton(frames, rate_idx=4, channels=2)
        try:
            m = CX.adts_meta(_mutate(d, pos, val))
            assert 1 <= m["n_frames"] <= frames + 2
        except ValueError:
            pass

    def test_mutated_rows_quarantine_in_auto_triage(self, spark):
        # Arrow-batch scope: hostile payloads flow THROUGH the fused
        # operator as quarantined rows; clean rows in the same batch
        # still profile
        from pigpen_spark.functions import multimodal as M

        good = CX.ogg_encode_skeleton("opus", n_audio_pages=3,
                                      packets_per_page=2)
        rows = [
            (1, good),
            (2, _mutate(good, 22, 0x55)),            # CRC hit
            (3, _mutate(good, 27, 0x7F)),            # lacing hit
            (4, CX.adts_encode_skeleton(5, rate_idx=4)[:9]),  # truncated
            (5, b"\x00" * 40),                        # not audio at all
        ]
        df = spark.createDataFrame(rows, "doc_id long, payload binary")
        out = {r["id"]: r["format"]
               for r in M.audio_profile_auto(df, "doc_id").collect()}
        assert out[1] == "ogg"
        assert all(out[i] in ("corrupt", "unknown") for i in (2, 3, 4, 5))


class TestHits:
    @staticmethod
    def _model(edges, iterations=2, scale=10**9):
        nodes = {x for e in edges for x in e}
        h = {v: scale for v in nodes}
        a = {v: 0 for v in nodes}
        for _ in range(iterations):
            araw = {v: 0 for v in nodes}
            for u, v in edges:
                araw[v] += h[u]
            d = max(1, sum(araw.values()) // scale)
            a = {v: araw[v] // d for v in nodes}
            hraw = {v: 0 for v in nodes}
            for u, v in edges:
                hraw[u] += a[v]
            d = max(1, sum(hraw.values()) // scale)
            h = {v: hraw[v] // d for v in nodes}
        return h, a

    def test_matches_python_model(self, spark):
        import random

        from pigpen_spark.functions import dedup as D

        rng = random.Random(19)
        edges = sorted({(rng.randrange(12), 12 + rng.randrange(8))
                        for _ in range(40)})
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: (r["hub"], r["authority"])
               for r in D.hits(df, iterations=3).collect()}
        h, a = self._model(edges, iterations=3)
        assert got == {v: (h[v], a[v]) for v in h}

    def test_star_graph_roles(self, spark):
        # one center pointing at 5 leaves: the center is THE hub
        # (all hub mass), leaves split authority evenly
        from pigpen_spark.functions import dedup as D

        edges = [(0, i) for i in range(1, 6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = {r["node"]: (r["hub"], r["authority"])
               for r in D.hits(df, iterations=2).collect()}
        assert out[0][0] > 0 and out[0][1] == 0
        assert all(out[i][0] == 0 for i in range(1, 6))
        leaf_auth = {out[i][1] for i in range(1, 6)}
        assert len(leaf_auth) == 1 and leaf_auth.pop() > 0

    @staticmethod
    def _duckdb(edges, iterations):
        import duckdb

        from pigpen_spark.functions import dedup as D

        rows = ", ".join(f"({u}, {v})" for u, v in edges) or "(0, 0)"
        cte = (f"edges AS (SELECT src::BIGINT AS src, dst::BIGINT AS dst FROM "
               f"(VALUES {rows}) t(src, dst){'' if edges else ' WHERE false'})")
        con = duckdb.connect()
        try:
            return {r[0]: (r[1], r[2]) for r in
                    con.execute(D.hits_cte_sql(cte, iterations)).fetchall()}
        finally:
            con.close()

    @pytest.mark.parametrize("iterations", [1, 2])
    @pytest.mark.parametrize("edges", [
        [],                                 # no nodes at all
        [(0, 0), (0, 1), (1, 2)],           # self-loop
        [(0, 1), (1, 2), (2, 0), (2, 1)],   # every node both src and dst
        [(0, 2), (1, 2), (1, 3), (4, 1)],   # 0/4 source-only, 2/3 sink-only
    ], ids=["empty", "self_loop", "cycle", "sources_and_sinks"])
    def test_edge_cases_match_model_and_oracle(self, spark, edges, iterations):
        from pigpen_spark.functions import dedup as D

        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: (r["hub"], r["authority"])
               for r in D.hits(df, iterations=iterations).collect()}
        h, a = self._model(edges, iterations=iterations)
        want = {v: (h[v], a[v]) for v in h}
        assert got == want
        assert self._duckdb(edges, iterations) == want

    def test_ext_hits_job_count(self, spark, sf_dir):
        # each level is ONE eager checkpoint that also delivers its total
        # (no total aggregate, broadcast or node-table join per level):
        # 17 jobs for the 2-iteration build plus write
        from pigpen_spark import catalog, catalog_ext  # noqa: F401
        from pigpen_spark.tuning import clear_engine_caches

        build = catalog.queries()["ext_hits"]
        build(spark, sf_dir)  # warm the table listing out of the count
        clear_engine_caches(spark)
        sc = spark.sparkContext
        sc.setJobGroup("test-hits-jobs", "ext_hits build + write")
        try:
            build(spark, sf_dir).write.format("noop").mode("overwrite").save()
            jobs = sc.statusTracker().getJobIdsForGroup("test-hits-jobs")
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            clear_engine_caches(spark)
        assert 0 < len(jobs) <= 18


class TestHilbertKey:
    def test_lut_matches_classic_algorithm(self):
        # the 4-state machine vs the textbook rotate/reflect form,
        # exhaustive over a 64x64 grid
        from pigpen_spark.operators.layout import hilbert_key_py

        def classic(x, y, bits):
            d = 0
            s = 1 << (bits - 1)
            while s > 0:
                rx = 1 if (x & s) > 0 else 0
                ry = 1 if (y & s) > 0 else 0
                d += s * s * ((3 * rx) ^ ry)
                if ry == 0:
                    if rx == 1:
                        x, y = s - 1 - x, s - 1 - y
                    x, y = y, x
                s //= 2
            return d

        assert all(hilbert_key_py(x, y, 6) == classic(x, y, 6)
                   for x in range(64) for y in range(64))

    def test_no_jumps(self):
        # THE Hilbert property (what Z-order lacks): consecutive keys
        # are always grid neighbors — tight min/max boxes per file
        from pigpen_spark.operators.layout import hilbert_key_py

        inv = {hilbert_key_py(x, y, 5): (x, y)
               for x in range(32) for y in range(32)}
        assert len(inv) == 1024          # bijective on the grid
        assert all(abs(inv[d][0] - inv[d + 1][0])
                   + abs(inv[d][1] - inv[d + 1][1]) == 1
                   for d in range(1023))

    def test_spark_matches_python(self, spark):
        from pigpen_spark.operators.layout import hilbert_key, hilbert_key_py

        df = spark.createDataFrame(
            [(x, y) for x in range(0, 1 << 16, 4099)
             for y in range(0, 1 << 16, 5077)], "x long, y long")
        got = {(r["x"], r["y"]): r["h"] for r in df.select(
            "x", "y", hilbert_key("x", "y", 16).alias("h")).collect()}
        assert got == {(x, y): hilbert_key_py(x, y, 16) for x, y in got}

    def test_spark_matches_python_odd_bits(self, spark):
        # bits=6 exercises one fused 4-level step PLUS two single-level
        # remainder steps (the non-multiple-of-4 path)
        from pigpen_spark.operators.layout import hilbert_key, hilbert_key_py

        df = spark.createDataFrame(
            [(x, y) for x in range(0, 64, 3) for y in range(0, 64, 5)],
            "x long, y long")
        got = {(r["x"], r["y"]): r["h"] for r in df.select(
            "x", "y", hilbert_key("x", "y", 6).alias("h")).collect()}
        assert got == {(x, y): hilbert_key_py(x, y, 6) for x, y in got}

    def test_bits_bound(self):
        from pigpen_spark.operators.layout import hilbert_key

        with pytest.raises(ValueError, match="signed long"):
            hilbert_key("x", "y", 32)


class TestRecordLinkage:
    def test_weights_sign_and_validation(self):
        from pigpen_spark.operators.joins import fs_weights

        w_a, w_d = fs_weights(900_000, 40_000)
        assert w_a > 0 > w_d
        # a field with m <= u carries no signal
        with pytest.raises(ValueError, match="0 < u < m"):
            fs_weights(40_000, 900_000)

    def test_decisions_and_null_neutrality(self, spark):
        from pigpen_spark.operators.joins import fs_weights, record_linkage

        w = fs_weights(900_000, 100_000, scale=1000)   # (+3170, -3170)
        pairs = spark.createDataFrame(
            [(1, 2, "x", "x"), (3, 4, "x", "y"), (5, 6, None, "x")],
            "id_a long, id_b long, fa string, fb string")
        out = {(r["id_a"], r["id_b"]): (r["score"], r["decision"])
               for r in record_linkage(
                   pairs, {"f": (F.col("fa") == F.col("fb"), w)},
                   upper=3000, lower=-3000).collect()}
        assert out[(1, 2)] == (w[0], "match")
        assert out[(3, 4)] == (w[1], "non_match")
        # NULL agreement (missing value) contributes 0 -> clerical band
        assert out[(5, 6)] == (0, "review")

    def test_score_is_sum_of_field_weights(self, spark):
        import random

        from pigpen_spark.operators.joins import fs_weights, record_linkage

        rng = random.Random(23)
        rows = [(i, i + 1000, rng.randint(0, 2), rng.randint(0, 2),
                 rng.randint(0, 9), rng.randint(0, 9)) for i in range(60)]
        df = spark.createDataFrame(
            rows, "id_a long, id_b long, s1 int, s2 int, t1 int, t2 int")
        w1, w2 = fs_weights(800_000, 200_000), fs_weights(600_000, 50_000)
        out = {r["id_a"]: r["score"] for r in record_linkage(
            df, {"f1": (F.col("s1") == F.col("s2"), w1),
                 "f2": (F.col("t1") == F.col("t2"), w2)},
            upper=10**9, lower=-10**9).collect()}
        for (ia, _, s1, s2, t1, t2) in rows:
            exp = (w1[0] if s1 == s2 else w1[1]) + (w2[0] if t1 == t2 else w2[1])
            assert out[ia] == exp


class TestLinkageStream:
    def test_streamed_equals_batch(self, spark, tmp_path):
        from pigpen_spark.operators.joins import (
            fs_weights, record_linkage,
        )
        from pigpen_spark.streaming import core as stc

        roster_rows = [(100 + i, i % 5, f"t{i % 7}") for i in range(30)]
        roster = spark.createDataFrame(
            roster_rows, "r_id long, r_blk int, r_tag string")
        roster.write.parquet(str(tmp_path / "roster" / "v0"))

        incoming = [(i, i % 5, f"t{i % 3}") for i in range(12)]
        src = tmp_path / "in"
        src.mkdir()
        for b, lo in ((0, 0), (1, 6)):
            with open(src / f"b{b}.json", "w") as f:
                for rid, blk, tag in incoming[lo:lo + 6]:
                    f.write(json.dumps(
                        {"n_id": rid, "n_blk": blk, "n_tag": tag}) + "\n")
            os.utime(src / f"b{b}.json",
                     (1_700_000_000 + b * 100,) * 2)

        w = fs_weights(800_000, 100_000)
        fields = {"tag": (F.col("n_tag") == F.col("r_tag"), w)}

        def pair_fn(batch, ros):
            return batch.join(ros, batch["n_blk"] == ros["r_blk"])

        stream = (spark.readStream.schema("n_id long, n_blk int, n_tag string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        out_path = str(tmp_path / "verdicts")
        q = stc.linkage_stream(
            stream, str(tmp_path / "roster"), out_path,
            str(tmp_path / "ckpt"), pair_fn, fields,
            upper=2000, lower=-2000, available_now=True)
        q.awaitTermination(120)

        streamed = spark.read.parquet(out_path)
        batch_all = record_linkage(
            pair_fn(spark.createDataFrame(
                incoming, "n_id long, n_blk int, n_tag string"), roster),
            fields, upper=2000, lower=-2000)
        a = sorted((r["n_id"], r["r_id"], r["score"], r["decision"])
                   for r in streamed.collect())
        b = sorted((r["n_id"], r["r_id"], r["score"], r["decision"])
                   for r in batch_all.collect())
        assert a == b and len(a) > 0
        assert set(streamed.select("roster_version").distinct()
                   .toPandas()["roster_version"]) == {0}

        # replay idempotence
        q2 = stc.linkage_stream(
            stream, str(tmp_path / "roster"), out_path,
            str(tmp_path / "ckpt"), pair_fn, fields,
            upper=2000, lower=-2000, available_now=True)
        q2.awaitTermination(120)
        assert spark.read.parquet(out_path).count() == len(a)


class TestDecontaminateStream:
    def test_streamed_equals_batch(self, spark, tmp_path):
        from pigpen_spark.streaming import core as stc

        m_bits, k, n = 1 << 14, 3, 3
        bench = spark.createDataFrame(BENCH, "doc_id long, text string")
        from pigpen_spark.functions.dedup import shingle_hashes, token_hashes

        grams = bench.select(F.explode(
            shingle_hashes(token_hashes(F.col("text")), n)).alias("h"))
        filter_path = str(tmp_path / "filter")
        stc.publish_bloom_filter(
            K.bloom_build(grams, m_bits=m_bits, k=k), filter_path, version=0)

        src = tmp_path / "in"
        src.mkdir()
        with open(src / "b0.json", "w") as f:
            for did, text in TRAIN[:2]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        with open(src / "b1.json", "w") as f:
            for did, text in TRAIN[2:]:
                f.write(json.dumps({"doc_id": did, "text": text}) + "\n")
        os.utime(src / "b0.json", (1_700_000_000, 1_700_000_000))
        os.utime(src / "b1.json", (1_700_000_100, 1_700_000_100))

        stream = (spark.readStream.schema("doc_id long, text string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        out_path = str(tmp_path / "verdicts")
        q = stc.decontaminate_stream(
            stream, "doc_id", "text", filter_path, out_path,
            str(tmp_path / "ckpt"), n=n, m_bits=m_bits, k=k,
            available_now=True)
        q.awaitTermination(120)

        streamed = spark.read.parquet(out_path)
        assert streamed.count() == 4
        assert set(streamed.select("filter_version").distinct()
                   .toPandas()["filter_version"]) == {0}

        train = spark.createDataFrame(TRAIN, "doc_id long, text string")
        words = K.bloom_words(
            spark.read.parquet(f"{filter_path}/v0"), m_bits)
        batch = K.bloom_gate(train, "doc_id", "text", words,
                             n=n, m_bits=m_bits, k=k)
        a = sorted((r["doc_id"], r["n_maybe"], r["flagged"])
                   for r in streamed.collect())
        b = sorted((r["doc_id"], r["n_maybe"], r["flagged"])
                   for r in batch.collect())
        assert a == b

        # replay idempotence: a second availableNow pass over the same
        # checkpoint emits nothing new
        q2 = stc.decontaminate_stream(
            stream, "doc_id", "text", filter_path, out_path,
            str(tmp_path / "ckpt"), n=n, m_bits=m_bits, k=k,
            available_now=True)
        q2.awaitTermination(120)
        assert spark.read.parquet(out_path).count() == 4
