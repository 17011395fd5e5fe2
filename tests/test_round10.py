"""Round-10 surface: N-ary all-optional join_multi full-outer flatten
(VERDICT r9 item #1) — case matrix per functional/join_test.clj:244-299."""

import pytest
from pyspark.sql import functions as F

from pigpen_spark.relation import return_


def _sorted(rows):
    key = lambda t: tuple((x is None, x) for x in t)  # noqa: E731
    return sorted(rows, key=key)


class TestJoinMultiFullOuter:
    def test_three_way_disjoint_and_shared_keys(self, spark):
        a = return_(spark, [("k1", 1), ("k2", 2)], "ka string, a long")
        b = return_(spark, [("k2", 20), ("k3", 30)], "kb string, b long")
        c = return_(spark, [("k3", 300), ("k4", 400)], "kc string, c long")
        out = a.join_multi(
            [(b, F.col("kb")), (c, F.col("kc"))],
            on=F.col("ka"), required=[False, False, False],
        )
        got = _sorted((r["a"], r["b"], r["c"]) for r in out.df.collect())
        assert got == _sorted([
            (1, None, None),      # k1 only in a
            (2, 20, None),        # k2 in a+b
            (None, 30, 300),      # k3 in b+c — skipping-input coalesce path
            (None, None, 400),    # k4 only in c
        ])

    def test_key_skips_middle_input(self, spark):
        # key present in inputs 1 and 3 but NOT 2: the running-key
        # coalesce must carry it across the hole.
        a = return_(spark, [("k", 1)], "ka string, a long")
        b = return_(spark, [("x", 2)], "kb string, b long")
        c = return_(spark, [("k", 3)], "kc string, c long")
        out = a.join_multi(
            [(b, F.col("kb")), (c, F.col("kc"))],
            on=F.col("ka"), required=[False, False, False],
        )
        got = _sorted((r["a"], r["b"], r["c"]) for r in out.df.collect())
        assert got == _sorted([(1, None, 3), (None, 2, None)])

    def test_cross_product_multiplicity(self, spark):
        # 2 × 1 × 3 matching rows on one key → 6 output rows.
        a = return_(spark, [("k", 1), ("k", 2)], "ka string, a long")
        b = return_(spark, [("k", 10)], "kb string, b long")
        c = return_(spark, [("k", 100), ("k", 200), ("k", 300)], "kc string, c long")
        out = a.join_multi(
            [(b, F.col("kb")), (c, F.col("kc"))],
            on=F.col("ka"), required=[False, False, False],
        )
        rows = out.df.collect()
        assert len(rows) == 6
        assert {(r["a"], r["b"], r["c"]) for r in rows} == {
            (x, 10, z) for x in (1, 2) for z in (100, 200, 300)
        }

    def test_null_keys_never_match_by_default(self, spark):
        # join.clj:31-45: nil keys never match — each NULL-key row stands
        # alone with NULLs elsewhere.
        a = return_(spark, [(None, 1)], "ka string, a long")
        b = return_(spark, [(None, 2)], "kb string, b long")
        c = return_(spark, [(None, 3), ("k", 30)], "kc string, c long")
        out = a.join_multi(
            [(b, F.col("kb")), (c, F.col("kc"))],
            on=F.col("ka"), required=[False, False, False],
        )
        got = _sorted((r["a"], r["b"], r["c"]) for r in out.df.collect())
        assert got == _sorted([
            (1, None, None), (None, 2, None), (None, None, 3), (None, None, 30),
        ])

    def test_join_nils_true_matches_nulls(self, spark):
        # {:join-nils true} → <=>: NULL keys group together across ALL inputs.
        a = return_(spark, [(None, 1)], "ka string, a long")
        b = return_(spark, [(None, 2)], "kb string, b long")
        c = return_(spark, [(None, 3)], "kc string, c long")
        out = a.join_multi(
            [(b, F.col("kb")), (c, F.col("kc"))],
            on=F.col("ka"), required=[False, False, False], join_nils=True,
        )
        got = [(r["a"], r["b"], r["c"]) for r in out.df.collect()]
        assert got == [(1, 2, 3)]

    def test_four_way(self, spark):
        rels = [
            return_(spark, [("k", i), (f"only{i}", i * 10)], f"k{i} string, v{i} long")
            for i in range(4)
        ]
        out = rels[0].join_multi(
            [(r, F.col(f"k{i}")) for i, r in enumerate(rels[1:], start=1)],
            on=F.col("k0"), required=[False] * 4,
        )
        rows = out.df.collect()
        assert len(rows) == 5  # shared 'k' row + four 'onlyN' singletons
        shared = [r for r in rows if r["v0"] == 0 and r["v1"] == 1]
        assert len(shared) == 1 and shared[0]["v2"] == 2 and shared[0]["v3"] == 3

    def test_same_named_string_keys_collapse(self, spark):
        # all inputs keyed on the same string column name → ONE coalesced
        # key column in the output (binary USING-style parity).
        a = return_(spark, [("k1", 1)], "k string, a long")
        b = return_(spark, [("k2", 2)], "k string, b long")
        c = return_(spark, [("k1", 3)], "k string, c long")
        out = a.join_multi([(b, "k"), (c, "k")], on="k",
                           required=[False, False, False])
        assert out.df.columns.count("k") == 1
        got = _sorted((r["k"], r["a"], r["b"], r["c"]) for r in out.df.collect())
        assert got == _sorted([("k1", 1, None, 3), ("k2", None, 2, None)])

    def test_computed_keys(self, spark):
        a = return_(spark, [(10, 1)], "ka long, a long")
        b = return_(spark, [(5, 2)], "kb long, b long")
        c = return_(spark, [(20, 3)], "kc long, c long")
        out = a.join_multi(
            [(b, F.col("kb") * 2), (c, F.col("kc"))],
            on=F.col("ka"), required=[False, False, False],
        )
        got = _sorted((r["a"], r["b"], r["c"]) for r in out.df.collect())
        assert got == _sorted([(1, 2, None), (None, None, 3)])


class TestAdviceR9Fixes:
    """ADVICE r9 low-items: loud guards replacing silent misbehavior."""

    def _emb(self, spark, n=12, d=8):
        import hashlib
        rows = [(i, [(int(hashlib.md5(f"{i}_{j}".encode()).hexdigest()[:6],
                          16) % 1000) / 500.0 - 1.0 for j in range(d)])
                for i in range(n)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_exact_jaccard_pairs_guard_fires(self, spark, monkeypatch):
        from pigpen_spark.functions import dedup as D
        docs = spark.createDataFrame(
            [(i, f"alpha beta gamma delta {i}") for i in range(10)],
            "doc_id long, text string")
        assert D.exact_jaccard_pairs(docs, "doc_id", "text", 500).count() >= 0
        monkeypatch.setattr(D, "_ALL_PAIRS_CAP", 5)
        import pytest as _pt
        with _pt.raises(ValueError, match="n-squared"):
            D.exact_jaccard_pairs(docs, "doc_id", "text", 500)
        # the explicit override still runs
        assert D.exact_jaccard_pairs(
            docs, "doc_id", "text", 500, allow_all_pairs=True).count() >= 0

    def test_pq_adc_topk_null_query_raises(self, spark):
        from pigpen_spark.functions import similarity as S
        corpus = self._emb(spark)
        queries = spark.createDataFrame(
            [(0, None)], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="NULL query vector"):
            S.pq_adc_topk(corpus, queries, dim=8, m=4, n_codes=4)

    def test_pq_topk_against_null_query_raises(self, spark):
        from pigpen_spark.functions import similarity as S
        corpus = self._emb(spark)
        idx, cb_df = S.pq_index(corpus, dim=8, m=4, n_codes=4)
        queries = spark.createDataFrame(
            [(0, None)], "vec_id long, embedding array<double>")
        with pytest.raises(ValueError, match="NULL query vector"):
            S.pq_topk_against(idx, cb_df, queries)

    def test_mix_plan_null_text_counts_zero(self, spark):
        from pigpen_spark.functions import pipeline as P
        dirty = spark.createDataFrame(
            [(1, "w w w", "a"), (2, None, "a"), (3, "w w", "b")],
            "doc_id long, text string, source string")
        out = {r["source"]: r for r in P.mix_plan(
            dirty, "source", "text", {"a": 500_000, "b": 500_000},
            budget_tokens=10).collect()}
        # NULL text contributes 0 tokens (NOT -1 via legacy sizeOfNull)
        assert out["a"]["have_tokens"] == 3 and out["b"]["have_tokens"] == 2

    def test_mix_plan_budget_overflow_bound(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame([(1, "w", "a")],
                                   "doc_id long, text string, source string")
        with pytest.raises(ValueError, match="overflow"):
            P.mix_plan(df, "source", "text", {"a": 1_000_000},
                       budget_tokens=10_000_000_000_000)

    def test_pq_index_stream_m_mismatch_refuses(self, spark, tmp_path):
        import json as _json

        from pigpen_spark.streaming import core as stc

        def _write(path, lo, hi):
            with open(path, "w") as f:
                for i in range(lo, hi):
                    f.write(_json.dumps({"vec_id": i, "embedding": [
                        float((i * 7 + j) % 5) for j in range(8)]}) + "\n")

        src = tmp_path / "in"
        src.mkdir()
        _write(src / "b0.json", 0, 20)
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .json(str(src)))
        codes_path, cb_path = str(tmp_path / "codes"), str(tmp_path / "cb")
        q = stc.pq_index_stream(stream, codes_path, cb_path,
                                str(tmp_path / "ck1"), m=4, n_codes=4,
                                available_now=True)
        q.awaitTermination(120)
        assert spark.read.parquet(codes_path).count() == 20
        # restart with a DIFFERENT m against the same index: refuse loud
        _write(src / "b1.json", 20, 30)
        q2 = stc.pq_index_stream(stream, codes_path, cb_path,
                                 str(tmp_path / "ck2"), m=8, n_codes=4,
                                 available_now=True)
        from pyspark.errors import StreamingQueryException
        with pytest.raises(StreamingQueryException, match="REBUILD"):
            q2.awaitTermination(120)
        # the stored index is untouched by the refused stream
        assert spark.read.parquet(codes_path).count() == 20


class TestGenerateScriptNamespaces:
    """ADVICE r9 medium: generated scripts must run queries whose bodies
    reference PRIVATE module helpers (underscore names skipped by
    star-imports) — the script now re-execs the source in the defining
    module's namespace."""

    def _run(self, name, tmp_path, sf="/root/testdata/sf0.001"):
        import subprocess
        import sys as _sys

        from pigpen_spark.plans.viz import generate_script
        p = tmp_path / f"gen_{name}.py"
        p.write_text(generate_script(name, sf))
        out = subprocess.run([_sys.executable, str(p)], capture_output=True,
                             text=True, timeout=300, cwd=str(tmp_path))
        assert out.returncode == 0, out.stderr[-2000:]
        return out.stdout

    def test_ext_query_with_private_helpers(self, tmp_path):
        # ext_mix_plan's body references _MIX_TARGETS/_MIX_BUDGET
        stdout = self._run("ext_mix_plan", tmp_path)
        assert "rate_ppm" in stdout

    def test_diff_query_module(self, tmp_path):
        # catalog_diff queries use _one_row and module aliases never
        # star-imported anywhere
        stdout = self._run("ext_normalize_unicode_diff", tmp_path)
        assert "non_idempotent" in stdout


class TestIvfPqIndexStream:
    """Streaming IVF-PQ maintenance (VERDICT r9 #4): streamed inverted
    lists == one-shot build under the seeded quantizers, the streamed
    artifacts serve queries, and a restarted stream with a different m
    refuses."""

    def _vec(self, i):
        import hashlib
        return [(int(hashlib.md5(f"iv{i}_{d}".encode()).hexdigest()[:6],
                     16) % 1000) / 500.0 - 1.0 for d in range(8)]

    def test_streamed_equals_one_shot_serves_and_guards(self, spark, tmp_path):
        import json as _json
        import os

        from pigpen_spark.functions import similarity as S
        from pigpen_spark.streaming import core as stc

        src = tmp_path / "in"
        src.mkdir()
        with open(src / "b0.json", "w") as f:
            for i in range(0, 40):
                f.write(_json.dumps(
                    {"vec_id": i, "embedding": self._vec(i)}) + "\n")
        with open(src / "b1.json", "w") as f:
            for i in range(40, 70):
                f.write(_json.dumps(
                    {"vec_id": i, "embedding": self._vec(i)}) + "\n")
        os.utime(src / "b0.json", (1_700_000_000, 1_700_000_000))
        os.utime(src / "b1.json", (1_700_000_100, 1_700_000_100))

        stream = (
            spark.readStream
            .schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        lists_path = str(tmp_path / "lists")
        cb_path = str(tmp_path / "cb")
        cents_path = str(tmp_path / "cents")
        q = stc.ivf_pq_index_stream(
            stream, lists_path, cb_path, cents_path, str(tmp_path / "ckpt"),
            m=4, n_codes=8, n_centroids=4, available_now=True)
        q.awaitTermination(120)

        streamed = spark.read.parquet(lists_path)
        cb_df = spark.read.parquet(cb_path)
        cents_df = spark.read.parquet(cents_path)
        # one-shot rebuild with ALL defaults sees the same seeds: the
        # codebook is the first 8 by id and the centroids the first 4 by
        # id — batch 0 holds the lowest ids, so seeds == union's firsts
        both = spark.createDataFrame(
            [(i, self._vec(i)) for i in range(70)],
            "vec_id long, embedding array<double>")
        lists1, cb1, cents1 = S.ivf_pq_index(
            both, dim=8, m=4, n_codes=8, n_centroids=4)
        assert S.stored_codebook(cb_df) == S.stored_codebook(cb1)
        a = sorted((r["cell"], r["id"], tuple(r["codes"]))
                   for r in streamed.collect())
        b = sorted((r["cell"], r["id"], tuple(r["codes"]))
                   for r in lists1.collect())
        assert a == b and len(a) == 70
        # the streamed artifacts serve queries directly
        queries = both.filter(F.col("vec_id") < 3)
        hits = S.ivf_pq_topk_against(streamed, cb_df, cents_df, queries,
                                     k=3, n_probe=2)
        assert hits.count() == 9
        # restart with a DIFFERENT m against the same index: refuse loud
        import json as _json2
        with open(src / "b2.json", "w") as f:
            f.write(_json2.dumps(
                {"vec_id": 99, "embedding": self._vec(99)}) + "\n")
        q2 = stc.ivf_pq_index_stream(
            stream, lists_path, cb_path, cents_path, str(tmp_path / "ck2"),
            m=8, n_codes=8, n_centroids=4, available_now=True)
        from pyspark.errors import StreamingQueryException
        with pytest.raises(StreamingQueryException, match="REBUILD"):
            q2.awaitTermination(120)
        assert spark.read.parquet(lists_path).count() == 70


class TestOpqIndexAsData:
    """OPQ index-as-data (VERDICT r9 #5): the rotation persists with the
    codebook, serving and append run purely off stored artifacts."""

    def _emb(self, spark, lo, hi, d=8):
        import hashlib
        rows = [(i, [(int(hashlib.md5(f"op{i}_{j}".encode()).hexdigest()[:6],
                          16) % 1000) / 250.0 - 2.0 for j in range(d)])
                for i in range(lo, hi)]
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def test_append_equals_rebuild_under_stored_artifacts(self, spark):
        from pigpen_spark.functions import similarity as S
        corpus = self._emb(spark, 5, 30)
        batch = self._emb(spark, 0, 5)
        idx, cb_df, rot_df = S.opq_index(corpus, dim=8, m=4, n_codes=8)
        appended = S.opq_index_append(idx, cb_df, rot_df, batch)
        # rebuild: rotate EVERYTHING by the stored matrix, code under the
        # stored codebook
        R = S.stored_rotation(rot_df)
        cb = S.stored_codebook(cb_df)
        every = self._emb(spark, 0, 30)
        rot_all = S.rotate_vectors(every, "vec_id", "embedding", R)
        rebuilt = S.product_quantize(
            rot_all, dim=8, m=4, n_codes=8, codebook=cb).select("id", "codes")
        a = sorted((r["id"], tuple(r["codes"])) for r in appended.collect())
        b = sorted((r["id"], tuple(r["codes"])) for r in rebuilt.collect())
        assert a == b and len(a) == 30

    def test_serving_rotates_queries_off_stored_matrix(self, spark):
        from pigpen_spark.functions import similarity as S
        corpus = self._emb(spark, 0, 30)
        idx, cb_df, rot_df = S.opq_index(corpus, dim=8, m=4, n_codes=8)
        q = corpus.filter(F.col("vec_id") < 3)
        hits = S.opq_topk_against(idx, cb_df, rot_df, q, k=3)
        # inline twin: rotate corpus AND queries the same way, ADC search
        R = S.stored_rotation(rot_df)
        cb = S.stored_codebook(cb_df)
        rot_c = S.rotate_vectors(corpus, "vec_id", "embedding", R)
        inline = S.pq_adc_topk(rot_c, rot_c.filter(F.col("vec_id") < 3),
                               k=3, dim=8, m=4, n_codes=8, codebook=cb)
        a = sorted(tuple(r) for r in hits.collect())
        b = sorted(tuple(r) for r in inline.collect())
        assert a == b and len(a) == 9

    def test_rotation_matrix_is_exact_sign_permutation(self, spark):
        from pigpen_spark.functions import similarity as S
        perm, signs = S.sign_permutation(8, seed=3)
        R = S.rotation_matrix(perm, signs)
        df = self._emb(spark, 0, 4)
        via_matrix = S.rotate_vectors(df, "vec_id", "embedding", R)
        via_expr = df.select(
            "vec_id",
            S.sign_permute(F.col("embedding"), perm, signs).alias("embedding"))
        a = {r["vec_id"]: tuple(r["embedding"]) for r in via_matrix.collect()}
        b = {r["vec_id"]: tuple(r["embedding"]) for r in via_expr.collect()}
        assert a == b  # bit-exact: one nonzero per GEMM row


class TestOpqIndexStream:
    """Streaming OPQ maintenance: streamed codes == rebuild under the
    stored (rotation, codebook) pair; the streamed artifacts serve."""

    def _vec(self, i):
        import hashlib
        return [(int(hashlib.md5(f"oq{i}_{d}".encode()).hexdigest()[:6],
                     16) % 1000) / 250.0 - 2.0 for d in range(8)]

    def test_streamed_equals_rebuild_and_serves(self, spark, tmp_path):
        import json as _json
        import os

        from pigpen_spark.functions import similarity as S
        from pigpen_spark.streaming import core as stc

        src = tmp_path / "in"
        src.mkdir()
        with open(src / "b0.json", "w") as f:
            for i in range(0, 40):
                f.write(_json.dumps(
                    {"vec_id": i, "embedding": self._vec(i)}) + "\n")
        with open(src / "b1.json", "w") as f:
            for i in range(40, 70):
                f.write(_json.dumps(
                    {"vec_id": i, "embedding": self._vec(i)}) + "\n")
        os.utime(src / "b0.json", (1_700_000_000, 1_700_000_000))
        os.utime(src / "b1.json", (1_700_000_100, 1_700_000_100))
        stream = (spark.readStream
                  .schema("vec_id long, embedding array<double>")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        codes_path = str(tmp_path / "codes")
        cb_path, rot_path = str(tmp_path / "cb"), str(tmp_path / "rot")
        q = stc.opq_index_stream(
            stream, codes_path, cb_path, rot_path, str(tmp_path / "ckpt"),
            m=4, n_codes=8, available_now=True)
        q.awaitTermination(120)

        streamed = spark.read.parquet(codes_path)
        cb_df = spark.read.parquet(cb_path)
        rot_df = spark.read.parquet(rot_path)
        R = S.stored_rotation(rot_df)
        cb = S.stored_codebook(cb_df)
        both = spark.createDataFrame(
            [(i, self._vec(i)) for i in range(70)],
            "vec_id long, embedding array<double>")
        rebuilt = S.product_quantize(
            S.rotate_vectors(both, "vec_id", "embedding", R),
            dim=8, m=4, n_codes=8, codebook=cb).select("id", "codes")
        a = sorted((r["id"], tuple(r["codes"])) for r in streamed.collect())
        b = sorted((r["id"], tuple(r["codes"])) for r in rebuilt.collect())
        assert a == b and len(a) == 70
        # the streamed artifact triple serves queries directly
        hits = S.opq_topk_against(streamed, cb_df, rot_df,
                                  both.filter(F.col("vec_id") < 3), k=3)
        assert hits.count() == 9


class TestRound10Plans:
    """Round-10 plan pins (scale properties, not values)."""

    def test_mix_select_broadcasts_rates_no_collect(self, spark, sf_dir,
                                                    monkeypatch):
        # the plan's rate table must reach the corpus as a BROADCAST
        # join (≤|sources| rows), and the budget cut must be the
        # two-phase form — no single-partition global window.  The cut
        # freezes its input in a local checkpoint, so the join is read
        # off the plan of the frame take_budget checkpoints.
        from pigpen_spark import catalog
        from pigpen_spark import catalog_ext  # noqa: F401 — registers
        from pigpen_spark.operators import windows
        frozen, checkpointed = [], windows._checkpointed

        def spy(df, **kw):
            frozen.append(df)
            return checkpointed(df, **kw)

        monkeypatch.setattr(windows, "_checkpointed", spy)
        df = catalog.queries()["ext_mix_select"](spark, sf_dir)
        assert len(frozen) == 1
        p = (frozen[0]._jdf.queryExecution().executedPlan().toString()
             + df._jdf.queryExecution().executedPlan().toString())
        assert "BroadcastHashJoin" in p
        assert "CartesianProduct" not in p
        # a naive global cumsum would be Window over Exchange SinglePartition
        import re
        assert not re.search(r"Exchange SinglePartition[\s\S]{0,400}Window",
                             p), "one-partition global window in mix_select"

    def test_join_multi_full_is_equi_full_joins(self, spark, sf_dir):
        # the N-ary all-optional flatten must compile to EQUI full joins
        # (SortMergeJoin/ShuffledHashJoin FullOuter) — never a
        # BroadcastNestedLoopJoin or cartesian fallback
        from pigpen_spark import catalog
        df = catalog.queries()["q_join_multi_full"](spark, sf_dir)
        p = df._jdf.queryExecution().executedPlan().toString()
        assert "FullOuter" in p
        assert "BroadcastNestedLoopJoin" not in p
        assert "CartesianProduct" not in p


class TestReferenceJoinSpecRows:
    """The reference's OWN full-outer join spec rows, verbatim
    (functional/join_test.clj join-data1/join-data2; expectations
    :489-512 and :576-598) — keys :i/:l/:r as strings, nil keys as
    NULL."""

    D1 = [(None, 1), (None, 3), ("i", 5), ("i", 7), ("l", 9), ("l", 11)]
    D2 = [(None, 2), (None, 4), ("i", 6), ("i", 8), ("r", 10), ("r", 12)]

    def _rels(self, spark):
        a = return_(spark, self.D1, "ka string, va long")
        b = return_(spark, self.D2, "kb string, vb long")
        return a, b

    def test_join_full_outer_spec(self, spark):
        # join_test.clj:489-512
        a, b = self._rels(spark)
        out = a.join_multi([(b, F.col("kb"))], on=F.col("ka"),
                           required=[False, False])
        got = {(r["va"], r["vb"]) for r in out.df.collect()}
        assert got == {
            (1, None), (3, None), (None, 2), (None, 4),
            (5, 6), (5, 8), (7, 6), (7, 8),
            (9, None), (11, None), (None, 10), (None, 12),
        }

    def test_join_full_outer_join_nils_spec(self, spark):
        # join_test.clj:576-598 — {:join-nils true}: nil keys group
        a, b = self._rels(spark)
        out = a.join_multi([(b, F.col("kb"))], on=F.col("ka"),
                           required=[False, False], join_nils=True)
        got = {(r["va"], r["vb"]) for r in out.df.collect()}
        assert got == {
            (1, 2), (3, 2), (1, 4), (3, 4),
            (5, 6), (5, 8), (7, 6), (7, 8),
            (9, None), (11, None), (None, 10), (None, 12),
        }

    def test_three_way_extension_of_spec_data(self, spark):
        # the same spec data through the NEW N>2 branch, with a third
        # input hitting :i (all three), :r (skips the first two), and a
        # fresh :x key
        a, b = self._rels(spark)
        c = return_(spark, [("i", 13), ("r", 14), ("x", 15)],
                    "kc string, vc long")
        out = a.join_multi([(b, F.col("kb")), (c, F.col("kc"))],
                           on=F.col("ka"), required=[False, False, False])
        got = {(r["va"], r["vb"], r["vc"]) for r in out.df.collect()}
        assert got == {
            (1, None, None), (3, None, None),
            (None, 2, None), (None, 4, None),
            (5, 6, 13), (5, 8, 13), (7, 6, 13), (7, 8, 13),
            (9, None, None), (11, None, None),
            (None, 10, 14), (None, 12, 14),
            (None, None, 15),
        }


class TestLiveMixPlanning:
    """mix_plan_from_have: the worksheet re-derived off a STREAMED token
    rollup == batch mix_plan on the union — live mixture accounting
    without re-scanning the corpus."""

    def test_streamed_rollup_plan_equals_batch_plan(self, spark, tmp_path):
        import json as _json
        import os

        from pigpen_spark.functions import pipeline as P
        from pigpen_spark.functions.text import tokens
        from pigpen_spark.streaming import core as stc

        rows = [(i, "w " * (i % 7 + 1), f"src{i % 3}") for i in range(60)]
        src = tmp_path / "in"
        src.mkdir()
        for b, lo in enumerate((0, 30)):
            with open(src / f"b{b}.json", "w") as f:
                for i, text, s in rows[lo:lo + 30]:
                    f.write(_json.dumps(
                        {"doc_id": i, "text": text, "source": s}) + "\n")
            os.utime(src / f"b{b}.json",
                     (1_700_000_000 + b * 100,) * 2)
        stream = (spark.readStream
                  .schema("doc_id long, text string, source string")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        roll_path = str(tmp_path / "have")
        q = stc.rollup_stream(
            stream, ["source"],
            aggs={"have_tokens": F.sum(
                F.size(tokens(F.coalesce(F.col("text"), F.lit(""))))
                .cast("long"))},
            merges={"have_tokens": "sum"},
            rollup_path=roll_path, checkpoint=str(tmp_path / "ck"),
            available_now=True)
        q.awaitTermination(120)
        import glob
        latest = sorted(glob.glob(f"{roll_path}/v*"),
                        key=lambda p: int(p.rsplit("v", 1)[1]))[-1]
        have = spark.read.parquet(latest)
        targets = {"src0": 600_000, "src1": 300_000, "ghost": 100_000}
        live = P.mix_plan_from_have(have, targets, budget_tokens=200)
        batch = P.mix_plan(
            spark.createDataFrame(rows, "doc_id long, text string, source string"),
            "source", "text", targets, budget_tokens=200)
        a = sorted(tuple(r) for r in live.collect())
        b = sorted(tuple(r) for r in batch.collect())
        assert a == b and len(a) == 4  # src0/src1/src2(drop)/ghost(missing)

    def test_from_have_validates(self, spark):
        from pigpen_spark.functions import pipeline as P
        have = spark.createDataFrame([("a", 10)], "source string, have_tokens long")
        with pytest.raises(ValueError, match="over-allocate"):
            P.mix_plan_from_have(have, {"a": 700_000, "b": 600_000}, 100)


class TestTakeBudgetStream:
    """Streaming budgeted selection: streamed == batch take_budget on
    ordered chunks, the gate closes across batches, replay idempotent."""

    def _write_batches(self, src):
        import json as _json
        import os
        # ordered chunks: ids 0..9 | 10..19 | 20..29, sizes 7,11,7,11,...
        for b in range(3):
            with open(src / f"b{b}.json", "w") as f:
                for i in range(b * 10, b * 10 + 10):
                    f.write(_json.dumps(
                        {"id": i, "sz": 7 if i % 2 == 0 else 11}) + "\n")
            os.utime(src / f"b{b}.json",
                     (1_700_000_000 + b, 1_700_000_000 + b))

    def _run(self, spark, tmp_path, budget, tag=""):
        from pigpen_spark.streaming import core as stc
        src = tmp_path / f"in{tag}"
        if not src.exists():
            src.mkdir()
            self._write_batches(src)
        stream = (spark.readStream.schema("id long, sz long")
                  .option("maxFilesPerTrigger", 1).json(str(src)))
        q = stc.take_budget_stream(
            stream, ["id"], "sz", budget,
            str(tmp_path / f"sel{tag}"), str(tmp_path / f"tot{tag}"),
            str(tmp_path / f"ckpt{tag}"), available_now=True)
        q.awaitTermination(120)
        return src

    def test_streamed_equals_batch_and_gate_closes(self, spark, tmp_path):
        import os

        from pigpen_spark.operators.windows import take_budget
        # sizes alternate 7/11 -> total 90 per batch; budget 130 crosses
        # inside batch 1 (needs rows from batch 0 AND 1, none of batch 2)
        self._run(spark, tmp_path, budget=130)
        got = {(r["id"], r["cum_size"])
               for r in spark.read.parquet(str(tmp_path / "sel")).collect()}
        full = spark.createDataFrame(
            [(i, 7 if i % 2 == 0 else 11) for i in range(30)],
            "id long, sz long")
        exp = {(r["id"], r["cum_size"])
               for r in take_budget(full, ["id"], "sz", 130).collect()}
        assert got == exp and len(got) > 10   # crossed into batch 1
        # gate closed: batch 2 wrote nothing
        assert not os.path.exists(str(tmp_path / "sel" / "batch=2"))
        from pigpen_spark.streaming.core import _parquet_versions
        vs = _parquet_versions(str(tmp_path / "tot"))
        assert vs == [2]   # every batch versions the ledger; old pruned
        tot = spark.read.parquet(
            str(tmp_path / "tot" / f"v{vs[-1]}")).collect()[0]["accepted_tokens"]
        assert tot == max(c for _, c in exp)

    def test_replay_is_idempotent(self, spark, tmp_path):
        self._run(spark, tmp_path, budget=130, tag="r")
        first = sorted(map(tuple, spark.read.parquet(
            str(tmp_path / "selr")).collect()))
        # same checkpoint + same files: a restarted query re-applies nothing
        self._run(spark, tmp_path, budget=130, tag="r")
        again = sorted(map(tuple, spark.read.parquet(
            str(tmp_path / "selr")).collect()))
        assert first == again

    def test_guard(self, spark, tmp_path):
        from pigpen_spark.streaming import core as stc
        stream = (spark.readStream.schema("id long, sz long")
                  .json(str(tmp_path)))
        with pytest.raises(ValueError, match="negative budget"):
            stc.take_budget_stream(stream, ["id"], "sz", -1, "x", "y", "z")


class TestPackGreedy:
    """Greedy no-split sample packing: per-chunk fill <= capacity except
    oversize singletons; documents never split; deterministic walk."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "shard string, id long, sz long")

    def test_walk_semantics(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, [
            ("a", 1, 100), ("a", 2, 100), ("a", 3, 60),   # 100+100 fits 250; +60 overflows
            ("a", 4, 300),                                 # oversize: own chunk
            ("a", 5, 10),                                  # next chunk
            ("b", 6, 200), ("b", 7, 100),                  # b: 200 | 100
        ])
        out = P.pack_greedy(df, "sz", ["id"], 250, ["shard"])
        got = {(r["shard"], r["id"]): r["chunk_id"] for r in out.collect()}
        assert got == {("a", 1): 0, ("a", 2): 0, ("a", 3): 1,
                       ("a", 4): 2, ("a", 5): 3,
                       ("b", 6): 0, ("b", 7): 1}

    def test_no_chunk_overflows_except_oversize_singleton(self, spark):
        from pigpen_spark.functions import pipeline as P
        docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                .selectExpr("lang AS shard", "doc_id AS id",
                            "size(split(text, ' ')) AS sz"))
        out = P.pack_greedy(docs, "sz", ["id"], 64, ["shard"]).collect()
        from collections import defaultdict
        fill, members = defaultdict(int), defaultdict(int)
        for r in out:
            fill[(r["shard"], r["chunk_id"])] += r["sz"]
            members[(r["shard"], r["chunk_id"])] += 1
        for k, f in fill.items():
            assert f <= 64 or members[k] == 1  # oversize docs sit alone
        assert len(out) == docs.count()        # nothing dropped or split

    def test_zero_size_first_row_opens_chunk_zero(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, [("a", 1, 0), ("a", 2, 5)])
        got = {r["id"]: r["chunk_id"]
               for r in P.pack_greedy(df, "sz", ["id"], 10, ["shard"]).collect()}
        assert got == {1: 0, 2: 0}

    def test_guards(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, [("a", 1, 1)])
        with pytest.raises(ValueError, match="partition_by is required"):
            P.pack_greedy(df, "sz", ["id"], 10, [])
        with pytest.raises(ValueError, match="capacity"):
            P.pack_greedy(df, "sz", ["id"], 0, ["shard"])


class TestPackFfd:
    """First-fit-decreasing no-split packing: first OPEN chunk that fits
    wins, size-DESC walk, oversize singletons, never fewer-efficient
    than the greedy sequential walk on varied sizes."""

    def _df(self, spark, rows):
        return spark.createDataFrame(rows, "shard string, id long, sz long")

    def test_first_fit_backfills_earlier_gaps(self, spark):
        from pigpen_spark.functions import pipeline as P
        # size-desc walk: 9 opens c0; 5,5 open+fill c1; 4 backfills... cap 10
        df = self._df(spark, [("a", 1, 9), ("a", 2, 5), ("a", 3, 5),
                              ("a", 4, 4), ("a", 5, 3), ("a", 6, 2)])
        got = {r["id"]: r["chunk_id"]
               for r in P.pack_ffd(df, "sz", 10, ["shard"], id_col="id").collect()}
        # walk 9,5,5,4,3,2 (cap 10): 9→c0; 5→c1; 5→c1 (10); 4→c2;
        # 3→c2 (7); 2→c2 (9) — first OPEN fit wins at every step
        assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 2, 6: 2}

    def test_oversize_opens_own_chunk(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, [("a", 1, 12), ("a", 2, 9), ("a", 3, 1)])
        got = {r["id"]: r["chunk_id"]
               for r in P.pack_ffd(df, "sz", 10, ["shard"], id_col="id").collect()}
        # 12 oversize → c0 (and stays unfittable); 9 → c1; 1 → c1
        assert got == {1: 0, 2: 1, 3: 1}

    def test_never_more_chunks_than_greedy_on_corpus(self, spark):
        from pigpen_spark.functions import pipeline as P
        docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
                .selectExpr("lang AS shard", "doc_id AS id",
                            "size(split(text, ' ')) AS sz"))
        ffd = P.pack_ffd(docs, "sz", 64, ["shard"], id_col="id")
        greedy = P.pack_greedy(docs, "sz", ["id"], 64, ["shard"])
        n_ffd = ffd.select("shard", "chunk_id").distinct().count()
        n_greedy = greedy.select("shard", "chunk_id").distinct().count()
        assert n_ffd <= n_greedy
        # and nothing dropped, no chunk overflows except oversize singletons
        rows = ffd.collect()
        assert len(rows) == docs.count()
        from collections import defaultdict
        fill, members = defaultdict(int), defaultdict(int)
        for r in rows:
            fill[(r["shard"], r["chunk_id"])] += r["sz"]
            members[(r["shard"], r["chunk_id"])] += 1
        for k, f in fill.items():
            assert f <= 64 or members[k] == 1

    def test_segtree_walk_equals_naive_scan(self, spark):
        # the O(log bins) leftmost-fit tree must match the naive
        # O(bins) scan exactly — including size-0 docs (must not land
        # in an oversize bin) and oversize docs (own closed bin)
        import random

        from pigpen_spark.functions import pipeline as P
        rng = random.Random(11)
        rows = [("s", i, rng.choice([0, 1, 2, 3, 5, 8, 9, 12, 15]))
                for i in range(300)]
        got = {r["id"]: r["chunk_id"]
               for r in P.pack_ffd(self._df(spark, rows), "sz", 10,
                                   ["shard"], id_col="id").collect()}
        loads, exp = [], {}
        for _, i, s in sorted(rows, key=lambda t: (-t[2], t[1])):
            placed = next((bi for bi, ld in enumerate(loads)
                           if ld + s <= 10), None)
            if placed is None:
                placed = len(loads)
                loads.append(s)
            else:
                loads[placed] += s
            exp[i] = placed
        assert got == exp

    def test_guards(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, [("a", 1, 1)])
        with pytest.raises(ValueError, match="partition_by is required"):
            P.pack_ffd(df, "sz", 10, [], id_col="id")
        with pytest.raises(ValueError, match="capacity"):
            P.pack_ffd(df, "sz", 0, ["shard"], id_col="id")
        with pytest.raises(ValueError, match="id_col"):
            P.pack_ffd(df, "sz", 10, ["shard"], id_col=None)

    def test_empty(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame([], "shard string, id long, sz long")
        assert P.pack_ffd(df, "sz", 10, ["shard"], id_col="id").count() == 0


class TestCurriculumBlend:
    """Difficulty-paced curriculum: stage 0 pure-easiest, hard buckets
    unlock at their own stage, even in-stage interleave, permutation."""

    def _out(self, spark, n=200, k=4, salt="epoch0"):
        from pigpen_spark.functions import pipeline as P
        df = spark.range(n).selectExpr("id", "(id * 37) % 101 AS difficulty")
        return P.curriculum_blend(df, "id", "difficulty", n_stages=k,
                                  salt=salt).collect()

    def test_pacing_invariants(self, spark):
        rows = self._out(spark)
        n = len(rows)
        assert sorted(r["curr_pos"] for r in rows) == list(range(n))
        for r in rows:
            assert r["stage"] >= r["bucket"]        # hard unlocks late
        stage0_buckets = {r["bucket"] for r in rows if r["stage"] == 0}
        assert stage0_buckets == {0}                 # opens on the easiest
        assert {r["stage"] for r in rows} == {0, 1, 2, 3}
        # equal difficulty quartiles (n=200, K=4 -> 50 each)
        from collections import Counter
        assert Counter(r["bucket"] for r in rows) == {b: 50 for b in range(4)}

    def test_even_in_stage_interleave(self, spark):
        # within a stage, each bucket's rows sit on an even vt grid:
        # the vt<=500000 half holds M/2 (+-1) of the bucket's stage rows
        from collections import Counter, defaultdict
        rows = self._out(spark, n=400)
        cell = Counter((r["stage"], r["bucket"]) for r in rows)
        first_half = Counter((r["stage"], r["bucket"]) for r in rows
                             if r["vt"] <= 500_000)
        for k, m in cell.items():
            assert abs(first_half[k] - m / 2) <= 1, (k, m, first_half[k])

    def test_salt_moves_rows_not_histogram(self, spark):
        from collections import Counter
        a = self._out(spark, salt="epoch0")
        b = self._out(spark, salt="epoch1")
        assert Counter((r["stage"], r["bucket"]) for r in a) == \
               Counter((r["stage"], r["bucket"]) for r in b)
        assert {r["id"]: r["bucket"] for r in a} == \
               {r["id"]: r["bucket"] for r in b}   # buckets are salt-free
        assert [r["id"] for r in sorted(a, key=lambda r: r["curr_pos"])] != \
               [r["id"] for r in sorted(b, key=lambda r: r["curr_pos"])]

    def test_deterministic_replay(self, spark):
        a = self._out(spark)
        b = self._out(spark)
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))

    def test_empty_and_guards(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame([], "id long, difficulty long")
        out = P.curriculum_blend(df, "id", "difficulty", n_stages=4)
        assert out.count() == 0
        assert set(out.columns) == {"id", "difficulty", "bucket", "stage",
                                    "vt", "curr_pos"}
        with pytest.raises(ValueError, match="n_stages"):
            P.curriculum_blend(df, "id", "difficulty", n_stages=0)


class TestMixPlanFill:
    """Water-filling mixture planning: redistribution fixpoint invariants
    + randomized equivalence with an unbounded pure-Python fixpoint."""

    @staticmethod
    def _model(have, targets, budget, cap_ppm):
        # unbounded fixpoint (no unroll limit) — the semantic spec
        sources = sorted(set(have) | set(targets))
        share = {s: targets.get(s, 0) for s in sources}
        hv = {s: have.get(s, 0) for s in sources}
        cap = {s: hv[s] * cap_ppm // 1_000_000 for s in sources}
        capped = set()
        while True:
            r = budget - sum(cap[c] for c in capped)
            ssum = sum(share[s] for s in sources if s not in capped)
            newly = {s for s in sources if s not in capped
                     and (r * share[s] // ssum if ssum > 0 else 0) >= cap[s]}
            if not newly:
                break
            capped |= newly
        r = budget - sum(cap[c] for c in capped)
        ssum = sum(share[s] for s in sources if s not in capped)
        out = {}
        for s in sources:
            take = cap[s] if s in capped else (
                r * share[s] // ssum if ssum > 0 else 0)
            out[s] = (hv[s], cap[s], take,
                      take * 1_000_000 // hv[s] if hv[s] > 0 else 0,
                      s in capped)
        return out

    def _df(self, spark, have):
        rows = [(s, " ".join(["w"] * n)) for s, n in have.items()]
        return spark.createDataFrame(rows, "source string, text string")

    def test_randomized_against_model(self, spark):
        import random
        from pigpen_spark.functions import pipeline as P
        rng = random.Random(7)
        for trial in range(8):
            n_src = rng.randint(1, 6)
            have = {f"s{i}": rng.randint(0, 40) for i in range(n_src)}
            targets = {f"s{i}": rng.choice([0, 50_000, 200_000, 400_000])
                       for i in range(n_src) if rng.random() < 0.8}
            targets = targets or {"s0": 100_000}
            if rng.random() < 0.5:
                targets["missing"] = 100_000  # targeted, not in corpus
            budget = rng.randint(0, 200)
            cap_ppm = rng.choice([1_000_000, 2_000_000, 3_000_000])
            got = {r["source"]: (r["have_tokens"], r["cap_tokens"],
                                 r["take_tokens"], r["rate_ppm"], r["capped"])
                   for r in P.mix_plan_fill(self._df(spark, have), "source",
                                            "text", targets, budget,
                                            cap_ppm).collect()}
            exp = self._model(have, targets, budget, cap_ppm)
            assert got == exp, (trial, have, targets, budget, cap_ppm)

    def test_fill_invariants_on_corpus(self, spark):
        from pigpen_spark.functions import pipeline as P
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        targets = {"src0": 500_000, "src1": 300_000, "src2": 150_000,
                   "src3": 50_000}
        rows = P.mix_plan_fill(docs, "source", "text", targets,
                               budget_tokens=10_000).collect()
        by = {r["source"]: r for r in rows}
        total_take = sum(r["take_tokens"] for r in rows)
        assert total_take <= 10_000
        for r in rows:
            assert 0 <= r["take_tokens"] <= max(r["cap_tokens"], 0)
            if r["capped"]:
                assert r["take_tokens"] == r["cap_tokens"]
        # untargeted sources are explicit drops
        assert all(by[s]["take_tokens"] == 0 for s in by
                   if s not in targets)

    def test_guards(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, {"a": 3})
        with pytest.raises(ValueError, match="targets is empty"):
            P.mix_plan_fill(df, "source", "text", {}, 100)
        with pytest.raises(ValueError, match="negative budget"):
            P.mix_plan_fill(df, "source", "text", {"a": 1}, -1)
        with pytest.raises(ValueError, match="> 9e12"):
            P.mix_plan_fill(df, "source", "text", {"a": 1}, 10**13)
        with pytest.raises(ValueError, match="sum to"):
            P.mix_plan_fill(df, "source", "text", {"a": 900_000,
                                                   "b": 200_000}, 100)


class TestPqRefineTopk:
    """ADC shortlist + exact re-rank (IndexRefineFlat): converges to
    brute force as refine grows, never below plain-ADC recall."""

    def _emb(self, spark):
        return spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet")

    def test_large_refine_equals_brute_force(self, spark):
        from pigpen_spark.functions import similarity as S
        emb = self._emb(spark)
        q = emb.filter("vec_id < 5")
        n = emb.count()
        refined = S.pq_refine_topk(emb, q, k=5, refine=(n + 4) // 5, dim=64)
        brute = S.brute_force_topk(emb, q, k=5)
        assert sorted(map(tuple, refined.collect())) == \
               sorted(map(tuple, brute.collect()))

    def test_recall_at_least_plain_adc(self, spark):
        from pigpen_spark.functions import similarity as S
        emb = self._emb(spark)
        q = emb.filter("vec_id < 10")
        brute = S.brute_force_topk(emb, q, k=5)
        exact = {(r["q_id"], r["n_id"]) for r in brute.collect()}
        adc = {(r["q_id"], r["n_id"])
               for r in S.pq_adc_topk(emb, q, k=5, dim=64).collect()}
        ref = {(r["q_id"], r["n_id"])
               for r in S.pq_refine_topk(emb, q, k=5, refine=4,
                                         dim=64).collect()}
        # the refined set re-ranks a superset shortlist with the TRUE
        # metric, so its hit count cannot fall below plain ADC's
        assert len(ref & exact) >= len(adc & exact)

    def test_rerank_broadcasts_shortlist_no_corpus_shuffle(self, spark):
        from pigpen_spark.functions import similarity as S
        emb = self._emb(spark)
        q = emb.filter("vec_id < 5")
        plan = S.pq_refine_topk(emb, q, k=5, refine=4, dim=64) \
            ._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "SortMergeJoin" not in plan

    def test_guard(self, spark):
        from pigpen_spark.functions import similarity as S
        emb = self._emb(spark)
        with pytest.raises(ValueError, match="refine"):
            S.pq_refine_topk(emb, emb.limit(1), k=5, refine=0, dim=64)


class TestTemperaturePlan:
    """Temperature-scaled mixture targets: τ=1 proportional, higher τ
    flattens toward uniform, power-of-two restriction enforced."""

    def _df(self, spark):
        rows = [(s, " ".join(["w"] * n))
                for s, n in [("a", 100), ("b", 25), ("c", 4)]]
        return spark.createDataFrame(rows, "source string, text string")

    def test_tau1_is_proportional(self, spark):
        from pigpen_spark.functions import pipeline as P
        got = {r["source"]: r["share_ppm"]
               for r in P.temperature_plan(self._df(spark), "source", "text",
                                           tau=1).collect()}
        assert got == {"a": int(100 / 129 * 1e6), "b": int(25 / 129 * 1e6),
                       "c": int(4 / 129 * 1e6)}

    def test_higher_tau_flattens(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark)
        shares = {}
        for tau in (1, 2, 4):
            shares[tau] = {r["source"]: r["share_ppm"]
                           for r in P.temperature_plan(df, "source", "text",
                                                       tau=tau).collect()}
        # the biggest source loses share, the smallest gains, as τ grows
        assert shares[1]["a"] > shares[2]["a"] > shares[4]["a"]
        assert shares[1]["c"] < shares[2]["c"] < shares[4]["c"]
        for tau in (1, 2, 4):
            assert sum(shares[tau].values()) <= 1_000_000
        # τ=2 is exactly sqrt-proportional
        import math
        tot = math.sqrt(100) + math.sqrt(25) + math.sqrt(4)
        assert shares[2]["a"] == int(math.sqrt(100) * 1_000_000 / tot)

    def test_guard(self, spark):
        from pigpen_spark.functions import pipeline as P
        with pytest.raises(ValueError, match="power of two"):
            P.temperature_plan(self._df(spark), "source", "text", tau=3)


class TestSpanCorrupt:
    """Deterministic T5 span-corruption layout: python-model equality,
    rate extremes, empty docs."""

    @staticmethod
    def _model(doc_id, n, rate_pct, salt="spanc"):
        import hashlib
        thr = rate_pct * (1 << 32) // 100
        seed = int(hashlib.md5(f"{doc_id}|{salt}".encode()).hexdigest()[:8], 16)
        flags = []
        for i in range(1, n + 1):
            v = (((seed + i) % (1 << 32)) * 1103515245 + 12345) % (1 << 32)
            flags.append(1 if v < thr else 0)
        masked = sum(flags)
        spans = sum(f * (1 - (flags[i - 1] if i else 0))
                    for i, f in enumerate(flags))
        return (n, masked, spans, n - masked + spans, masked + spans)

    def test_matches_python_model(self, spark):
        from pigpen_spark.functions import pipeline as P
        rows = [(i, " ".join(f"t{j}" for j in range(5 * i))) for i in range(1, 8)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["id"]: (r["n_tokens"], r["n_masked"], r["n_spans"],
                         r["input_len"], r["target_len"])
               for r in P.span_corrupt_stats(df, "doc_id", "text",
                                             rate_pct=30).collect()}
        assert got == {i: self._model(i, 5 * i, 30) for i in range(1, 8)}

    def test_rate_extremes_and_empty(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "")], "doc_id long, text string")
        z = {r["id"]: r for r in P.span_corrupt_stats(
            df, "doc_id", "text", rate_pct=0).collect()}
        assert (z[1]["n_masked"], z[1]["n_spans"], z[1]["input_len"]) == (0, 0, 5)
        assert (z[2]["n_tokens"], z[2]["n_masked"], z[2]["n_spans"],
                z[2]["input_len"], z[2]["target_len"]) == (0, 0, 0, 0, 0)
        f = {r["id"]: r for r in P.span_corrupt_stats(
            df, "doc_id", "text", rate_pct=100).collect()}
        # all masked -> ONE span covering the doc
        assert (f[1]["n_masked"], f[1]["n_spans"],
                f[1]["input_len"], f[1]["target_len"]) == (5, 1, 1, 6)
        with pytest.raises(ValueError, match="rate_pct"):
            P.span_corrupt_stats(df, "doc_id", "text", rate_pct=101)

    def test_mask_rate_is_statistical(self, spark):
        # LCG draw quality: the corpus-wide masked fraction tracks the
        # requested rate (the model-equality test pins exactness; this
        # pins that the generator is not degenerate)
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame(
            [(i, " ".join(["w"] * 500)) for i in range(50)],
            "doc_id long, text string")
        agg = P.span_corrupt_stats(df, "doc_id", "text", rate_pct=15) \
            .groupBy().sum("n_masked", "n_tokens").collect()[0]
        frac = agg[0] / agg[1]
        assert 0.13 < frac < 0.17

    def test_salt_is_a_fresh_draw(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame(
            [(i, " ".join(["w"] * 40)) for i in range(20)],
            "doc_id long, text string")
        a = {r["id"]: r["n_masked"] for r in P.span_corrupt_stats(
            df, "doc_id", "text", salt="s1").collect()}
        b = {r["id"]: r["n_masked"] for r in P.span_corrupt_stats(
            df, "doc_id", "text", salt="s2").collect()}
        assert a != b                      # different draw
        again = {r["id"]: r["n_masked"] for r in P.span_corrupt_stats(
            df, "doc_id", "text", salt="s1").collect()}
        assert a == again                  # same salt replays exactly


class TestPqIndexRefine:
    """Stored-index refine serving == inline refine row-for-row."""

    def test_against_equals_inline(self, spark):
        from pigpen_spark.functions import similarity as S
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 5")
        idx, cb_df = S.pq_index(emb, dim=64)
        served = S.pq_topk_against_refined(idx, cb_df, emb, q, k=5, refine=4)
        inline = S.pq_refine_topk(emb, q, k=5, refine=4, dim=64)
        assert sorted(map(tuple, served.collect())) == \
               sorted(map(tuple, inline.collect()))
        with pytest.raises(ValueError, match="refine"):
            S.pq_topk_against_refined(idx, cb_df, emb, q, k=5, refine=0)

    def test_ivf_refine_recall_not_below_plain(self, spark):
        from pigpen_spark.functions import similarity as S
        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = emb.filter("vec_id < 10")
        lists, cb_df, cents_df = S.ivf_pq_index(emb, dim=64)
        exact = {(r["q_id"], r["n_id"])
                 for r in S.brute_force_topk(emb, q, k=5).collect()}
        plain = {(r["q_id"], r["n_id"])
                 for r in S.ivf_pq_topk_against(lists, cb_df, cents_df, q,
                                                k=5).collect()}
        ref = {(r["q_id"], r["n_id"])
               for r in S.ivf_pq_topk_against_refined(
                   lists, cb_df, cents_df, emb, q, k=5, refine=4).collect()}
        assert len(ref & exact) >= len(plain & exact)
        with pytest.raises(ValueError, match="refine"):
            S.ivf_pq_topk_against_refined(lists, cb_df, cents_df, emb, q,
                                          k=5, refine=0)


class TestSecondPassPlans:
    """Physical-plan pins for the r10 second-pass rows: the scale
    promises must be visible in the plan, not just argued."""

    def _plan(self, df):
        return df._jdf.queryExecution().executedPlan().toString()

    def test_curriculum_has_no_single_partition_exchange(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.range(200).selectExpr("id", "id % 37 AS difficulty")
        plan = self._plan(P.curriculum_blend(df, "id", "difficulty",
                                             n_stages=4))
        # two-phase ranks + partitioned windows: a one-reducer global
        # window would show as Exchange SinglePartition
        assert "Exchange SinglePartition" not in plan

    def test_pack_ffd_is_sharded_arrow_walk(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame([("a", 1, 2)], "shard string, id long, sz long")
        plan = self._plan(P.pack_ffd(df, "sz", 10, ["shard"], id_col="id"))
        assert "FlatMapGroupsInPandas" in plan
        assert "Exchange SinglePartition" not in plan

    def test_span_corrupt_is_pure_projection(self, spark):
        from pigpen_spark.functions import pipeline as P
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = self._plan(P.span_corrupt_stats(docs, "doc_id", "text"))
        # zero shuffles, zero Python: one scan + projection
        assert "Exchange" not in plan
        assert "Pandas" not in plan and "PythonUDF" not in plan


class TestRound10EmptyInputs:
    """ANSI-mode empty/edge probes for the r10 operators (the synthetic
    corpus has no empties, so the oracle gate never exercises these)."""

    def test_mix_select_empty_corpus(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame([], "doc_id long, text string, source string")
        out = P.mix_select(df, "source", "text", "doc_id",
                           {"a": 1_000_000}, budget_tokens=100)
        assert out.count() == 0

    def test_mix_select_zero_budget(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame([(1, "w w", "a")],
                                   "doc_id long, text string, source string")
        out = P.mix_select(df, "source", "text", "doc_id",
                           {"a": 1_000_000}, budget_tokens=0)
        assert out.count() == 0  # want 0 -> rate 0 -> nothing sampled

    def test_pack_greedy_empty(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = spark.createDataFrame([], "shard string, id long, sz long")
        assert P.pack_greedy(df, "sz", ["id"], 10, ["shard"]).count() == 0

    def test_join_multi_full_empty_middle_input(self, spark):
        a = return_(spark, [("k", 1)], "ka string, a long")
        b = return_(spark, [], "kb string, b long")
        c = return_(spark, [("k", 3), ("x", 4)], "kc string, c long")
        out = a.join_multi([(b, F.col("kb")), (c, F.col("kc"))],
                           on=F.col("ka"), required=[False, False, False])
        got = _sorted((r["a"], r["b"], r["c"]) for r in out.df.collect())
        assert got == _sorted([(1, None, 3), (None, None, 4)])

    def test_opq_index_empty_corpus_raises_loud(self, spark):
        from pigpen_spark.functions import similarity as S
        empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
        # default codebook collection on an empty corpus must raise a
        # ValueError, not emit an unusable empty artifact silently
        with pytest.raises(Exception):
            idx, cb_df, rot_df = S.opq_index(
                empty, dim=8, m=4, n_codes=4,
                rotation=[[1.0 if i == j else 0.0 for j in range(8)]
                          for i in range(8)])
            S.stored_codebook(cb_df)


def test_generate_script_covers_every_catalog_query():
    # generation (source extraction + module binding) must work for ALL
    # registered queries — the r9 advice bug was exactly a class of
    # queries (private-helper users, catalog_diff) that generated fine
    # but crashed at run time; the namespace-exec form makes generation
    # the only per-query variance, so pin it across the whole catalog
    from pigpen_spark import catalog
    from pigpen_spark import catalog_diff  # noqa: F401
    from pigpen_spark import catalog_ext  # noqa: F401
    from pigpen_spark.plans.viz import generate_script

    for name in catalog.queries():
        src = generate_script(name)
        assert f"_mod.__dict__[{name!r}]" in src
        assert "import importlib" in src


class TestStreamRestartIdempotence:
    """Restarting the new index-maintenance streams on the SAME
    checkpoint with no new input must not change the stored index."""

    def _write(self, path, lo, hi, d=8):
        import json as _json
        with open(path, "w") as f:
            for i in range(lo, hi):
                f.write(_json.dumps({"vec_id": i, "embedding": [
                    float((i * 3 + j) % 7) for j in range(d)]}) + "\n")

    def test_ivf_pq_stream_restart_noop(self, spark, tmp_path):
        from pigpen_spark.streaming import core as stc
        src = tmp_path / "in"
        src.mkdir()
        self._write(src / "b0.json", 0, 25)

        def mk():
            return (spark.readStream
                    .schema("vec_id long, embedding array<double>")
                    .json(str(src)))

        paths = (str(tmp_path / "lists"), str(tmp_path / "cb"),
                 str(tmp_path / "cents"), str(tmp_path / "ck"))
        q = stc.ivf_pq_index_stream(mk(), *paths, m=4, n_codes=4,
                                    n_centroids=4, available_now=True)
        q.awaitTermination(120)
        before = sorted((r["cell"], r["id"], tuple(r["codes"]))
                        for r in spark.read.parquet(paths[0]).collect())
        assert len(before) == 25
        q2 = stc.ivf_pq_index_stream(mk(), *paths, m=4, n_codes=4,
                                     n_centroids=4, available_now=True)
        q2.awaitTermination(120)
        after = sorted((r["cell"], r["id"], tuple(r["codes"]))
                       for r in spark.read.parquet(paths[0]).collect())
        assert after == before

    def test_opq_stream_restart_noop(self, spark, tmp_path):
        from pigpen_spark.streaming import core as stc
        src = tmp_path / "in"
        src.mkdir()
        self._write(src / "b0.json", 0, 25)

        def mk():
            return (spark.readStream
                    .schema("vec_id long, embedding array<double>")
                    .json(str(src)))

        paths = (str(tmp_path / "codes"), str(tmp_path / "cb"),
                 str(tmp_path / "rot"), str(tmp_path / "ck"))
        q = stc.opq_index_stream(mk(), *paths, m=4, n_codes=4,
                                 available_now=True)
        q.awaitTermination(120)
        before = sorted((r["id"], tuple(r["codes"]))
                        for r in spark.read.parquet(paths[0]).collect())
        assert len(before) == 25
        q2 = stc.opq_index_stream(mk(), *paths, m=4, n_codes=4,
                                  available_now=True)
        q2.awaitTermination(120)
        after = sorted((r["id"], tuple(r["codes"]))
                       for r in spark.read.parquet(paths[0]).collect())
        assert after == before


class TestBlendByWeight:
    """Source-blended epoch ordering: target ratios hold in every
    prefix (deficit-round-robin property), drops and guards explicit."""

    def _df(self, spark, counts):
        rows = [(s, i + 1000 * j) for j, (s, n) in enumerate(sorted(counts.items()))
                for i in range(n)]
        return spark.createDataFrame(rows, "source string, doc_id long")

    def test_prefix_ratio_property(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, {"a": 60, "b": 60, "c": 60})
        out = P.blend_by_weight(df, "source", "doc_id",
                                {"a": 500_000, "b": 300_000, "c": 200_000})
        ordered = [r["source"] for r in out.orderBy("blend_pos").collect()]
        # at every 20-row prefix the realized mix tracks 5:3:2 within
        # the deficit-RR bound (±2 per source)
        for k in (20, 40, 60):
            pre = ordered[:k]
            assert abs(pre.count("a") - k * 0.5) <= 2
            assert abs(pre.count("b") - k * 0.3) <= 2
            assert abs(pre.count("c") - k * 0.2) <= 2

    def test_unplanned_source_dropped_and_positions_dense(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, {"a": 5, "zz": 7})
        out = P.blend_by_weight(df, "source", "doc_id", {"a": 1_000_000})
        rows = out.collect()
        assert {r["source"] for r in rows} == {"a"}
        assert sorted(r["blend_pos"] for r in rows) == list(range(5))

    def test_new_salt_new_permutation_same_mix(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, {"a": 30, "b": 30})
        w = {"a": 500_000, "b": 500_000}
        e0 = [r["doc_id"] for r in P.blend_by_weight(df, "source", "doc_id", w)
              .orderBy("blend_pos").collect()]
        e0_again = [r["doc_id"] for r in P.blend_by_weight(df, "source", "doc_id", w)
                    .orderBy("blend_pos").collect()]
        e1 = [r["doc_id"] for r in P.blend_by_weight(df, "source", "doc_id", w,
                                                     salt="epoch1")
              .orderBy("blend_pos").collect()]
        assert e0 == e0_again          # same salt replays exactly
        assert e0 != e1                # new salt is a fresh permutation
        assert sorted(e0) == sorted(e1)

    def test_guards(self, spark):
        from pigpen_spark.functions import pipeline as P
        df = self._df(spark, {"a": 1})
        with pytest.raises(ValueError, match="empty"):
            P.blend_by_weight(df, "source", "doc_id", {})
        with pytest.raises(ValueError, match="positive"):
            P.blend_by_weight(df, "source", "doc_id", {"a": 0})


class TestSuffixDerivedPartitioning:
    """The suffix array's one construction form: derived-bucket ranks
    (sym buckets for round 0, (r0, r1) composite buckets for later
    rounds) over lead-window pairing, at radix 4 — checked against the
    DuckDB reference and pinned join-free in every round."""

    def _docs(self, spark, sf_dir, limit=120):
        rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
                .select("doc_id", "text").orderBy("doc_id").limit(limit)
                .collect())
        return [(int(r.doc_id), r.text) for r in rows]

    def test_repeats_equal_duckdb_reference(self, spark, sf_dir):
        import duckdb
        import pandas as pd

        from pigpen_spark.functions import suffix as X
        rows = self._docs(spark, sf_dir)
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in X.maximal_repeats(
            docs, "doc_id", "text", min_len=6).collect())
        con = duckdb.connect()
        con.register("documents",
                     pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = sorted(tuple(int(x) for x in r) for r in con.execute(
            X.maximal_repeats_sql("documents", "doc_id", "text",
                                  min_len=6)).fetchall())
        assert len(got) > 0
        assert got == want

    def test_round_tables_pair_without_joins(self, spark, sf_dir,
                                             monkeypatch):
        """Every round's rank input is paired by the lead window — no
        join in its plan — including rounds whose horizon outgrows the
        base pos-block (the block widens to the horizon instead)."""
        from pigpen_spark import cache
        from pigpen_spark.functions import suffix as X
        # 40 docs: the early horizons fit the base block, the last
        # rounds' horizons outgrow it
        docs = spark.createDataFrame(self._docs(spark, sf_dir, limit=40),
                                     "doc_id long, text string")
        seen = []
        real = X._dense_rank_bucketed

        def spy(df, cols, n_prev):
            seen.append(df._jdf.queryExecution().optimizedPlan().toString())
            return real(df, cols, n_prev)

        monkeypatch.setattr(X, "_dense_rank_bucketed", spy)
        with cache.scope():
            positions = X.pack_positions(docs, "doc_id", "text") \
                .transform(cache.persisted)
            n = positions.count()
            tables = X.suffix_ranks(positions, n=n)
            par = spark.sparkContext.defaultParallelism
            base_block = max(-(-n // max(8 * par, 1)), 1)
            horizons = [(X._RADIX - 1) * w for w, _ in tables[:-1]]
            assert len(seen) == len(horizons) > 0
            assert any(h <= base_block for h in horizons) and \
                any(h > base_block for h in horizons), \
                (n, base_block, horizons)
            for plan in seen:
                assert "Join" not in plan, plan
            # final table is a permutation: dense unique ranks == positions
            final = tables[-1][1]
            got = final.agg(F.countDistinct("rank").alias("c")).collect()[0]
            assert got["c"] == n

    def test_refuses_corpus_past_rank_key_bound(self, spark):
        from pigpen_spark.functions import suffix as X
        positions = spark.createDataFrame([(0, 5), (1, -1)],
                                          "pos long, sym long")
        with pytest.raises(ValueError, match="3000000000"):
            X.suffix_ranks(positions, n=3_000_000_001)
