"""Round-9 pins: the PQ family's Arrow kernels vs their retained
expression references (bit equality), the block-kernel tiling bound,
NULL-key cogroup semantics, and the driver-collect guards."""

import struct

import pytest
from pyspark.sql import functions as F

from pigpen_spark.functions import similarity as S


def _rows_equal(a, b):
    return sorted(map(tuple, a)) == sorted(map(tuple, b))


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(400)
        .persist()
    )


class TestArrowPqCodes:
    """product_quantize's Arrow kernel must be BIT-identical to
    product_quantize_expr — same left-fold subspace distances, same
    first-minimal argmin, same left-associated sse and single final
    divide."""

    @pytest.fixture(scope="class")
    def adversarial(self, spark):
        import random

        rng = random.Random(909)
        rows = []
        for i in range(300):
            scale = 10.0 ** rng.randint(-12, 12)
            rows.append((i, [rng.uniform(-1, 1) * scale for _ in range(16)]))
        # exact duplicates of codebook seeds (ids 0..3): distance-0 ties
        for i in range(300, 308):
            rows.append((i, list(rows[i % 4][1])))
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>").persist()

    def test_codes_and_mse_bit_identical(self, adversarial):
        got = S.product_quantize(adversarial, dim=16, m=4, n_codes=4).collect()
        want = S.product_quantize_expr(adversarial, dim=16, m=4, n_codes=4).collect()
        gm = {r["id"]: (list(r["codes"]), r["mse"]) for r in got}
        wm = {r["id"]: (list(r["codes"]), r["mse"]) for r in want}
        assert set(gm) == set(wm)
        for i in gm:
            assert gm[i][0] == wm[i][0], f"id {i}: codes differ"
            assert struct.pack("<d", gm[i][1]) == struct.pack("<d", wm[i][1]), \
                f"id {i}: mse {gm[i][1]!r} != {wm[i][1]!r}"

    def test_trained_codebook_bit_identical(self, emb):
        cb = S.train_pq_codebook(emb, dim=64, m=8, n_codes=8, max_iter=2)
        got = S.product_quantize(emb, dim=64, m=8, n_codes=8, codebook=cb).collect()
        want = S.product_quantize_expr(emb, dim=64, m=8, n_codes=8, codebook=cb).collect()
        assert _rows_equal(
            [(r["id"], tuple(r["codes"]), struct.pack("<d", r["mse"])) for r in got],
            [(r["id"], tuple(r["codes"]), struct.pack("<d", r["mse"])) for r in want],
        )

    def test_null_vector_raises(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0] * 8), (1, None)], "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="product_quantize"):
            S.product_quantize(df, dim=8, m=2, n_codes=1).collect()

    def test_short_vector_raises(self, spark):
        df = spark.createDataFrame(
            [(0, [1.0] * 8), (1, [1.0] * 5)], "vec_id long, embedding array<double>")
        with pytest.raises(Exception, match="product_quantize"):
            S.product_quantize(df, dim=8, m=2, n_codes=1).collect()


class TestArrowPqAdc:
    """pq_adc_topk / ivf_pq_topk (Arrow + cogroup-ADC kernels) must
    return exactly the rows of their _expr references."""

    def test_pq_adc_matches_expr(self, emb):
        q = emb.filter(F.col("vec_id") < 10)
        got = S.pq_adc_topk(emb, q, k=5, dim=64).collect()
        want = S.pq_adc_topk_expr(emb, q, k=5, dim=64).collect()
        assert len(got) == 50 and _rows_equal(got, want)

    def test_pq_adc_trained_and_no_self_exclusion(self, emb):
        cb = S.train_pq_codebook(emb, dim=64, m=8, n_codes=8, max_iter=2)
        q = emb.filter(F.col("vec_id") < 6)
        got = S.pq_adc_topk(emb, q, k=3, dim=64, m=8, n_codes=8,
                            codebook=cb, exclude_self=False).collect()
        want = S.pq_adc_topk_expr(emb, q, k=3, dim=64, m=8, n_codes=8,
                                  codebook=cb, exclude_self=False).collect()
        assert _rows_equal(got, want)
        # self-pairs rank first at adist 0 when not excluded
        firsts = {r["n_id"] for r in got if r["rank"] == 1}
        assert firsts == {r["q_id"] for r in got if r["rank"] == 1}

    def test_ivf_pq_matches_expr(self, emb):
        q = emb.filter(F.col("vec_id") < 10)
        got = S.ivf_pq_topk(emb, q, k=5, dim=64).collect()
        want = S.ivf_pq_topk_expr(emb, q, k=5, dim=64).collect()
        assert len(got) == 50 and _rows_equal(got, want)

    def test_ivf_pq_trained_quantizers_match_expr(self, emb):
        cb = S.train_pq_codebook(emb, dim=64, m=8, n_codes=8, max_iter=2)
        cents = S.train_coarse_centroids(emb, n_centroids=8, max_iter=2)
        q = emb.filter(F.col("vec_id") < 6)
        got = S.ivf_pq_topk(emb, q, k=3, dim=64, m=8, n_codes=8, codebook=cb,
                            coarse_centroids=cents).collect()
        want = S.ivf_pq_topk_expr(emb, q, k=3, dim=64, m=8, n_codes=8, codebook=cb,
                                  coarse_centroids=cents).collect()
        assert _rows_equal(got, want)

    def test_max_queries_guard(self, emb):
        with pytest.raises(ValueError, match="max_queries"):
            S.pq_adc_topk(emb, emb, k=1, dim=64, max_queries=10)
        with pytest.raises(ValueError, match="max_queries"):
            S.brute_force_topk(emb, emb, k=1, max_queries=10)


class TestBlockTileBound:
    """The block kernels chunk the member side at _BLOCK_TILE elements
    per q×tile matrix — results must be invariant under any tile size
    (per-element fold order is untouched by tiling)."""

    def test_cogroup_and_intra_cell_invariant_under_tiny_tiles(
            self, emb, monkeypatch):
        big = S.lsh_topk(emb, k=5, n_planes=4, dim=64).collect()
        pairs_big = S.semantic_dedup(emb, threshold=0.4, n_centroids=4).collect()
        monkeypatch.setattr(S, "_BLOCK_TILE", 7)
        small = S.lsh_topk(emb, k=5, n_planes=4, dim=64).collect()
        pairs_small = S.semantic_dedup(emb, threshold=0.4, n_centroids=4).collect()
        assert _rows_equal(big, small)
        assert _rows_equal(pairs_big, pairs_small)

    def test_adc_cogroup_invariant_under_tiny_tiles(self, emb, monkeypatch):
        q = emb.filter(F.col("vec_id") < 10)
        big = S.ivf_pq_topk(emb, q, k=5, dim=64).collect()
        monkeypatch.setattr(S, "_BLOCK_TILE", 3)
        small = S.ivf_pq_topk(emb, q, k=5, dim=64).collect()
        assert _rows_equal(big, small)


class TestFullFitGuard:
    """ivf_topk_kmeans's train_fraction=1.0 instrument configuration must
    REFUSE above _FULL_FIT_CAP corpus vectors (the 100× corpus OOM'd the
    local JVM on the uncapped fit) unless explicitly forced."""

    def test_guard_fires_above_cap(self, emb, monkeypatch):
        monkeypatch.setattr(S, "_FULL_FIT_CAP", 100)
        with pytest.raises(ValueError, match="allow_full_fit"):
            S.ivf_topk_kmeans(emb, k=1, n_centroids=4)

    def test_allow_full_fit_forces_instrument(self, emb, monkeypatch):
        monkeypatch.setattr(S, "_FULL_FIT_CAP", 100)
        out = S.ivf_topk_kmeans(emb, k=1, n_centroids=4, max_iter=1,
                                allow_full_fit=True)
        assert out.count() > 0

    def test_capped_fraction_skips_guard(self, emb, monkeypatch):
        monkeypatch.setattr(S, "_FULL_FIT_CAP", 100)
        out = S.ivf_topk_kmeans(emb, k=1, n_centroids=4, max_iter=1,
                                train_fraction=0.3)
        assert out.count() > 0


class TestDiffQueriesDetectDefects:
    """The catalog_diff invariants must actually TRIP on a defect — a
    diff query that can't go red verifies nothing."""

    def test_flat_mismatch_counts_bit_differences(self):
        from pigpen_spark import catalog_diff as D
        assert D._flat_mismatch([[1.0, 2.0]], [[1.0, 2.0]]) == 0
        assert D._flat_mismatch([[1.0, 2.0]], [[1.0, 2.0 + 1e-15]]) == 1
        assert D._flat_mismatch([[1.0]], [[1.0, 2.0]]) >= 1
        assert D._flat_mismatch([[0.0]], [[-0.0]]) == 1   # bit, not ==

    def test_df_mismatch_catches_row_drift(self, spark):
        from pigpen_spark import catalog_diff as D
        a = spark.createDataFrame([(1, 2.0), (2, 3.0)], "id long, v double")
        b = spark.createDataFrame([(1, 2.0), (2, 3.5)], "id long, v double")
        assert D._df_mismatch(a, a) == 0
        assert D._df_mismatch(a, b) == 2

    def test_recon_fail_catches_lost_pieces(self, spark):
        from pigpen_spark import catalog_diff as D
        docs = spark.createDataFrame(
            [(1, "ab cd"), (2, "ef")], "doc_id long, text string")
        good = spark.createDataFrame(
            [(1, ["ab", "cd"]), (2, ["e", "f"])],
            "id long, pieces array<string>")
        bad = spark.createDataFrame(
            [(1, ["ab"]), (2, ["e", "f"])], "id long, pieces array<string>")
        assert D._recon_fail(good, docs, None) == 0
        assert D._recon_fail(bad, docs, None) == 1


class TestPqIndexLifecycle:
    """The PQ index-as-data seam: (codes, codebook) stored as plain
    parquet tables must serve bit-identically to inline coding, and
    appending a delta under the stored codebook must equal the rebuild
    with that codebook."""

    def test_parquet_round_trip_serving_matches_inline(self, emb, tmp_path):
        idx, cb_df = S.pq_index(emb, dim=64)
        idx.write.parquet(str(tmp_path / "codes"))
        cb_df.write.parquet(str(tmp_path / "cb"))
        spark = emb.sparkSession
        idx2 = spark.read.parquet(str(tmp_path / "codes"))
        cb2 = spark.read.parquet(str(tmp_path / "cb"))
        q = emb.filter(F.col("vec_id") < 8)
        served = S.pq_topk_against(idx2, cb2, q, k=4).collect()
        inline = S.pq_adc_topk(emb, q, k=4, dim=64).collect()
        assert len(served) == 32 and _rows_equal(served, inline)

    def test_append_equals_rebuild_with_frozen_codebook(self, emb):
        corpus = emb.filter(F.col("vec_id") >= 50)
        batch = emb.filter(F.col("vec_id") < 50)
        idx, cb_df = S.pq_index(corpus, dim=64)
        appended = S.pq_index_append(idx, cb_df, batch).collect()
        cb = S.stored_codebook(cb_df)
        rebuilt = S.product_quantize(emb, dim=64, codebook=cb) \
            .select("id", "codes").collect()
        assert _rows_equal(
            [(r["id"], tuple(r["codes"])) for r in appended],
            [(r["id"], tuple(r["codes"])) for r in rebuilt])

    def test_ivf_pq_artifact_round_trip_matches_inline(self, emb, tmp_path):
        lists, cb_df, cents_df = S.ivf_pq_index(emb, dim=64)
        lists.write.partitionBy("cell").parquet(str(tmp_path / "lists"))
        cb_df.write.parquet(str(tmp_path / "cb"))
        cents_df.write.parquet(str(tmp_path / "cents"))
        spark = emb.sparkSession
        q = emb.filter(F.col("vec_id") < 8)
        served = S.ivf_pq_topk_against(
            spark.read.parquet(str(tmp_path / "lists")),
            spark.read.parquet(str(tmp_path / "cb")),
            spark.read.parquet(str(tmp_path / "cents")),
            q, k=4).collect()
        inline = S.ivf_pq_topk(emb, q, k=4, dim=64).collect()
        assert len(served) == 32 and _rows_equal(served, inline)

    def test_ivf_pq_append_equals_rebuild_frozen_quantizers(self, emb):
        corpus = emb.filter(F.col("vec_id") >= 50)
        batch = emb.filter(F.col("vec_id") < 50)
        lists, cb_df, cents_df = S.ivf_pq_index(corpus, dim=64)
        appended = S.ivf_pq_index_append(lists, cb_df, cents_df, batch)
        cb = S.stored_codebook(cb_df)
        cents = [[float(x) for x in r["cent_vec"]]
                 for r in cents_df.orderBy("cent_id").collect()]
        rebuilt, _, _ = S.ivf_pq_index(emb, dim=64, codebook=cb,
                                       coarse_centroids=cents)

        # cell LABELS differ between the paths (default cells carry
        # corpus ids; passed-in centroids are enumerated 0..n-1) — the
        # invariant is the partition of ids into cells plus each id's
        # codes, both frozen-quantizer-pure
        def canon(rows):
            from collections import defaultdict
            cells, codes = defaultdict(set), {}
            for r in rows:
                cells[r["cell"]].add(r["id"])
                codes[r["id"]] = tuple(r["codes"])
            return sorted(tuple(sorted(v)) for v in cells.values()), codes

        assert canon(appended.collect()) == canon(rebuilt.collect())

    def test_trained_codebook_flows_through(self, emb):
        cb = S.train_pq_codebook(emb, dim=64, m=8, n_codes=8, max_iter=2)
        idx, cb_df = S.pq_index(emb, dim=64, m=8, n_codes=8, codebook=cb)
        assert S.stored_codebook(cb_df) == [[float(x) for x in c] for c in cb]
        assert S.stored_code_width(idx) == 8

    def test_empty_artifact_guards(self, spark, emb):
        empty_cb = spark.createDataFrame([], "code_id int, cb_vec array<double>")
        with pytest.raises(ValueError, match="empty codebook"):
            S.stored_codebook(empty_cb)
        empty_idx = spark.createDataFrame([], "id long, codes array<int>")
        with pytest.raises(ValueError, match="empty index"):
            S.stored_code_width(empty_idx)


class TestPqIndexStream:
    """Streaming PQ index maintenance: streamed codes == one-shot build
    under the seed codebook, and the stored artifacts serve queries."""

    def _vec(self, i):
        import hashlib
        return [(int(hashlib.md5(f"{i}_{d}".encode()).hexdigest()[:6],
                     16) % 1000) / 500.0 - 1.0 for d in range(8)]

    def test_streamed_equals_one_shot_and_serves(self, spark, tmp_path):
        import json as _json
        import os

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
        codes_path = str(tmp_path / "codes")
        cb_path = str(tmp_path / "cb")
        q = stc.pq_index_stream(
            stream, codes_path, cb_path, str(tmp_path / "ckpt"),
            m=4, n_codes=8, available_now=True)
        q.awaitTermination(120)

        streamed = spark.read.parquet(codes_path)
        cb_df = spark.read.parquet(cb_path)
        cb = S.stored_codebook(cb_df)
        # seed codebook = first 8 by id of BATCH 0 == first 8 of the union
        both = spark.createDataFrame(
            [(i, self._vec(i)) for i in range(70)],
            "vec_id long, embedding array<double>")
        rebuilt = S.product_quantize(both, dim=8, m=4, n_codes=8,
                                     codebook=cb).select("id", "codes")
        a = sorted((r["id"], tuple(r["codes"])) for r in streamed.collect())
        b = sorted((r["id"], tuple(r["codes"])) for r in rebuilt.collect())
        assert a == b and len(a) == 70
        # the streamed artifacts serve ADC queries directly
        queries = both.filter(F.col("vec_id") < 3)
        hits = S.pq_topk_against(streamed, cb_df, queries, k=3)
        assert hits.count() == 9


class TestMixPlan:
    """mix_plan: integer mixture worksheet — rates cap at the epoch
    limit, deficits appear exactly when the cap binds, drops and
    missing sources are explicit."""

    @pytest.fixture(scope="class")
    def corpus(self, spark):
        rows = [(i, "w " * 10, "a") for i in range(10)] \
            + [(i + 100, "w " * 10, "b") for i in range(40)] \
            + [(i + 200, "w " * 10, "c") for i in range(5)]
        return spark.createDataFrame(
            rows, "doc_id long, text string, source string").persist()

    def test_branches(self, corpus):
        from pigpen_spark.functions import pipeline as P
        # budget 600: a wants 300 (have 100 → capped at 2 epochs,
        # achieved 200, deficit 100); b wants 240 (have 400 → rate
        # 600000 ppm); ghost wants 60 but has nothing; c is dropped
        out = {r["source"]: r for r in P.mix_plan(
            corpus, "source", "text",
            {"a": 500_000, "b": 400_000, "ghost": 100_000},
            budget_tokens=600).collect()}
        assert out["a"]["rate_ppm"] == 2_000_000
        assert out["a"]["achieved_tokens"] == 200
        assert out["a"]["deficit_tokens"] == 100
        assert out["b"]["rate_ppm"] == 600_000
        assert out["b"]["deficit_tokens"] == 0
        assert out["ghost"]["have_tokens"] == 0
        assert out["ghost"]["rate_ppm"] == 0
        assert out["ghost"]["deficit_tokens"] == 60
        assert out["c"]["want_tokens"] == 0 and out["c"]["rate_ppm"] == 0

    def test_rates_feed_mix_by_weight(self, corpus):
        from pigpen_spark.functions import pipeline as P
        plan = {r["source"]: r["rate_ppm"] / 1e6 for r in P.mix_plan(
            corpus, "source", "text", {"a": 500_000, "b": 400_000},
            budget_tokens=600).collect()}
        mixed = P.mix_by_weight(corpus, "source", "doc_id", plan, default=0.0)
        per = {r["source"]: r["n"] for r in mixed.groupBy("source")
               .agg(F.count(F.lit(1)).alias("n")).collect()}
        assert per["a"] == 20            # exactly 2 epochs
        assert 0 < per.get("b", 0) <= 40  # fractional downsample
        assert "c" not in per             # dropped

    def test_over_allocation_raises(self, corpus):
        from pigpen_spark.functions import pipeline as P
        with pytest.raises(ValueError, match="over-allocate"):
            P.mix_plan(corpus, "source", "text",
                       {"a": 700_000, "b": 600_000}, budget_tokens=100)


class TestGenerateScript:
    """generate_script — the `generate-script` analog (reference:
    pigpen.pig/generate-script, pig.clj:28-86): the exported artifact
    must be a SELF-CONTAINED runnable script, carrying its oracle SQL."""

    def test_generated_script_runs_standalone(self, tmp_path):
        import subprocess
        import sys as _sys

        from pigpen_spark.plans.viz import generate_script

        src = generate_script("q1_groupby_fold")
        assert "def q1_groupby_fold" in src
        assert "DuckDB oracle" in src          # the cross-engine check rides along
        assert "@register" not in src          # standalone, not entry-surface
        p = tmp_path / "gen.py"
        p.write_text(src)
        out = subprocess.run([_sys.executable, str(p)], capture_output=True,
                             text=True, timeout=180, cwd=str(tmp_path))
        assert out.returncode == 0, out.stderr[-2000:]
        # TPC-H Q1 has 6 (returnflag, linestatus) groups at sf0.001
        assert out.stdout.count("|") > 0 and "sum_qty" in out.stdout

    def test_unknown_query_raises(self):
        import pytest as _pt

        from pigpen_spark.plans.viz import generate_script
        with _pt.raises(KeyError, match="unknown catalog query"):
            generate_script("no_such_query")


class TestUntestedCoverageRows:
    """Dedicated pins for the three rows COVERAGE.md marked '—'
    (VERDICT r8 #7): load_lazy, dump_lazy, set_options."""

    def test_load_lazy_reads_tsv(self, spark, tmp_path):
        from pigpen_spark.sources import io as pio
        p = tmp_path / "lazy.tsv"
        p.write_text("a\t1\nb\t2\n")
        rel = pio.load_lazy(spark, str(p))
        # load-tsv contract: one vector-of-strings column per line
        rows = sorted(tuple(r["value"]) for r in rel.collect())
        assert rows == [("a", "1"), ("b", "2")]

    def test_dump_lazy_is_backpressured_iterator(self, spark):
        from pigpen_spark.relation import Relation
        rel = Relation(spark.range(10).selectExpr("id"))
        it = rel.dump_lazy()
        # an iterator, not a materialized list — pull two, stop early
        first = next(it)
        second = next(it)
        assert first["id"] != second["id"]
        assert sorted(r["id"] for r in [first, second]
                      + list(it)) == list(range(10))

    def test_set_options_round_trip(self, spark):
        from pigpen_spark.session import set_options
        old = spark.conf.get("spark.sql.shuffle.partitions")
        try:
            set_options(spark, {"spark.sql.shuffle.partitions": "7"})
            assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        finally:
            set_options(spark, {"spark.sql.shuffle.partitions": old})
        assert spark.conf.get("spark.sql.shuffle.partitions") == old


class TestCogroupNullKey:
    """NULL keys must be DROPPED on both cogroup sides (the equi-join
    semantics of the join form the kernel replaced) — NULL-bucket probes
    never score against NULL-bucket members."""

    def test_null_keys_dropped(self, spark):
        probes = spark.createDataFrame(
            [(None, 1, [1.0, 0.0], 1.0), ("b", 2, [1.0, 0.0], 1.0)],
            "bucket string, q_id long, q_vec array<double>, q_nrm double")
        members = spark.createDataFrame(
            [(None, 10, [1.0, 0.0], 1.0), ("b", 20, [0.0, 1.0], 1.0)],
            "bucket string, id long, vec array<double>, nrm double")
        out = S._cogroup_scored(probes, members, "bucket").collect()
        assert [(r["q_id"], r["n_id"]) for r in out] == [(2, 20)]

    def test_null_vec_raises_loudly(self, spark):
        probes = spark.createDataFrame(
            [("b", 1, None, 1.0)],
            "bucket string, q_id long, q_vec array<double>, q_nrm double")
        members = spark.createDataFrame(
            [("b", 20, [0.0, 1.0], 1.0)],
            "bucket string, id long, vec array<double>, nrm double")
        with pytest.raises(Exception, match="NULL vector"):
            S._cogroup_scored(probes, members, "bucket").collect()
