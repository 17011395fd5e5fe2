"""Round-11 optimization pins, and the two-phase offset contract.

The r10 regression root-cause and its guard rails (the sampled rank
forms named here have since been replaced by the derived-bucket
`_dense_rank_via` forms, which the same consistency pins now cover):

- the sampled two-phase rank tagged rows with `spark_partition_id()`
  under a persist, and the offsets pass + output pass were assumed to
  read the same cache.  When the output is consumed through a SELF-JOIN
  (the distinct-then-join-back rank), the analyzer's relation
  deduplication re-assigns the subtree's expression ids, the cache
  lookup misses, and the range exchange re-samples its boundaries with
  the offsets frozen from the first sampling — nondeterministically
  collapsed ranks (the r10 red invariance pin).  The fix freezes the
  tagged frame in a registered non-eager localCheckpoint, which the
  offsets collect materializes.  `ranked`, `Relation.map_indexed` and
  `take_budget` freeze their tagging the same way, and all of them share
  one offset primitive, `windows.partition_offsets`.
- Checkpoint blocks are freed deterministically through the one cache
  registry (`cache.hold`, `with cache.scope():`, `free_ckpt`) instead of
  the no-op `DataFrame.unpersist()` on checkpoint-backed frames.
"""

import pytest
from pyspark.sql import functions as F


class TestDenseRankSelfJoinConsistency:
    """The exact r10 failure shape, on the surviving derived-bucket rank
    forms: rank, consume the ranks through a SELF-JOIN and again after
    ``clearCache()``, and REPEAT — every materialization must agree with
    the single-threaded ground truth."""

    def _paired(self, spark, n=5000, seed=7):
        import random
        rng = random.Random(seed)
        rows = [(i, rng.randrange(0, 97), rng.randrange(0, 89),
                 rng.randrange(0, 83), rng.randrange(0, 79))
                for i in range(n)]
        return spark.createDataFrame(
            rows, "pos long, r0 long, r1 long, r2 long, r3 long")

    @staticmethod
    def _check(spark, out, truth):
        """Ranks read through a self-join (each pos with its successor's
        rank), then again after clearCache(), must equal ``truth``."""
        nxt = out.select((F.col("pos") - 1).alias("pos"),
                         F.col("rank").alias("nrank"))
        for _ in range(2):
            got = {r.pos: (r.rank, r.nrank) for r in
                   out.join(nxt, "pos", "left").collect()}
            assert len(got) == len(truth)
            bad = [(p, rk) for p, rk in got.items()
                   if rk != (truth[p], truth.get(p + 1))]
            assert not bad, f"{len(bad)} wrong ranks, first {bad[:3]}"
            spark.catalog.clearCache()

    def test_join_back_matches_ground_truth_repeatedly(self, spark):
        from pigpen_spark import cache
        from pigpen_spark.functions import suffix as X
        cols = ["r0", "r1", "r2", "r3"]
        df = self._paired(spark)
        base = df.collect()
        tuples = sorted(set((r.r0, r.r1, r.r2, r.r3) for r in base))
        rank_of = {t: i for i, t in enumerate(tuples)}
        truth = {r.pos: rank_of[(r.r0, r.r1, r.r2, r.r3)] for r in base}
        for _ in range(3):
            with cache.scope():
                out, total = X._dense_rank_bucketed(df, cols, 97)
                assert total == len(tuples)
                self._check(spark, out, truth)

    def test_dense_rank_tagged_frame_is_checkpoint_backed(self, spark):
        """The round-0 symbol rank must come back as an ExistingRDD (a
        persist alone is what made the r10 join-back nondeterministic)
        and survive a self-join and clearCache()."""
        from pigpen_spark import cache
        from pigpen_spark.functions import suffix as X
        syms = spark.range(2000).select(
            F.col("id").alias("pos"),
            ((F.col("id") * 7919) % 50 * 85_000_000 - 3).alias("sym"))
        base = syms.collect()
        order = sorted(set(r.sym for r in base))
        truth = {r.pos: order.index(r.sym) for r in base}
        with cache.scope():
            out, total = X._dense_rank_sym(syms)
            assert total == 50
            plan = out._jdf.queryExecution().analyzed().toString()
            assert "LogicalRDD" in plan or "ExistingRDD" in plan
            self._check(spark, out, truth)


class TestSuffixCheckpointRelease:
    """VERDICT r10 #2/#8: rank-table checkpoint blocks must be freed
    deterministically after maximal_repeats — unpersist() on the derived
    selects was a no-op and ~log(L) corpus-sized tables lingered."""

    def _persistent_rdd_count(self, spark):
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def test_blocks_released_after_build(self, spark):
        from pigpen_spark.functions import suffix as X
        docs = (spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(80))
        before = self._persistent_rdd_count(spark)
        reps = X.maximal_repeats(docs, "doc_id", "text", min_len=6)
        rows = reps.collect()
        assert len(rows) > 0
        after = self._persistent_rdd_count(spark)
        # survivors: pack_positions' toks + positions persists and the
        # final descent checkpoint the returned plan still reads.  The
        # ~5 round-table checkpoints + rank-internal tagged checkpoints
        # + superseded descent levels must all be gone (pre-fix this
        # delta measured >10).
        assert after - before <= 5, (before, after)

    def test_two_builds_do_not_accumulate_round_tables(self, spark):
        from pigpen_spark.functions import suffix as X
        from pigpen_spark import cache as _cache
        docs = (spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(80))
        X.maximal_repeats(docs, "doc_id", "text", min_len=6).collect()
        mid = self._persistent_rdd_count(spark)
        X.maximal_repeats(docs, "doc_id", "text", min_len=6).collect()
        after = self._persistent_rdd_count(spark)
        # each run may add its survivors (2 persists + 1 descent ckpt)
        # but never a round's worth of rank tables
        assert after - mid <= 5, (mid, after)


class TestPackPositionsSparseIds:
    """ADVICE r10: derived doc_id buckets assume roughly dense ids —
    sparse/clustered ids must fall back to a sampled range partition
    instead of landing everything in one window partition."""

    def test_sparse_ids_same_repeats(self, spark):
        from pigpen_spark.functions import suffix as X
        docs = (spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(30))
        dense = sorted(map(tuple, X.maximal_repeats(
            docs, "doc_id", "text", min_len=6).collect()))
        k = 1 << 45  # span >> 4096 * n_docs → sampled-range fallback
        sparse_docs = docs.select(
            (F.col("doc_id") * k).alias("doc_id"), "text")
        sparse = sorted(map(tuple, X.maximal_repeats(
            sparse_docs, "doc_id", "text", min_len=6).collect()))
        assert len(dense) > 0
        remapped = sorted((a * k, oa, b * k, ob, ln)
                          for a, oa, b, ob, ln in dense)
        assert remapped == sparse

    def test_sparse_positions_are_dense_permutation(self, spark):
        from pigpen_spark.functions import suffix as X
        docs = (spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(20)
            .select((F.col("doc_id") * (1 << 45)).alias("doc_id"), "text"))
        pos = X.pack_positions(docs, "doc_id", "text")
        rows = pos.select("pos").collect()
        got = sorted(r["pos"] for r in rows)
        assert got == list(range(len(rows)))


class TestOffsetExprMixedKeys:
    """ADVICE r10: the sparse create_map fallback must cast key literals
    uniformly — mixed int/long keys are an AnalysisException."""

    def test_mixed_small_and_huge_bucket_ids(self, spark):
        from pigpen_spark.operators.windows import partition_offsets
        counts = {-(1 << 40): 3, 5: 2, (1 << 40) + 7: 4}
        df = spark.createDataFrame(
            [(b,) for b, c in counts.items() for _ in range(c)], "b long")
        expr, total = partition_offsets(df, "b")
        assert total == 9
        got = {r["b"]: r["o"] for r in df.select(
            "b", expr.alias("o")).distinct().collect()}
        assert got == {-(1 << 40): 0, 5: 3, (1 << 40) + 7: 5}


class TestSuffixIntegerBlockIds:
    """Suffix-array block and bucket ids are integral DIV, exact past
    2^53 — a double ``(x - x % d) / d`` returns ...976 for (2^62+7) / 4."""

    def test_int_div_matches_python_truncating_division(self, spark):
        from pigpen_spark.functions.suffix import _int_div
        xs = [(1 << 62) + 7, -((1 << 62) + 7), -5, -8, -1, 0, 7]
        df = spark.createDataFrame([(x,) for x in xs], "x long")
        for d in (4, 3, 1 << 20):
            out = df.select("x", _int_div(F.col("x"), d).alias("q"))
            assert dict(out.dtypes)["q"] == "bigint"
            want = {x: (abs(x) // d) * (1 if x >= 0 else -1) for x in xs}
            assert {r["x"]: r["q"] for r in out.collect()} == want


class TestTwoPhaseOffsetsFrozen:
    """Results never depend on a cache being hit or kept: every operator
    built on `partition_offsets` must give the ground truth when its
    output is consumed through a self-join (relation dedup re-assigns
    expression ids, so a persist-based tagging would miss its cache), and
    again when `clearCache()` runs between build and collect."""

    N = 600

    def _rows(self):
        import random
        rng = random.Random(11)
        return [(i, rng.randrange(0, 50), rng.randrange(1, 9))
                for i in range(self.N)]

    def _build(self, spark, op, rows):
        from pigpen_spark.operators.windows import ranked, take_budget
        from pigpen_spark.relation import Relation
        df = spark.createDataFrame(rows, "id long, k long, sz long") \
            .repartition(5)
        order = [F.col("k"), F.col("id")]
        if op == "ranked":
            return ranked(df, order).select("id", F.col("index").alias("v"))
        if op == "map_indexed":
            return Relation(df).map_indexed().df \
                .select("id", F.col("index").alias("v"))
        return take_budget(df, order, "sz", 700) \
            .select("id", F.col("cum_size").alias("v"))

    def _truth(self, op, rows):
        by_key = sorted(rows, key=lambda r: (r[1], r[0]))
        if op == "ranked":
            return {r[0]: i for i, r in enumerate(by_key)}
        if op == "map_indexed":
            return None  # any 0..n-1 permutation, identical on both sides
        out, cum = {}, 0
        for i, _, sz in by_key:
            if cum >= 700:
                break
            cum += sz
            out[i] = cum
        return out

    def _check(self, op, rows, out):
        a, b = out.alias("a"), out.alias("b")
        got = a.join(b, F.col("a.id") == F.col("b.id")).select(
            F.col("a.id").alias("id"), F.col("a.v").alias("va"),
            F.col("b.v").alias("vb")).collect()
        assert all(r["va"] == r["vb"] for r in got)
        truth = self._truth(op, rows)
        if truth is None:
            assert sorted(r["va"] for r in got) == list(range(len(rows)))
            assert len({r["id"] for r in got}) == len(rows)
        else:
            assert {r["id"]: r["va"] for r in got} == truth

    @pytest.mark.parametrize("op", ["ranked", "map_indexed", "take_budget"])
    def test_self_join_matches_ground_truth(self, spark, op):
        rows = self._rows()
        self._check(op, rows, self._build(spark, op, rows))
        out = self._build(spark, op, rows)
        spark.catalog.clearCache()
        self._check(op, rows, out)


class TestWinnowDfCutEquivalence:
    """r11: the max_df cut is now a count window over the fp
    partitioning instead of a groupBy + join-back (which re-executed the
    shingle scan per consumer).  Survivors must be identical."""

    def test_window_cut_matches_join_back(self, spark):
        from pigpen_spark.functions import dedup as D
        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet").limit(60)
        got = sorted(map(tuple, D.winnow_overlap_pairs(
            docs, "doc_id", "text", shingle_n=3, w=4,
            min_shared=2, max_df=10).collect()))
        # reference: the pre-r11 join-back form, inlined
        th = docs.select(F.col("doc_id").alias("id"),
                         D.token_hashes(F.col("text")).alias("th"))
        hs = th.select("id", D.shingle_hashes(F.col("th"), 3).alias("hs"))
        fp = hs.select("id", F.explode(
            D.winnow_fingerprints(F.col("hs"), 4)).alias("fp")).distinct()
        keep = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("__df")) \
            .filter(F.col("__df") <= 10).select("fp")
        fp = fp.join(keep, on="fp")
        sizes = fp.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
        a = fp.select(F.col("id").alias("id_a"), "fp")
        b = fp.select(F.col("id").alias("id_b"), "fp")
        pairs = (a.join(b, on="fp").filter(F.col("id_a") < F.col("id_b"))
                 .groupBy("id_a", "id_b")
                 .agg(F.count(F.lit(1)).alias("shared"))
                 .filter(F.col("shared") >= 2))
        ref = sorted(map(tuple, pairs
                     .join(sizes.withColumnsRenamed(
                         {"id": "id_a", "n_fp": "n_a"}), on="id_a")
                     .join(sizes.withColumnsRenamed(
                         {"id": "id_b", "n_fp": "n_b"}), on="id_b")
                     .select("id_a", "id_b", "shared",
                             F.expr("shared * 1000000 DIV least(n_a, n_b)")
                             .alias("containment_ppm")).collect()))
        assert len(got) > 0
        assert got == ref


class TestCommonNeighborAdjFromEdgeList:
    """r11: the anti-join adjacency is derived from the persisted
    symmetric edge list (e filtered to src < dst) instead of re-running
    the candidate generator — results must match brute force."""

    def test_matches_brute_force(self, spark):
        from itertools import combinations

        from pigpen_spark.functions import dedup as D
        import random
        rng = random.Random(11)
        pairs = sorted(set(tuple(sorted(rng.sample(range(40), 2)))
                           for _ in range(120)))
        df = spark.createDataFrame(pairs, "id_a long, id_b long")
        got = sorted(map(tuple, D.common_neighbor_pairs(
            df, min_common=2, max_degree=8).collect()))
        # brute force
        adj: dict[int, set[int]] = {}
        for x, y in pairs:
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        deg = {n: len(s) for n, s in adj.items()}
        from collections import Counter
        common = Counter()
        for c, nbrs in adj.items():
            if deg[c] <= 8:
                for a, b in combinations(sorted(nbrs), 2):
                    common[(a, b)] += 1
        exp = []
        edge = set(pairs)
        for (a, b), k in common.items():
            if k >= 2 and (a, b) not in edge:
                exp.append((a, b, k, deg[a], deg[b],
                            k * 10**6 // (deg[a] + deg[b] - k)))
        assert got == sorted(exp)
        assert len(got) > 0
