"""map/mapcat/filter/sort/take/sample + Python-op fusion + set ops + folds.

Mirrors the reference's map_test.clj / filter_test.clj / set_test.clj /
fold_test.clj corpora (FIXTURES.md §2-4).
"""

import pytest
from pyspark.sql import functions as F

from pigpen_spark import fold
from pigpen_spark.relation import return_


def vals(rel, col="x"):
    return sorted(r[col] for r in rel.df.collect())


class TestMapFilter:
    def test_map_expr(self, spark):
        r = return_(spark, [(1, 2), (2, 4)], "x long, y long")
        out = r.map(s=F.col("x") + F.col("y"))
        assert vals(out, "s") == [3, 6]

    def test_mapcat_explode(self, spark):
        r = return_(spark, [(1,), (2,)], "x long")
        out = r.mapcat(F.array(F.col("x"), F.col("x") * 10), alias="v")
        assert vals(out, "v") == [1, 2, 10, 20]

    def test_filter_remove(self, spark):
        r = return_(spark, [(i,) for i in range(10)], "x long")
        assert vals(r.filter(F.col("x") % 2 == 0)) == [0, 2, 4, 6, 8]
        assert vals(r.remove(F.col("x") % 2 == 0)) == [1, 3, 5, 7, 9]

    def test_nil_preserved(self, spark):
        # map_test.clj:141-159 — nil values flow through untouched
        r = return_(spark, [(None,), (1,)], "x long")
        out = r.map(y=F.col("x"))
        assert [r["y"] for r in out.df.collect()] in ([None, 1], [1, None])


class TestPyFusion:
    def test_map_py_chain_fuses(self, spark):
        # optimize-binds analog (oven.clj:189-248): 3 python ops → ONE
        # mapInPandas node in the plan
        r = return_(spark, [(i,) for i in range(10)], "x long")
        out = (
            r.map_py(lambda row: {"x": row["x"] + 1})
            .filter_py(lambda row: row["x"] % 2 == 0)
            .map_py(lambda row: {"x": row["x"] * 10})
        )
        assert vals(out) == [20, 40, 60, 80, 100]
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("MapInPandas") == 1

    def test_mapcat_py(self, spark):
        r = return_(spark, [(1,), (2,)], "x long")
        out = r.mapcat_py(lambda row: [{"x": row["x"]}, {"x": row["x"] * 100}])
        assert vals(out) == [1, 2, 100, 200]

    def test_map_py_schema_change(self, spark):
        r = return_(spark, [(1,), (2,)], "x long")
        out = r.map_py(lambda row: {"y": str(row["x"])}, schema="y string")
        assert vals(out, "y") == ["1", "2"]


class TestSortTakeSample:
    def test_sort_dups(self, spark):
        # map_test.clj:109-117 — sort with duplicates, asc + desc
        r = return_(spark, [(2,), (1,), (4,), (3,), (2,)], "x long")
        assert [row["x"] for row in r.sort("x").df.collect()] == [1, 2, 2, 3, 4]
        assert [row["x"] for row in r.sort(F.col("x").desc()).df.collect()] == [4, 3, 2, 2, 1]

    def test_sort_by_key_consumed(self, spark):
        # raw.clj:340-355 — sort key removed from output
        r = return_(spark, [(2, "b"), (1, "a")], "x long, s string")
        out = r.sort_by(F.col("x") * -1)
        assert out.columns == ["x", "s"]
        assert [row["s"] for row in out.df.collect()] == ["b", "a"]

    def test_take(self, spark):
        r = return_(spark, [(i,) for i in range(10)], "x long")
        assert len(r.take(3).df.collect()) == 3

    def test_sample_statistical(self, spark):
        # filter_test.clj:56-64 — 1000 rows at p=0.5 → 400 < n < 600
        r = return_(spark, [(i,) for i in range(1000)], "x long")
        n = r.sample(0.5, seed=7).count()
        assert 400 < n < 600

    def test_map_indexed_sorted(self, spark):
        # map_test.clj:48-67 — sort-by then map-indexed → dense 0-based
        r = return_(spark, [(3,), (1,), (2,)], "x long")
        out = r.map_indexed(order_by=["x"])
        assert [(row["x"], row["index"]) for row in out.df.collect()] == [(1, 0), (2, 1), (3, 2)]

    def test_map_indexed_dense_unordered(self, spark):
        # unordered dense: a 0..n-1 permutation across many partitions,
        # produced columnar (no RDD round-trip through Python; the plan
        # scans the frozen id tagging, a JVM-side local checkpoint)
        from pigpen_spark.relation import Relation

        r = Relation(spark.range(100).select(F.col("id").alias("x")).repartition(7))
        out = r.map_indexed()
        assert "PythonRDD" not in out.df._jdf.queryExecution().toRdd().toDebugString()
        rows = out.df.collect()
        assert sorted(row["index"] for row in rows) == list(range(100))
        assert len({row["x"] for row in rows}) == 100

    def test_map_indexed_dense_empty(self, spark):
        r = return_(spark, [], "x long")
        assert r.map_indexed().df.collect() == []


class TestClosureCapture:
    """reference: functional/code_test.clj:26-56 — user fns capture local
    bindings; PigPen inlines them via `trap`, we get it from cloudpickle."""

    def test_map_py_captures_locals(self, spark):
        factor = 7
        offset = [100]  # mutable capture
        r = return_(spark, [(1,), (2,)], "x long")
        out = r.map_py(lambda row: {"x": row["x"] * factor + offset[0]})
        assert sorted(x["x"] for x in out.df.collect()) == [107, 114]

    def test_filter_py_captures_set(self, spark):
        keep = {2, 4}
        r = return_(spark, [(i,) for i in range(6)], "x long")
        out = r.filter_py(lambda row: row["x"] in keep)
        assert sorted(x["x"] for x in out.df.collect()) == [2, 4]

    def test_nested_function_capture(self, spark):
        def make_adder(n):
            return lambda row: {"x": row["x"] + n}
        r = return_(spark, [(1,)], "x long")
        out = r.map_py(make_adder(41))
        assert out.df.collect()[0]["x"] == 42

    def test_loop_var_capture_in_comprehension(self, spark):
        # code_test.clj:45-56 test-for — relations built in a loop with a
        # captured loop var, then concat'd.  Python's late-binding lambda
        # trap applies here: bind the loop var per-iteration (factory or
        # default arg), exactly as any Python closure over a loop requires.
        base = return_(spark, [(1,), (2,), (3,)], "x long")
        rels = [base.map_py(lambda row, x=x: {"x": x + row["x"]}) for x in [1, 2, 3]]
        out = rels[0].concat(*rels[1:])
        assert sorted(r["x"] for r in out.df.collect()) == [2, 3, 3, 4, 4, 4, 5, 5, 6]


class TestSetOps:
    # set_test.clj:25-122 semantics (FIXTURES.md §3)
    def setup_rels(self, spark):
        ms1 = return_(spark, [(1,), (2,), (3,), (3,)], "x long")
        ms2 = return_(spark, [(3,), (2,), (3,), (4,), (3,)], "x long")
        return ms1, ms2

    def test_concat(self, spark):
        ms1, ms2 = self.setup_rels(spark)
        assert vals(ms1.concat(ms2)) == [1, 2, 2, 3, 3, 3, 3, 3, 4]

    def test_union(self, spark):
        ms1, ms2 = self.setup_rels(spark)
        assert vals(ms1.union(ms2)) == [1, 2, 3, 4]

    def test_intersection(self, spark):
        ms1, ms2 = self.setup_rels(spark)
        assert vals(ms1.intersection(ms2)) == [2, 3]

    def test_intersection_multiset(self, spark):
        ms1, ms2 = self.setup_rels(spark)
        assert vals(ms1.intersection_multiset(ms2)) == [2, 3, 3]

    def test_difference(self, spark):
        ms1, ms2 = self.setup_rels(spark)
        assert vals(ms1.difference(ms2)) == [1]

    def test_difference_multiset(self, spark):
        ms1, ms2 = self.setup_rels(spark)
        # [1,2,3,3] minus [3,2,3,4,3] → [1]
        assert vals(ms1.difference_multiset(ms2)) == [1]
        # [3,2,3,4,3] minus [1,2,3,3] → [3,4]
        assert vals(ms2.difference_multiset(ms1)) == [3, 4]

    def test_distinct(self, spark):
        r = return_(spark, [(x,) for x in [5, 1, 2, 3, 4, 3, 2, 1, 5]], "x long")
        assert vals(r.distinct()) == [1, 2, 3, 4, 5]


class TestSetOpsTernary:
    """Exact mirrors of the reference's 3-input set tests
    (set_test.clj:36-122)."""

    def test_concat_3(self, spark):
        d1, d2, d3 = (return_(spark, [(x,) for x in xs], "x long")
                      for xs in ([1, 2, 3], [2, 3, 4], [3, 4, 5]))
        assert vals(d1.concat(d2, d3)) == [1, 2, 2, 3, 3, 3, 4, 4, 5]

    def test_union_3(self, spark):
        d1, d2, d3 = (return_(spark, [(x,) for x in xs], "x long")
                      for xs in ([1, 2, 3], [2, 3, 4], [3, 4, 5]))
        assert vals(d1.union(d2, d3)) == [1, 2, 3, 4, 5]

    def test_intersection_3(self, spark):
        d1, d2, d3 = (return_(spark, [(x,) for x in xs], "x long")
                      for xs in ([1, 2, 3, 3], [3, 2, 3, 4, 3], [3, 4, 3, 5, 2]))
        assert vals(d1.intersection(d2, d3)) == [2, 3]

    def test_intersection_multiset_3(self, spark):
        d1, d2, d3 = (return_(spark, [(x,) for x in xs], "x long")
                      for xs in ([1, 2, 3, 3], [3, 2, 3, 4, 3], [3, 4, 3, 5, 2]))
        assert vals(d1.intersection_multiset(d2, d3)) == [2, 3, 3]

    def test_difference_3(self, spark):
        d1, d2, d3 = (return_(spark, [(x,) for x in xs], "x long")
                      for xs in ([1, 2, 3, 3, 3, 4, 5], [1, 2], [4, 5]))
        assert vals(d1.difference(d2, d3)) == [3]

    def test_difference_multiset_3(self, spark):
        d1, d2, d3 = (return_(spark, [(x,) for x in xs], "x long")
                      for xs in ([1, 2, 3, 3, 3, 4, 5], [1, 2, 3], [3, 4, 5]))
        assert vals(d1.difference_multiset(d2, d3)) == [3]


class TestFoldPipelines:
    """fold pre/post stage composition (fold_test.clj:26-130): pre-stages
    are column expressions, post-stages wrap the aggregate."""

    def test_premap_sum_of_squares(self, spark):
        r = return_(spark, [(1,), (2,), (3,)], "x long")
        out = r.reduce_rel(ss=fold.Fold(F.sum(F.col("x") * F.col("x"))))
        assert out.df.collect()[0]["ss"] == 14

    def test_prefilter_then_count(self, spark):
        r = return_(spark, [(i,) for i in range(10)], "x long")
        out = r.reduce_rel(n=fold.Fold(F.count(F.when(F.col("x") % 2 == 0, 1))))
        assert out.df.collect()[0]["n"] == 5

    def test_sort_take_post(self, spark):
        # (->> (fold/sort) (fold/take 3)) — sorted bag then slice
        r = return_(spark, [(x,) for x in [5, 3, 1, 4, 2]], "x long")
        out = r.reduce_rel(t=fold.vec("x", sort=True).post(lambda c: F.slice(c, 1, 3)))
        assert out.df.collect()[0]["t"] == [1, 2, 3]

    def test_first_last_folds(self, spark):
        r = return_(spark, [(x,) for x in [5, 3, 1]], "x long")
        out = r.reduce_rel(f=fold.first("x"), l=fold.last("x"))
        [row] = out.df.collect()
        assert (row["f"], row["l"]) == (1, 5)


class TestFolds:
    def test_reduce_empty_is_empty(self, spark):
        # join.clj:262-268 — empty input → empty output
        r = return_(spark, [(1,)], "x long").filter(F.lit(False))
        out = r.reduce_rel(s=fold.sum_("x"))
        assert out.df.collect() == []

    def test_reduce_nonempty(self, spark):
        r = return_(spark, [(1,), (2,), (3,)], "x long")
        out = r.reduce_rel(s=fold.sum_("x"), n=fold.count())
        [row] = out.df.collect()
        assert (row["s"], row["n"]) == (6, 3)

    def test_juxt_one_pass(self, spark):
        # fold.clj:262-296 — N folds over same data in one agg
        r = return_(spark, [("a", 1), ("a", 5), ("b", 2)], "k string, v long")
        out = r.group_by("k").fold(*[f.alias(n) for f, n in [
            (fold.sum_("v"), "s"), (fold.min_("v"), "mn"), (fold.max_("v"), "mx"), (fold.avg("v"), "a")]])
        rows = {row["k"]: (row["s"], row["mn"], row["mx"], row["a"]) for row in out.df.collect()}
        assert rows == {"a": (6, 1, 5, 3.0), "b": (2, 2, 2, 2.0)}

    def test_top_and_top_by(self, spark):
        r = return_(spark, [("a", 1), ("a", 5), ("a", 3), ("b", 2)], "k string, v long")
        out = r.group_by("k").fold(t=fold.top("v", 2))
        rows = {row["k"]: row["t"] for row in out.df.collect()}
        assert rows == {"a": [5, 3], "b": [2]}

    def test_min_key_max_key(self, spark):
        r = return_(spark, [("a", 1, 10), ("a", 5, 50), ("b", 2, 20)], "k string, w long, v long")
        out = r.group_by("k").fold(mk=fold.max_key("w", "v"), nk=fold.min_key("w", "v"))
        rows = {row["k"]: (row["mk"], row["nk"]) for row in out.df.collect()}
        assert rows == {"a": (50, 10), "b": (20, 20)}

    def test_min_max_with_comparator(self, spark):
        # fold_test.clj comparator cases: min/max under a custom compare fn
        # — here "by string length, then alphabetical"
        r = return_(spark, [("a", "ccc"), ("a", "bb"), ("a", "dd"), ("b", "e")], "k string, v string")
        out = r.group_by("k").fold(
            shortest=fold.min_with("v", F.length(F.col("v")), F.col("v")),
            longest=fold.max_with("v", F.length(F.col("v")), F.col("v")),
        )
        rows = {row["k"]: (row["shortest"], row["longest"]) for row in out.df.collect()}
        assert rows == {"a": ("bb", "ccc"), "b": ("e", "e")}
        # no keys → degenerates to the natural-ordering fold
        nat = r.group_by("k").fold(m=fold.min_with("v"))
        assert {row["k"]: row["m"] for row in nat.df.collect()} == {"a": "bb", "b": "e"}

    def test_vec_distinct_folds(self, spark):
        r = return_(spark, [("a", 3), ("a", 1), ("a", 3)], "k string, v long")
        out = r.group_by("k").fold(bag=fold.vec("v", sort=True), ds=fold.distinct("v"))
        [row] = out.df.collect()
        assert row["bag"] == [1, 3, 3] and row["ds"] == [1, 3]

    def test_fold_py_partial_agg(self, spark):
        # arbitrary python fold with map-side partials: Arrow-batched
        # mapInPandas partials merged per key in applyInPandas
        r = return_(spark, [("a", 1), ("a", 2), ("b", 3)], "k string, v long")
        out = r.group_by("k").fold_py(
            zero=0,
            seq_op=lambda acc, row: acc + row["v"] * row["v"],
            comb_op=lambda a, b: a + b,
            finish=str,
            key_names=["k"],
        )
        rows = {row["k"]: row["value"] for row in out.df.collect()}
        assert rows == {"a": "5", "b": "9"}

    def test_fold_py_arrow_mutable_zero(self, spark):
        # the shared zero must be deep-copied per key (mutable accumulators)
        r = return_(spark, [("a", 1), ("a", 2), ("b", 3)], "k string, v long")

        def seq(acc, row):
            acc.append(int(row["v"]))
            return acc

        out = r.group_by("k").fold_py(
            zero=[], seq_op=seq, comb_op=lambda a, b: sorted(a + b),
            finish=lambda a: ",".join(map(str, sorted(a))), key_names=["k"],
        )
        rows = {row["k"]: row["value"] for row in out.df.collect()}
        assert rows == {"a": "1,2", "b": "3"}

    def test_fold_py_empty_input(self, spark):
        r = return_(spark, [("a", 1)], "k string, v long").filter(F.lit(False))
        out = r.group_by("k").fold_py(
            zero=0, seq_op=lambda a, row: a, comb_op=lambda a, b: a, key_names=["k"],
        )
        assert out.df.collect() == []
