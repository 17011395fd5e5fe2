"""into / reduce_py / join_multi / debug_tee / bucketed storage / hadoop bridge."""

import pytest
from pyspark.sql import functions as F

from pigpen_spark.relation import return_
from pigpen_spark.session import set_options
from pigpen_spark.sources import io as pio


def test_into_sorted(spark):
    r = return_(spark, [(3,), (1,), (2,)], "x long")
    [row] = r.into(F.col("x")).df.collect()
    assert row["value"] == [1, 2, 3]


def test_into_empty_is_empty(spark):
    r = return_(spark, [(1,)], "x long").filter(F.lit(False))
    assert r.into(F.col("x")).df.collect() == []


def test_reduce_py_tree_aggregate(spark):
    r = return_(spark, [(i,) for i in range(1, 101)], "x long")
    out = r.reduce_py(
        zero=0,
        seq_op=lambda acc, row: acc + row["x"],
        comb_op=lambda a, b: a + b,
        finish=str,
    )
    [row] = out.df.collect()
    assert row["value"] == "5050"


def test_reduce_py_empty(spark):
    r = return_(spark, [(1,)], "x long").filter(F.lit(False))
    assert r.reduce_py(0, lambda a, r_: a, lambda a, b: a).df.collect() == []


def test_join_multi_required_optional(spark):
    a = return_(spark, [("k1", 1), ("k2", 2)], "k string, a long")
    b = return_(spark, [("k1", 10), ("k3", 30)], "kb string, b long")
    c = return_(spark, [("k1", 100), ("k2", 200)], "kc string, c long")
    # a required, b optional, c required → left join b, inner join c
    out = a.join_multi(
        [(b, F.col("kb")), (c, F.col("kc"))],
        on=F.col("k"),
        required=[True, False, True],
    )
    rows = sorted((r["a"], r["b"], r["c"]) for r in out.df.collect())
    assert rows == [(1, 10, 100), (2, None, 200)]


def test_debug_tee(spark, tmp_path):
    r = return_(spark, [(1,), (2,)], "x long")
    out = r.debug_tee(str(tmp_path), "stage1").map(y=F.col("x") * 2)
    assert sorted(x["y"] for x in out.df.collect()) == [2, 4]
    back = pio.load_parquet(spark, str(tmp_path / "stage1"))
    assert back.count() == 2


def test_store_bucketed_join_no_exchange(spark, tmp_path):
    big = return_(spark, [(i, i * 10) for i in range(100)], "id long, v long")
    dim = return_(spark, [(i, f"n{i}") for i in range(100)], "id long, name string")
    big.store_bucketed("t_big", ["id"], 4, sort_by=["id"], path=str(tmp_path / "t_big"))
    dim.store_bucketed("t_dim", ["id"], 4, sort_by=["id"], path=str(tmp_path / "t_dim"))
    set_options(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"})
    try:
        j = spark.table("t_big").join(spark.table("t_dim"), "id")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert j.count() == 100
        # bucketed co-located join: no shuffle exchange on either side
        assert "Exchange hashpartitioning" not in plan
    finally:
        set_options(spark, {"spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024)})
        spark.sql("DROP TABLE IF EXISTS t_big")
        spark.sql("DROP TABLE IF EXISTS t_dim")


def test_q5_bucketed_fact_join_no_exchange(spark, sf_dir):
    # q5 shape over pre-bucketed facts: the lineitem-orders join must read
    # co-located buckets — the only hash exchange left in the whole plan is
    # the tiny post-partial-agg one
    from pigpen_spark import catalog

    df = catalog.queries()["q5_multi_join_bucketed"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1


def test_load_hadoop_text(spark, tmp_path):
    p = tmp_path / "h.txt"
    p.write_text("alpha\nbeta\n")
    out = pio.load_hadoop(spark, str(p))
    vals = sorted(r["value"] for r in out.df.collect())
    assert vals == ["alpha", "beta"]


def test_as_view_sql(spark):
    r = return_(spark, [(1,), (2,)], "x long")
    r.as_view("my_rel")
    assert spark.sql("select sum(x) s from my_rel").collect()[0]["s"] == 3
