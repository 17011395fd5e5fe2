"""Round-9 plan pins: the PQ family's kernel execution shapes and the
suffix-array's in-place rank (scale properties, not values — a
correctness-green query can still be a scale regression)."""

import pytest
from pyspark.sql import functions as F

from pigpen_spark import catalog, catalog_ext  # noqa: F401


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    qs = catalog.queries()

    def get(name: str) -> str:
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    return get


def test_embed_pq_is_one_arrow_crossing(plans):
    # coding must be ONE MapInPandas over the scan — no join, no shuffle,
    # no giant per-row expression tree
    p = plans("ext_embed_pq")
    assert p.count("MapInPandas") == 1
    assert "Exchange" not in p.split("MapInPandas")[0]  # nothing above it shuffles
    assert "CartesianProduct" not in p


def test_ann_pq_scores_without_pair_join(plans):
    # the ADC search side must NOT materialize q×n join rows: queries are
    # driver-collected, the kernel is one MapInPandas over the corpus,
    # and the only exchange is the per-query top-k window's
    p = plans("ext_ann_pq")
    assert p.count("MapInPandas") == 1
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p or "Window" in p


def test_ann_ivf_pq_is_cogrouped_adc(plans):
    # IVF-PQ candidates must flow through the cogrouped ADC kernel
    # (FlatMapCoGroupsInPandas), with AQE-exempt repartitioning pinning
    # kernel parallelism on both sides
    p = plans("ext_ann_ivf_pq")
    assert "FlatMapCoGroupsInPandas" in p
    assert p.count("REPARTITION_BY_NUM") >= 2
    assert "CartesianProduct" not in p


def test_maximal_repeats_rank_has_no_join_back(spark, sf_dir):
    # the derived-bucket dense rank: one exchange on a bucket computed
    # from the key feeding a partitioned window — no rank-attach JOIN
    # (the round-8 form's distinct + join-back is gone).  The ranked
    # frame is frozen by a NON-eager localCheckpoint that the per-bucket
    # offsets collect materializes, so the executed plan of the returned
    # frame reads an ExistingRDD; the exchange ran inside that job.
    from pigpen_spark import cache
    from pigpen_spark.functions import suffix as X

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(50)
    with cache.scope():
        pos = X.pack_positions(docs, "doc_id", "text").select("pos", "sym") \
            .transform(cache.persisted)
        ranked, n = X._dense_rank_sym(pos)
        p = ranked._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in p
        assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
        # ranks read through a self-join and after clearCache() equal
        # the Python dense rank of the symbols
        base = pos.collect()
        order = {s: i for i, s in enumerate(sorted({r.sym for r in base}))}
        assert n == len(order)
        nxt = ranked.select((F.col("pos") - 1).alias("pos"),
                            F.col("rank").alias("nrank"))
        sym_at = {r.pos: r.sym for r in base}
        for _ in range(2):
            got = ranked.join(nxt, "pos", "left").collect()
            assert len(got) == len(base)
            for r in got:
                assert r.rank == order[sym_at[r.pos]]
                assert r.nrank == (order[sym_at[r.pos + 1]]
                                   if r.pos + 1 in sym_at else None)
            spark.catalog.clearCache()
