"""Round-3 VERDICT/ADVICE regression tests: engine cache registry,
duplicate-id fail-fast, SQL literal escaping, exclude_self, and the
load_events conf-mutation fix."""

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

from pigpen_spark import cache
from pigpen_spark.functions import classify as C
from pigpen_spark.functions import pipeline as P
from pigpen_spark.functions import similarity as S
from pigpen_spark.tuning import clear_engine_caches


def _vecs(spark, n=12, dim=8):
    rows = [
        Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 11) for j in range(dim)])
        for i in range(n)
    ]
    return spark.createDataFrame(rows)


class TestCacheRegistry:
    def test_release_unpersists_engine_caches_only(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        user = spark.createDataFrame([Row(x=1)]).persist()
        user.count()
        base = jsc.getPersistentRDDs().size()

        corpus = _vecs(spark)
        out = S.lsh_topk(corpus, k=2, n_planes=4)
        out.count()
        assert cache.held_count() > 0
        assert jsc.getPersistentRDDs().size() > base

        clear_engine_caches(spark)
        assert cache.held_count() == 0
        # async unpersist: storage level is cleared synchronously on the
        # DataFrame side, so re-running the operator must re-register
        assert jsc.getPersistentRDDs().size() <= base + 1  # eviction may lag
        # the USER's cache must survive (clearCache() would have evicted it)
        assert user.storageLevel.useMemory
        user.unpersist()

    def test_repeat_calls_do_not_grow_holdings(self, spark):
        corpus = _vecs(spark)
        for _ in range(3):
            S.lsh_topk(corpus, k=2, n_planes=4).count()
            clear_engine_caches(spark)
        assert cache.held_count() == 0

    def _ranked(self, spark, n):
        from pigpen_spark.operators.windows import ranked
        df = spark.range(n).repartition(3)
        return ranked(df, [F.col("id")])

    def test_release_frees_checkpoint_backed_frame(self, spark):
        jsc = spark.sparkContext._jsc.sc()
        clear_engine_caches(spark)
        base = jsc.getPersistentRDDs().size()
        out = self._ranked(spark, 300)
        assert out.count() == 300
        assert cache.held_count() == 1
        assert jsc.getPersistentRDDs().size() == base + 1
        clear_engine_caches(spark)
        assert cache.held_count() == 0
        assert jsc.getPersistentRDDs().size() == base
        # the frozen tagging is gone: a new plan over the returned frame
        # fails loudly instead of re-ranking from a fresh sampling
        with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
            out.count()

    def test_nested_scope_frees_only_its_own(self, spark):
        clear_engine_caches(spark)
        with cache.scope():
            outer = self._ranked(spark, 200)
            with cache.scope():
                inner = self._ranked(spark, 100)
                assert inner.count() == 100
                assert cache.held_count() == 2
            assert cache.held_count() == 1
            assert outer.count() == 200
            with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
                inner.count()
        assert cache.held_count() == 0

    def test_scopes_are_per_thread(self):
        """Concurrent scopes on many threads free exactly their own
        holdings, each once, and leave the registry as they found it."""
        import sys
        import threading

        class Fake:  # a persisted frame: release calls unpersist()
            is_cached = True

            def __init__(self):
                self.freed = 0

            def unpersist(self):
                self.freed += 1

        base = cache.held_count()
        errors, frames = [], []
        lock = threading.Lock()

        def work():
            try:
                for _ in range(50):
                    with cache.scope():
                        mine = [cache.hold(Fake()) for _ in range(4)]
                    if any(f.freed != 1 for f in mine):
                        errors.append([f.freed for f in mine])
                    with lock:
                        frames.extend(mine)
            except Exception as e:  # noqa: BLE001 — reported below
                errors.append(repr(e))

        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [threading.Thread(target=work) for _ in range(16)]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=60)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads)
        assert not errors, errors[:3]
        assert len(frames) == 16 * 50 * 4
        assert all(f.freed == 1 for f in frames)
        assert cache.held_count() == base


class TestDuplicateIdFailFast:
    def test_duplicate_ids_raise(self, spark):
        wdf = spark.createDataFrame(
            [Row(bucket=b, w512=1) for b in range(8)]
        )
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b"), Row(doc_id=1, text="c d")]
        )
        out = C.hashed_linear_score_join(df, "doc_id", "text", wdf, n_buckets=8)
        with pytest.raises(Exception, match="duplicate doc_id"):
            out.collect()

    def test_unique_ids_pass(self, spark):
        wdf = spark.createDataFrame([Row(bucket=b, w512=512) for b in range(8)])
        df = spark.createDataFrame(
            [Row(doc_id=1, text="a b"), Row(doc_id=2, text="c d")]
        )
        got = C.hashed_linear_score_join(df, "doc_id", "text", wdf, n_buckets=8)
        rows = {r["doc_id"]: r["margin"] for r in got.collect()}
        assert rows == {1: 1.0, 2: 1.0}


class TestSqlEscaping:
    def test_sql_str_doubles_quotes(self):
        assert P.sql_str("o'brien") == "'o''brien'"

    def test_mix_by_weight_sql_with_quoted_group(self):
        # a group name containing a single quote must yield runnable SQL
        expr = P.mix_by_weight_sql("src", "id", {"o'brien": 2.0}, default=1.0)
        got = duckdb.sql(
            f"SELECT len({expr}) AS n FROM (SELECT 'o''brien' AS src, 7 AS id)"
        ).fetchone()
        assert got[0] == 2  # weight 2.0 → two guaranteed copies

    def test_stratified_sql_with_quoted_stratum(self):
        pred = P.stratified_sample_by_hash_sql("s", {"o'brien": 1.0}, "id")
        got = duckdb.sql(
            f"SELECT count(*) FROM (SELECT 'o''brien' AS s, 1 AS id) WHERE {pred}"
        ).fetchone()
        assert got[0] == 1  # fraction 1.0 keeps the row

    def test_split_sql_with_quoted_split_name(self):
        expr = P.split_by_hash_sql("id", {"tr'ain": 1.0})
        got = duckdb.sql(f"SELECT {expr} FROM (SELECT 1 AS id)").fetchone()
        assert got[0] == "tr'ain"


class TestExcludeSelf:
    def test_pq_adc_external_queries_keep_colliding_id(self, spark):
        corpus = _vecs(spark, n=10)
        # external query whose id collides with corpus id 3 but whose
        # vector equals corpus row 5's — with exclude_self=False the
        # corpus row sharing the id must still be a candidate
        q_vec = [float((5 * 7 + j * 3) % 11) for j in range(8)]
        queries = spark.createDataFrame([Row(vec_id=3, embedding=q_vec)])
        with_excl = S.pq_adc_topk(corpus, queries, k=10)
        without = S.pq_adc_topk(corpus, queries, k=10, exclude_self=False)
        ids_excl = {r["n_id"] for r in with_excl.collect()}
        ids_all = {r["n_id"] for r in without.collect()}
        assert 3 not in ids_excl
        assert 3 in ids_all
        assert ids_all - ids_excl == {3}

    def test_ivf_pq_exclude_self_flag(self, spark):
        corpus = _vecs(spark, n=10)
        queries = corpus.limit(3)
        sym = S.ivf_pq_topk(corpus, queries, k=5)
        assert all(r["q_id"] != r["n_id"] for r in sym.collect())
        asym = S.ivf_pq_topk(corpus, queries, k=5, exclude_self=False)
        assert any(r["q_id"] == r["n_id"] for r in asym.collect())


class TestLoadEventsConf:
    def test_tuned_session_not_mutated_at_query_time(self, spark, sf_dir):
        from pigpen_spark.catalog import load_events

        # DEFAULT_CONF already carries the legacy nanos conf; load_events
        # must read events without flipping any conf on a tuned session
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
        df = load_events(spark, sf_dir).df
        # sf0.001 stores micros-NTZ (passes through); nanos files come
        # back as long and get converted to timestamp — both acceptable
        assert dict(df.dtypes)["ts"] in ("timestamp", "timestamp_ntz")
        assert df.limit(1).count() == 1
