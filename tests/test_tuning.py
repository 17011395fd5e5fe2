"""tuning.py — scale-aware configuration helpers."""

from pigpen_spark import tuning
from pigpen_spark.relation import return_
from pigpen_spark.session import set_options


def test_estimate_shuffle_partitions_scales():
    assert tuning.estimate_shuffle_partitions(1024, cores=32) == 32  # floor at cores
    one_tb = 1024**4
    est = tuning.estimate_shuffle_partitions(one_tb, cores=32)
    assert 5000 < est < 8000  # ~150MiB per partition
    assert tuning.estimate_shuffle_partitions(100 * one_tb, cores=32) == tuning.MAX_SHUFFLE_PARTITIONS


def test_input_size_bytes_from_stats(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    size = tuning.input_size_bytes(df)
    assert size > 10000  # footer stats, no scan


def test_configure_for_input_sets_conf(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out = tuning.configure_for_input(spark, 10 * 1024**4)
        assert int(out["spark.sql.shuffle.partitions"]) == tuning.MAX_SHUFFLE_PARTITIONS
        assert spark.conf.get("spark.sql.shuffle.partitions") == out["spark.sql.shuffle.partitions"]
    finally:
        set_options(spark, {"spark.sql.shuffle.partitions": before})


def test_auto_configure_roundtrip(spark):
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        r = return_(spark, [(i,) for i in range(100)], "x long")
        out = tuning.auto_configure(spark, r.df)
        assert int(out["spark.sql.shuffle.partitions"]) >= 1
    finally:
        set_options(spark, {"spark.sql.shuffle.partitions": before})


def test_skew_report_finds_hot_key(spark):
    from pigpen_spark.tuning import skew_report

    rows = [(0, "hot")] * 80 + [(i, "k%d" % i) for i in range(1, 21)]
    df = spark.createDataFrame(rows, "id long, k string")
    rep = skew_report(df, "k", top=3, target_rows_per_partition=25)
    assert rep["total_rows"] == 100
    assert rep["top_keys"][0]["key"] == ("hot",)
    assert rep["top_keys"][0]["rows"] == 80
    assert abs(rep["top_keys"][0]["share"] - 0.8) < 1e-9
    assert rep["suggested_salt"] == 4  # ceil(80 / 25)
    empty = skew_report(df.filter("id < 0"), "k")
    assert empty["total_rows"] == 0 and empty["suggested_salt"] == 1


def test_python_workers_keep_zip_directories(spark):
    # a worker that has unpickled an engine UDF no longer holds a plain
    # zipimporter, whose directory importlib.invalidate_caches() would
    # re-read at every task start; a pyspark submodule the worker has not
    # loaded yet still imports
    import pigpen_spark.functions.multimodal as M

    fresh = ("pyspark.sql.avro.functions", "pyspark.sql.protobuf.functions",
             "pyspark.ml.param", "pyspark.ml.linalg", "pyspark.mllib.common",
             "pyspark.sql.pandas.map_ops", "pyspark.sql.observation",
             "pyspark.resource.profile")

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        M.np  # the closure makes the worker import pigpen_spark
        plain = sum(type(f) is zipimport.zipimporter
                    for f in sys.path_importer_cache.values())
        name = next((n for n in fresh if n not in sys.modules), "")
        if name:
            importlib.import_module(name)
        for b in batches:
            yield b.assign(pid=os.getpid(), plain=plain, imported=name)

    df = spark.range(0, 16, numPartitions=8).mapInPandas(
        probe, "id long, pid long, plain long, imported string")
    rows = df.collect() + df.collect()
    assert {r.plain for r in rows} == {0}
    assert any(r.imported for r in rows)
    # tasks ran after an earlier task in the same worker process
    assert len({r.pid for r in rows}) < len(rows)


def test_function_library_submodules_load_lazily():
    # importing one function module must not drag in its siblings: every
    # Python worker that unpickles a multimodal UDF pays for what the
    # package __init__ imports.  A fresh interpreter, so modules the test
    # session already loaded cannot hide an eager import.
    import subprocess
    import sys

    probe = (
        "import sys, pigpen_spark.functions.multimodal\n"
        "print(','.join(m for m in ('similarity', 'dedup', 'text')\n"
        "      if 'pigpen_spark.functions.' + m in sys.modules))\n"
        "from pigpen_spark.functions import similarity\n"
        "import pigpen_spark.functions as fns\n"
        "print(fns.dedup.__name__, similarity.__name__)\n"
    )
    out = subprocess.run([sys.executable, "-c", probe], capture_output=True,
                         text=True, check=True).stdout.splitlines()
    assert out[0] == ""
    assert out[1] == ("pigpen_spark.functions.dedup "
                      "pigpen_spark.functions.similarity")


def test_default_driver_memory_is_half_of_host_capped(monkeypatch):
    import os

    from pigpen_spark import session

    def host(gib):
        monkeypatch.setattr(os, "sysconf", lambda k: 4096 if k == "SC_PAGE_SIZE"
                            else gib * 2**30 // 4096)
        return session._default_driver_memory()

    assert host(15) == "7680m"     # half of a 15 GiB host
    assert host(64) == "16384m"    # capped at 16g
    assert host(1) == "1024m"      # never below Spark's 1g default
