"""pigpen_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of Netflix/PigPen.

The reference (Netflix/PigPen, /root/reference) is a Clojure Map-Reduce DSL
whose operators build a lazy logical dataflow graph compiled to Pig /
Cascading / local backends.  This package re-expresses the same operator
semantics Spark-first: a thin fluent :class:`Relation` layer over
``pyspark.sql.DataFrame`` so every operator that *can* be a Catalyst
expression *is* one, with Arrow-batched Python UDFs only where arbitrary
Python logic is genuinely required.

Layout (mirrors SURVEY.md §7):

- :mod:`pigpen_spark.session`    — SparkSession builder with scale-aware defaults
- :mod:`pigpen_spark.relation`   — the Relation API (PigPen operator surface)
- :mod:`pigpen_spark.fold`       — the composable fold (aggregation) algebra
- :mod:`pigpen_spark.operators`  — join / cogroup / set-op semantics helpers
- :mod:`pigpen_spark.sources`    — load_* / store_* I/O (text, csv, tsv, json, parquet, avro)
- :mod:`pigpen_spark.functions`  — dedup, similarity, text-analysis, multimodal ops
- :mod:`pigpen_spark.plans`      — plan introspection / viz (``show`` analog)
- :mod:`pigpen_spark.streaming`  — Structured Streaming variants (extension surface)
"""

import sys
import zipimport

from pyspark import TaskContext

from pigpen_spark.session import get_spark
from pigpen_spark.relation import Relation, load_parquet, return_
from pigpen_spark import fold

__version__ = "0.1.0"


class _ZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` that keeps its archive directory on
    ``importlib.invalidate_caches()``: the archives on a Python worker's
    path never change during the worker's life (Spark refuses to
    overwrite an added file)."""

    def invalidate_caches(self) -> None:
        pass


def _keep_zip_directories() -> None:
    """In a Python worker, stop re-reading zip archives at every task.

    The worker calls ``importlib.invalidate_caches()`` at the start of
    every task, and on Python 3.11 that makes each cached zipimporter
    re-read its whole archive directory — 16 of them on pyspark.zip, the
    py4j zip and the spark-core jar, about 0.2 s of CPU per task.  The
    cached zipimporters are dropped and the path hook swapped for
    :class:`_ZipImporter`, so a finder rebuilt by a later import (from
    ``zipimport._zip_directory_cache``, without a re-read) keeps its
    directory too.  This module is imported once per worker process,
    when the first task unpickles an engine UDF; the driver (no task
    context) is left alone."""
    if TaskContext.get() is None:
        return
    sys.path_hooks[:] = [_ZipImporter if h is zipimport.zipimporter else h
                         for h in sys.path_hooks]
    for path, finder in list(sys.path_importer_cache.items()):
        if type(finder) is zipimport.zipimporter:
            del sys.path_importer_cache[path]


_keep_zip_directories()

__all__ = ["get_spark", "Relation", "load_parquet", "return_", "fold", "__version__"]
