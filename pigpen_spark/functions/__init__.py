"""Scalar/extension function library.

The reference has NO scalar function library (SURVEY §2.7) — users write
plain Clojure inside closures.  Our users get ``pyspark.sql.functions``
directly; this package adds the large-scale training-data-pipeline
operators the reference lacks: dedup, similarity search, text analysis,
multimodal column plumbing.

Submodules load on first use (``from pigpen_spark.functions import
similarity`` or ``pigpen_spark.functions.similarity``), never as a side
effect of importing the package: a Python worker that unpickles one
multimodal UDF imports only what that UDF's module needs.
"""

import importlib

__all__ = ["dedup", "similarity", "text", "multimodal"]


def __getattr__(name: str):
    if name in __all__:
        return importlib.import_module(f"{__name__}.{name}")
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
