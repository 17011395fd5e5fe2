"""SparkSession construction with defaults tuned for the engine.

Design notes (100 TB posture):

- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  dynamic join-strategy switching replace the reference's static
  ``{:parallel n}`` hints (SURVEY §4.4).
- ``spark.sql.shuffle.partitions`` is only the *initial* value — AQE coalesces
  down on small inputs and a real cluster deployment would raise it to
  ~2-3× total cores.
- Arrow enabled so every Python-boundary crossing (mapInPandas /
  applyInPandas / pandas_udf) is vectorized, never row-at-a-time pickling.
- UTC session timezone so timestamp arithmetic is reproducible across
  engines (the DuckDB oracle treats parquet timestamps as naive-UTC).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session we build.  On a real cluster these are
#: starting points — AQE adapts partition counts at runtime.
DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE re-optimize (and coalesce) the plan that MATERIALIZES a
    # cache.  Off (the default) every engine persist freezes the static
    # shuffle width into its cached blocks — and the iterative operators'
    # persist-under-checkpoint base tables then carry those 64 tiny
    # partitions into every downstream scan as pure per-task latency
    # (measured: ext_hits −42%, ext_winnow_overlap −62%, ext_pagerank
    # −17% with the flag on; a checkpointed frame reports
    # UnknownPartitioning downstream anyway, so no consumer could reuse
    # the frozen layout).  Scale-safe: coalescing targets
    # advisoryPartitionSizeInBytes, so corpus-sized caches stay wide.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 128 MiB scan splits: good balance of task startup cost vs parallelism
    # for wide parquet scans; at 100 TB this yields ~800k scan tasks which a
    # 1000-executor cluster drains comfortably.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Dimension tables (region/nation/supplier/part at any SF that matters)
    # stay broadcastable; 64 MiB is safe with 4+ GiB executors.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Push min/max/count aggregates into the parquet footer scan.
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # events.parquet carries TIMESTAMP(NANOS), which Spark's reader refuses
    # by default; read nanos as long here so catalog.load_events never has
    # to mutate a tuned session's conf at query time (it still sets this,
    # conditionally, for vanilla sessions such as the driver's).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Don't let tiny local test files produce thousands of partitions.
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(64 * 1024 * 1024),
}


def _default_driver_memory() -> str:
    """Default ``spark.driver.memory``: half of physical memory, capped at
    16g (1g floor).  The JVM's resident size grows well past its heap
    (off-heap buffers, metaspace, Arrow), so a fixed 16g heap on a 15 GB
    host gets the process OOM-killed; ``SPARK_GRAFT_DRIVER_MEM``
    overrides."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, OSError, ValueError):
        return "16g"
    return f"{max(1024, min(16 * 1024, phys // 2 // 2**20))}m"


def get_spark(
    app_name: str = "pigpen_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (test rig); on a real
    cluster pass ``None`` and submit via spark-submit with a cluster master —
    all defaults here remain valid.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or f"local[{cpus}]")
    conf = dict(DEFAULT_CONF)
    # local mode: the single JVM is driver AND executors — Spark's 1g
    # default heap GC-thrashes with 32 concurrent tasks; must be set
    # before JVM start, hence here and not in DEFAULT_CONF runtime sets.
    conf.setdefault("spark.driver.memory",
                    os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory())
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else min(int(cpus) * 2, 64)
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def set_options(spark: SparkSession, options: dict[str, str]) -> None:
    """Engine-config passthrough (reference: ``set-options`` / ``option$``,
    pigpen-pig/src/main/clojure/pigpen/pig.clj:88-99)."""
    for k, v in options.items():
        spark.conf.set(k, v)
