"""Scale-aware configuration helpers.

The reference exposes ``{:parallel n}`` hints and delegates everything else
to Pig/Hadoop (SURVEY §4.4).  On Spark the equivalent knobs are shuffle
width, scan split size, and broadcast threshold; this module centralizes
the arithmetic so pipelines can self-configure from their input size
instead of hard-coding cluster lore.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

#: Target size of one shuffle partition's input.  100-200 MiB keeps a
#: partition comfortably in executor memory (with 2-4× expansion during
#: sort/agg) while amortizing task overhead.
TARGET_SHUFFLE_PARTITION_BYTES = 150 * 1024 * 1024

#: Don't let shuffle width drop below total cores (idle executors) or
#: explode past this cap (scheduler pressure; AQE coalesces downward).
MAX_SHUFFLE_PARTITIONS = 20000


def estimate_shuffle_partitions(input_bytes: int, cores: int) -> int:
    """Shuffle width for a job over ``input_bytes`` of (compressed) input.

    At 100 TB: 100e12 / 150 MiB ≈ 670k → capped to 20k initial partitions
    and AQE splits skewed ones; in practice a 100 TB join keys its shuffle
    on far less than the raw scan (column pruning + pushdown), so the cap
    rarely binds.
    """
    by_size = input_bytes // TARGET_SHUFFLE_PARTITION_BYTES + 1
    return int(max(cores, min(by_size, MAX_SHUFFLE_PARTITIONS)))


def input_size_bytes(df: DataFrame) -> int:
    """Optimizer's estimate of the plan's input size (parquet footer
    statistics — free, no scan)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001


def configure_for_input(spark: SparkSession, input_bytes: int) -> dict[str, str]:
    """Set session knobs proportional to the input scale; returns what was
    set.  Call once per job with the dominant table's size."""
    cores = spark.sparkContext.defaultParallelism
    conf = {
        "spark.sql.shuffle.partitions": str(estimate_shuffle_partitions(input_bytes, cores)),
        # scans: default 128 MiB splits; small local inputs benefit from
        # parallelism more than split efficiency
        "spark.sql.files.maxPartitionBytes": str(
            128 * 1024 * 1024 if input_bytes > 4 * 1024**3 else 8 * 1024 * 1024
        ),
    }
    for k, v in conf.items():
        spark.conf.set(k, v)
    return conf


def auto_configure(spark: SparkSession, df: DataFrame) -> dict[str, str]:
    """``configure_for_input`` driven by the plan's own statistics."""
    return configure_for_input(spark, input_size_bytes(df))


def clear_engine_caches(spark: SparkSession) -> None:
    """Release every DataFrame the ENGINE has persisted or checkpointed —
    and nothing else.

    Operators that self-join derived hash columns (minhash_candidates,
    simhash_candidates, lsh_topk) persist intermediates so Catalyst can't
    re-inline their expression trees; the two-phase rank/index/budget
    operators and the iterative graph and suffix-array loops freeze
    their tables in local checkpoints.  All of them live until session
    end unless released.  In a long-running driver that loops over many
    inputs, call this between iterations.  Engine holdings are tracked
    in :mod:`pigpen_spark.cache`, so the user's own ``df.cache()`` data
    survives (``spark.catalog.clearCache()`` would evict it too).

    A frame returned before this call that reads a released engine
    checkpoint fails loudly when next executed ("Checkpoint block ...
    not found") — it is never silently re-ranked; rebuild it instead."""
    from pigpen_spark import cache

    cache.release()


def skew_report(df: DataFrame, *key_cols, top: int = 10,
                target_rows_per_partition: int = 5_000_000) -> dict:
    """Pre-flight skew diagnostic for a prospective join/agg key: ONE
    aggregation job (count + per-key counts, map-side combining) returning
    the top-``top`` hottest keys, their share of all rows, and the salt
    factor :func:`pigpen_spark.operators.joins.salted_join` would need so
    the hottest key fits ``target_rows_per_partition``.

    Driver-side state is ``top`` rows — safe at any scale.  Run it on a
    SAMPLE for quick iteration (shares of a uniform sample estimate shares
    of the full data); run it full for exact counts before a big job.
    """
    from pyspark.sql import functions as F

    n = df.count()
    hot = (
        df.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.count(F.lit(1)).alias("rows"))
        .orderBy(F.col("rows").desc(), *[F.col(c) for c in key_cols])
        .limit(top)
        .collect()
    )
    hottest = hot[0]["rows"] if hot else 0
    return {
        "total_rows": n,
        "top_keys": [
            {"key": tuple(r[c] for c in key_cols), "rows": r["rows"],
             "share": (r["rows"] / n) if n else 0.0}
            for r in hot
        ],
        "hottest_rows": hottest,
        "suggested_salt": max(1, -(-hottest // target_rows_per_partition)),
    }


def key_skew_profile(df: DataFrame, key_col: str, top_n: int = 20) -> DataFrame:
    """DataFrame form of :func:`skew_report` — the top-``top_n`` hottest
    keys with integer parts-per-million share, as a relation (so it can
    be stored, joined against block-lists, or oracle-checked).

    ONE map-side-combining aggregation for the per-key counts; the global
    total is a 1-row aggregate broadcast back (scalar crossJoin — the
    BM25 doc-stats pattern); top-N compiles to TakeOrderedAndProject.
    ``share_ppm`` is integer math (cnt·10⁶ div total) so the result is
    bit-identical across engines — no float division in a shuffled agg.
    """
    from pyspark.sql import functions as F

    counts = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("__total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "key", "cnt",
            F.expr("(cnt * 1000000) div __total").alias("share_ppm"),
        )
        .orderBy(F.col("cnt").desc(), "key")
        .limit(top_n)
    )


def join_cardinality_estimate(left, right, left_key, right_key):
    """Pre-flight EXACT join-output cardinality: |A ⋈ B| = Σ_k a_k·b_k
    over per-key counts — two map-side-combining aggregates + one join of
    COUNT TABLES (key-cardinality-sized, not data-sized) + one 1-row sum.
    Run it before a giant equi-join to decide broadcast vs sort-merge vs
    salting: the same Σ a_k·b_k decomposed per key is exactly what
    key_skew_profile ranks.

    Returns a 1-row DataFrame (n_left, n_right, n_join)."""
    from pyspark.sql import functions as F

    a = left.groupBy(F.col(left_key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__a"))
    b = right.groupBy(F.col(right_key).alias("__k")).agg(
        F.count(F.lit(1)).alias("__b"))
    prod = a.join(b, on="__k").agg(
        F.sum(F.col("__a") * F.col("__b")).alias("n_join"))
    na = left.agg(F.count(F.lit(1)).alias("n_left"))
    nb = right.agg(F.count(F.lit(1)).alias("n_right"))
    return na.crossJoin(nb).crossJoin(prod).select(
        "n_left", "n_right",
        F.coalesce(F.col("n_join"), F.lit(0)).alias("n_join"))


def lsh_planes_for(n_vectors: int, target_bucket: int = 200,
                   floor: int = 8, cap: int = 32) -> int:
    """Density-scaled hyperplane count for the LSH family
    (similarity.lsh_bucket / lsh_topk / embedding_near_dup_pairs).

    Candidate-pair work inside an LSH bucket is quadratic in bucket
    occupancy, and occupancy ≈ n / 2^planes for random hyperplanes — so
    a FIXED plane count grows pair work ~quadratically with corpus size
    (measured: 10× the vectors at n_planes=16 made ext_ann_lsh_mp 18.8×
    slower, SCALE.md §scaling-evidence).  The scale-invariant setting is
    planes ≈ log2(n / target_bucket): expected occupancy stays at
    ``target_bucket`` and total pair work stays LINEAR in n.  Clamped to
    [floor, cap]; 2^cap buckets ≫ any real corpus at cap=32.  Recall at
    a given plane count is governed by the probe strategy (multi_probe /
    n_tables), which is orthogonal to this sizing.

    Computed INTEGER-EXACTLY as ceil(log2(ceildiv(n, target))) via bit
    length — equal to ceil(log2(n/target)) for every n (if
    2^(k-1) < x <= 2^k then ceil(x) lands in the same dyadic interval),
    but with no float log2, so the DuckDB oracle mirror
    (similarity.lsh_planes_sql: ceil-div + length(bin(m-1))) agrees on
    every count with no libm edge at exact powers of two.
    """
    if n_vectors <= 0:
        raise ValueError(f"lsh_planes_for: n_vectors must be > 0, got {n_vectors}")
    if target_bucket < 1:
        raise ValueError(f"lsh_planes_for: target_bucket must be >= 1, got {target_bucket}")
    m = -(-n_vectors // target_bucket)  # ceildiv, integer-exact
    planes = 0 if m <= 1 else (m - 1).bit_length()
    return max(floor, min(cap, planes))
