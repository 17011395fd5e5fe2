"""Window-adjacent operators.

The reference's whole window story is ``rank`` + sorted ``map-indexed``
(SURVEY §2.5); Spark Window functions cover and exceed it.  These helpers
are the extension surface (ranking, per-group top-n, sessionization).
"""

from __future__ import annotations

from collections.abc import Sequence

from pigpen_spark.cache import checkpointed as _checkpointed
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


from pigpen_spark.relation import _to_col as _c  # noqa: E402 — shared coercion
from pigpen_spark.typeutil import epoch_seconds


def ranked(df: DataFrame, order_by: Sequence, index_col: str = "index",
           partition_by: Sequence = (), dense: bool = True,
           scale_safe: bool = True) -> DataFrame:
    """0-based rank (reference: rank$, raw.clj:357-371; Pig 1-based RANK is
    decremented by a rewrite, pig/oven.clj:133-154 — we emit 0-based
    directly).

    Partitioned rank parallelizes natively.  GLOBAL rank with a naive
    ``row_number() over (order by …)`` funnels everything through ONE
    partition — fatal at scale — so ``scale_safe=True`` uses the two-phase
    form: range-repartition on the sort key, count rows per partition
    (a tiny driver-side vector, one value per partition — the same shape
    Pig's RANK uses), then rank within each partition in parallel and add
    the partition's global offset.

    The scale-safe path freezes the (row, partition id) tagging in a
    registered non-eager local checkpoint: the offsets collect is its
    first action, and the output reads the same blocks however it is
    consumed (a self-join's relation dedup, a ``clearCache()``).  The
    returned frame lives until :func:`pigpen_spark.tuning.clear_engine_caches`
    (or an enclosing :func:`pigpen_spark.cache.scope`); after that it
    fails loudly instead of being re-ranked from a new tagging.
    """
    orders = [_c(c) for c in order_by]
    if partition_by:
        w = Window.partitionBy(*[_c(c) for c in partition_by]).orderBy(*orders)
        fn = F.row_number() if dense else F.rank()
        return df.withColumn(index_col, (fn.over(w) - F.lit(1)).cast("long"))

    if not scale_safe or not dense:
        # tie-sharing rank (dense=False) needs tie-aware offsets that the
        # two-phase path doesn't compute — fall back to the global window
        # rather than silently emitting row_number for tied rows
        w = Window.orderBy(*orders)
        fn = F.row_number() if dense else F.rank()
        return df.withColumn(index_col, (fn.over(w) - F.lit(1)).cast("long"))

    pid = "__pp_pid"
    ranged = (df.repartitionByRange(*orders)
              .withColumn(pid, F.spark_partition_id())
              .transform(_checkpointed, eager=False))
    off, _ = partition_offsets(ranged, pid)
    w = Window.partitionBy(pid).orderBy(*orders)
    return ranged.withColumn(
        index_col, (F.row_number().over(w) - 1 + off).cast("long")).drop(pid)


def partition_offsets(tagged: DataFrame, pid: str | Column,
                      measure: Column | None = None) -> tuple[Column, int]:
    """The two-phase offset primitive behind every scale-safe global
    rank, index and prefix sum here (Pig RANK's shape): collect ONE
    ``measure`` aggregate per partition id (default: the row count) — a
    bounded driver-side vector — and accumulate it in pid order.

    Returns ``(offset, total)``: ``offset`` is a column giving each row
    the measure summed over all lower partition ids, ``total`` the sum
    over all of them.  The offsets are an ARRAY literal indexed by
    (pid − lowest pid): one SQL-text parse instead of a py4j round trip
    per element, and an O(1) ``element_at`` per row (a map literal is a
    linear scan per row).  Ids spread wider than 4096 fall back to a
    map keyed on the id cast to long (mixed int/long key literals would
    not type-check).

    ``tagged`` must read a frozen tagging (a checkpoint, or a pid that is
    a pure function of the row): pid has to evaluate identically in the
    collect and in every later read of the offset column."""
    pid = _c(pid)
    if measure is None:
        measure = F.count(F.lit(1))
    sizes = {
        r["p"]: r["m"] or 0
        for r in tagged.groupBy(pid.alias("p")).agg(measure.alias("m")).collect()
    }
    total = sum(sizes.values())
    if not sizes:
        return F.lit(0).cast("long"), 0
    lo, hi = min(sizes), max(sizes)
    dense = hi - lo < 4096
    offsets, acc = {}, 0
    for p in (range(lo, hi + 1) if dense else sorted(sizes)):
        offsets[p] = acc
        acc += sizes.get(p, 0)
    if dense:
        arr = F.expr("array(" + ",".join(f"{x}L" for x in offsets.values()) + ")")
        return F.element_at(arr, (pid - F.lit(lo)).cast("int") + 1), total
    return F.element_at(
        F.create_map(*[c for k, v in offsets.items()
                       for c in (F.lit(k).cast("long"), F.lit(v).cast("long"))]),
        pid.cast("long")), total


def top_n_per_group(df: DataFrame, partition_by: Sequence, order_by: Sequence,
                    n: int, keep_index: bool = False) -> DataFrame:
    """Per-group top-n (reference: fold/top-by, fold.clj:397-409) as a
    window query — scales to huge groups where collect_list would not."""
    w = Window.partitionBy(*[_c(c) for c in partition_by]).orderBy(*[_c(c) for c in order_by])
    out = df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") <= n)
    if keep_index:
        return out.withColumnRenamed("__rn", "rank")
    return out.drop("__rn")


def sessionize(df: DataFrame, user_col: str, ts_col: str, gap_seconds: int,
               session_col: str = "session_id") -> DataFrame:
    """Gap-based sessionization (extension; absent from the reference).

    Classic lag/cumsum formulation: a new session starts when the gap to the
    previous event of the same user exceeds ``gap_seconds``.  One shuffle on
    ``user_col`` — the window partitioning — and skew-safe under AQE.
    """
    ts_num = epoch_seconds(df, ts_col)
    w = Window.partitionBy(user_col).orderBy(ts_num)
    prev = F.lag(ts_num).over(w)
    new_sess = (
        prev.isNull() | (ts_num - prev > F.lit(gap_seconds))
    ).cast("long")
    sess_n = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return df.withColumn(session_col, F.concat_ws("-", F.col(user_col).cast("string"), sess_n.cast("string")))


def moving_agg(df: DataFrame, partition_by: Sequence, order_by: Sequence,
               value, fn=F.avg, preceding: int = 3, following: int = 0,
               out_col: str = "mov") -> DataFrame:
    """Sliding-frame aggregate (moving average & friends): ``fn(value)``
    over ROWS BETWEEN preceding AND following per partition.

    The window partitions on ``partition_by``, so it parallelizes across
    groups; an empty ``partition_by`` is rejected — an unpartitioned
    ordered frame is a single-reducer funnel at scale (use
    :func:`ranked`'s two-phase trick or a range-partitioned sort-merge
    formulation instead)."""
    if not partition_by:
        raise ValueError("moving_agg: partition_by must be non-empty at scale")
    w = (
        Window.partitionBy(*[_c(c) for c in partition_by])
        .orderBy(*[_c(c) for c in order_by])
        .rowsBetween(-preceding, following)
    )
    return df.withColumn(out_col, fn(_c(value)).over(w))


def dedup_keyed_window(df: DataFrame, key_cols: Sequence, ts_col: str,
                       window_seconds: int, tiebreak: Sequence = (),
                       window_col: str = "window_id") -> DataFrame:
    """Keep-first dedup per (key, tumbling time window) — the batch twin
    of Structured Streaming's ``dropDuplicatesWithinWatermark`` (the
    historical-backfill job MUST agree with the streaming job, so both
    share one definition of "duplicate": same keys inside the same
    ``window_seconds`` tumbling bucket).

    The window id is integer microsecond math (``epoch_us div window``) —
    no float boundary jitter, bit-identical across engines.  ONE shuffle
    on (keys, window); each window-partition is bounded by per-key event
    rates, so the row_number window never funnels; Spark rewrites the
    rn=1 filter to WindowGroupLimit (partial per-map-task top-1 before
    the exchange), which is the plan that survives dup-storms at 100 TB.

    Returns the surviving rows + ``window_col``."""
    micros = F.unix_micros(_c(ts_col).cast("timestamp"))
    win = micros - (micros % F.lit(int(window_seconds) * 1_000_000))
    keys = [_c(k) for k in key_cols]
    order = [_c(ts_col).asc()] + [_c(t).asc() for t in tiebreak]
    w = Window.partitionBy(*keys, win).orderBy(*order)
    return (
        df.withColumn(window_col, (win / F.lit(1_000_000)).cast("bigint"))
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def dedup_keyed_window_sql(key_cols: Sequence[str], ts_col: str,
                           window_seconds: int, tiebreak: Sequence[str] = (),
                           table: str = "events", cols: str = "*",
                           window_col: str = "window_id") -> str:
    """DuckDB oracle for :func:`dedup_keyed_window`."""
    us = int(window_seconds) * 1_000_000
    keys = ", ".join(key_cols)
    order = ", ".join([ts_col] + list(tiebreak))
    return f"""
    WITH w AS (
      SELECT {cols},
             (epoch_us({ts_col}) - epoch_us({ts_col}) % {us}) // 1000000 AS {window_col},
             row_number() OVER (
               PARTITION BY {keys}, epoch_us({ts_col}) // {us}
               ORDER BY {order}) AS rn
      FROM {table}
    )
    SELECT * EXCLUDE (rn) FROM w WHERE rn = 1
    """


def take_budget(df: DataFrame, order_by: Sequence, size, budget: int,
                cum_col: str = "cum_size") -> DataFrame:
    """Greedy budgeted selection: walk rows in ``order_by`` order and keep
    each row whose budget was not already exhausted BEFORE it — the
    "top documents until N tokens" selector every token-budgeted
    pretraining mix runs (keep rule: running-sum-exclusive < budget, so
    the row that crosses the boundary is included and the result is
    non-empty whenever the input is).

    A naive global ordered cumsum is a ONE-partition window — fatal at
    scale — so this uses the two-phase :func:`ranked` shape: range-
    repartition on the sort key, collect ONE partial size-sum per
    partition (a bounded driver-side vector), then cumsum within each
    partition in parallel and add the partition's global size offset.
    ``order_by`` must be a total order (add a unique id tiebreak);
    ``size`` is any numeric column/expression.

    Returns the selected rows + ``cum_col`` (the inclusive running sum).
    A NULL size raises (executor-side ``raise_error``) rather than
    letting the NULL poison the cumulative sum and silently drop the row
    and everything the budget math owed it — budgeted selection over
    sizes that can be missing needs an explicit upstream ``coalesce``.
    Lifetime: the range-partitioned input is frozen in a registered
    local checkpoint, exactly as in :func:`ranked` — the offsets pass and
    the output pass read the same blocks, and after
    :func:`pigpen_spark.tuning.clear_engine_caches` the returned frame
    fails loudly rather than re-partitioning under frozen offsets."""
    orders = [_c(c) for c in order_by]
    size_c = _c(size)
    pid = "__pp_pid"
    ranged = (
        df.withColumn(
            "__pp_sz",
            F.when(size_c.isNotNull(), size_c.cast("bigint")).otherwise(
                F.raise_error(F.lit(
                    "take_budget: NULL size — coalesce the size expression "
                    "upstream if NULL-size rows should count as 0 or be "
                    "excluded explicitly"
                ))
            ),
        )
        .repartitionByRange(*orders)
        .withColumn(pid, F.spark_partition_id())
        .transform(_checkpointed, eager=False)
    )
    off, _ = partition_offsets(ranged, pid, F.sum("__pp_sz"))
    w = (
        Window.partitionBy(pid).orderBy(*orders)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.sum("__pp_sz").over(w) + off).cast("bigint")
    return (
        ranged.withColumn(cum_col, cum)
        .filter((F.col(cum_col) - F.col("__pp_sz")) < budget)
        .drop("__pp_sz", pid)
    )


def assemble_conversations(df: DataFrame, user_col: str, ts_col: str,
                           role_col: str, content_col: str,
                           event_id_col: str, gap_seconds: int,
                           sep: str = " | ",
                           start_col: str | None = None) -> DataFrame:
    """Multi-turn conversation assembly for post-training data prep:
    gap-sessionize an event/turn stream (:func:`sessionize`), then emit
    ONE ROW PER CONVERSATION — the ordered ``role: content`` transcript
    plus the structural stats an SFT pipeline gates on (turn count,
    consecutive-same-role repeats, wall-clock span).  ``event_id_col``
    is the REQUIRED order tiebreak: same-timestamp turns would otherwise
    assemble nondeterministically (the repo's determinism-by-
    construction rule).

    Plan: the sessionize window + the per-session lag + the final
    groupBy all key on the user/session — one shuffle chain, skew-safe
    under AQE.  Transcripts materialize per session via sorted
    collect_list (bounded by conversation length; route pathological
    mega-sessions through group_stream.apply_stream instead).

    Returns (user, session_id, n_turns, n_role_repeats, duration_s,
    transcript); with ``start_col`` set, also the session's first event
    time (integer µs for timestamps) — the globally unique conversation
    key the streaming twin needs (per-batch session numbering repeats
    across batches)."""
    from pigpen_spark.typeutil import epoch_seconds

    sess = sessionize(df, user_col, ts_col, gap_seconds)
    dt = sess.select(F.col(ts_col).alias("__t")).schema["__t"] \
        .dataType.simpleString()
    is_ts = dt.startswith("timestamp")
    # timestamps: integer µs (exact); numeric columns: the caller's own
    # unit, both for the gap (sessionize treats it as seconds) and the
    # reported duration — no unit is invented for them
    us = (F.unix_micros(F.col(ts_col).cast("timestamp"))
          if is_ts else F.col(ts_col).cast("bigint"))
    dur_div = 1_000_000 if is_ts else 1
    turn = F.concat(F.col(role_col).cast("string"), F.lit(": "),
                    F.col(content_col).cast("string"))
    w = Window.partitionBy("session_id").orderBy(us, F.col(event_id_col))
    t = (
        sess.withColumn("__us", us)
        .withColumn("__turn", turn)
        .withColumn(
            "__rep",
            (F.lag(F.col(role_col)).over(w) == F.col(role_col))
            .cast("long"))
    )
    extra = ([F.min("__us").cast("bigint").alias(start_col)]
             if start_col else [])
    return (
        t.groupBy(F.col(user_col), F.col("session_id"))
        .agg(
            *extra,
            F.count(F.lit(1)).alias("n_turns"),
            F.coalesce(F.sum("__rep"), F.lit(0)).alias("n_role_repeats"),
            F.expr(f"CAST((max(__us) - min(__us)) DIV {dur_div} AS BIGINT)")
             .alias("duration_s"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(
                        F.col("__us").alias("u"),
                        F.col(event_id_col).alias("i"),
                        F.col("__turn").alias("t")))),
                    lambda x: x["t"]),
                sep).alias("transcript"),
        )
    )


def session_stats(df: DataFrame, user_col: str, ts_col: str,
                  gap_seconds: int) -> DataFrame:
    """Per-user sessionization ROLLUP — the engagement-profile pass next
    to :func:`assemble_conversations` (which emits per-session rows):
    gap-sessionize, aggregate each session to scalars, then roll the
    sessions up per user.  Two groupBys over the same user-keyed shuffle
    chain as the sessionize window (AQE-coalesced); per-user state is a
    handful of integers, never a transcript.

    Returns (user, n_sessions, n_events, bounces, max_session_events,
    max_duration_s) — ``bounces`` = single-event sessions, durations in
    integer seconds (µs DIV 1e6 for timestamps; the caller's own unit
    for numeric ts columns, matching :func:`sessionize`'s gap unit)."""
    return session_profile(sessionize(df, user_col, ts_col, gap_seconds),
                           user_col, ts_col)


def session_profile(sess: DataFrame, user_col: str, ts_col: str) -> DataFrame:
    """Per-user profile of an ALREADY-SESSIONIZED frame (``session_id``
    present) — the shared aggregation behind :func:`session_stats` and
    ``streaming.session_stats_stream``: both the batch operator and the
    live rollup call THIS, so the bounce/duration definitions cannot
    drift between them.  Every measure is associative (sums/maxima),
    which is what lets the streaming twin merge per-batch partials."""
    dt = sess.select(F.col(ts_col).alias("__t")).schema["__t"] \
        .dataType.simpleString()
    is_ts = dt.startswith("timestamp")
    us = (F.unix_micros(F.col(ts_col).cast("timestamp"))
          if is_ts else F.col(ts_col).cast("bigint"))
    dur_div = 1_000_000 if is_ts else 1
    per_sess = (
        sess.withColumn("__us", us)
        .groupBy(F.col(user_col), F.col("session_id"))
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.expr(f"CAST((max(__us) - min(__us)) DIV {dur_div} AS BIGINT)")
             .alias("__dur"),
        )
    )
    return per_sess.groupBy(F.col(user_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("__n").cast("long").alias("n_events"),
        F.sum((F.col("__n") == 1).cast("long")).cast("long").alias("bounces"),
        F.max("__n").cast("long").alias("max_session_events"),
        F.max("__dur").cast("long").alias("max_duration_s"),
    )


def resample_ffill(df: DataFrame, key_cols: Sequence, ts_col: str,
                   value_cols: Sequence, interval_seconds: int,
                   tiebreak: Sequence = ()) -> DataFrame:
    """Resample an irregular per-key time series onto a regular grid
    with forward-fill — the metrics-pipeline staple (sensor/price/state
    series joined against model features need aligned timestamps):
    per key, one row per ``interval_seconds`` bucket from its first to
    its last observation, each carrying the values of the latest
    observation at-or-before the bucket (buckets before a key's first
    observation don't exist by construction, so no NULL leading edge).

    Plan: integer-µs bucket ids (``epoch_us DIV interval`` — no float
    boundary jitter); ONE groupBy picks each bucket's last observation
    (latest (ts, tiebreak) wins, made total by the tiebreak columns),
    a per-key sequence explode builds the grid (O(span/interval) rows),
    and one ordered window forward-fills — everything keyed on the
    grouping columns, no global funnel.  Gap blowup is the caller's
    lever: a key spanning years at second granularity explodes
    span/interval rows, so pick the interval for the join you're
    feeding.

    Returns (keys…, bucket_ts_us, values…) — bucket_ts_us is the
    bucket's START.  Pre-epoch timestamps are out of contract (integer
    DIV truncates toward zero, shifting pre-1970 bucket boundaries —
    the repo-wide convention, see dedup_keyed_window)."""
    if interval_seconds < 1:
        raise ValueError(
            f"resample_ffill: interval_seconds must be >= 1, got {interval_seconds}")
    keys = [_c(k) for k in key_cols]
    key_names = [df.select(k).columns[0] for k in keys]
    dt = df.select(_c(ts_col).alias("__t")).schema["__t"].dataType.simpleString()
    is_ts = dt.startswith("timestamp")
    # timestamps: integer µs; numeric ts columns keep the CALLER'S unit
    # for both the interval and bucket_ts_us (the assemble_conversations
    # unit discipline — no unit is invented for numeric inputs)
    us = (F.unix_micros(_c(ts_col).cast("timestamp")) if is_ts
          else _c(ts_col).cast("bigint"))
    iv = int(interval_seconds) * (1_000_000 if is_ts else 1)
    bucket = F.expr(f"CAST({'__pp_us'} DIV {iv} AS BIGINT)")
    vals = [_c(v) for v in value_cols]
    val_names = [df.select(v).columns[0] for v in vals]
    base = df.withColumn("__pp_us", us)
    # 1. last observation per (key, bucket): latest (us, tiebreak) wins
    obs = (base.withColumn("__pp_b", bucket)
           .withColumn("__pp_rn", F.row_number().over(
               Window.partitionBy(*keys, F.col("__pp_b")).orderBy(
                   F.col("__pp_us").desc(),
                   *[_c(t).desc() for t in tiebreak])))
           .filter(F.col("__pp_rn") == 1)
           .select(*key_names, "__pp_b", *val_names))
    # 2. per-key grid
    span = base.groupBy(*keys).agg(
        F.min(bucket).alias("__pp_lo"), F.max(bucket).alias("__pp_hi"))
    grid = span.select(
        *key_names,
        F.explode(F.sequence(F.col("__pp_lo"), F.col("__pp_hi")))
        .alias("__pp_b"))
    # 3. forward fill over the grid
    wf = (Window.partitionBy(*[F.col(k) for k in key_names])
          .orderBy("__pp_b")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    joined = grid.join(obs, on=key_names + ["__pp_b"], how="left")
    filled = [F.last(F.col(v), ignorenulls=True).over(wf).alias(v)
              for v in val_names]
    return joined.select(
        *key_names,
        (F.col("__pp_b") * iv).alias("bucket_ts_us"),
        *filled)
