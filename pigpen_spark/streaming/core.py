"""Structured Streaming variants of the engine's operators.

Pure extension surface — the reference has NO distributed streaming
(SURVEY §2.8: pigpen-rx is a local lazy evaluator, not an engine).  The
same Relation operators run unchanged on streaming DataFrames (Spark's
unified batch/stream semantics); this module adds the streaming-only
pieces: watermarks, event-time windows, session windows, streaming dedup,
custom stateful ops, and multi-sink fan-out.

Scale posture: every operator is keyed-state based (no global state),
watermarks bound state size, and ``foreachBatch`` fan-out persists each
micro-batch once for N sinks (the streaming analog of store-many$).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pigpen_spark.relation import Relation


def read_stream_parquet(spark: SparkSession, path: str, schema) -> Relation:
    """File-source stream (new files under ``path`` become micro-batches)."""
    return Relation(spark.readStream.schema(schema).parquet(path))


def read_stream_json(spark: SparkSession, path: str, schema, **options) -> Relation:
    r = spark.readStream.schema(schema)
    for k, v in options.items():
        r = r.option(k, v)
    return Relation(r.json(path))


def read_stream_rate(spark: SparkSession, rows_per_sec: int = 10) -> Relation:
    """Synthetic benchmark/test source."""
    return Relation(spark.readStream.format("rate").option("rowsPerSecond", rows_per_sec).load())


def windowed_agg(
    df: DataFrame,
    ts_col: str,
    window: str,
    aggs: dict[str, Column],
    keys: Sequence[str] = (),
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling/sliding event-time window aggregation with late-data bound.

    The watermark caps keyed state: windows older than (max event time −
    watermark) finalize and evict — mandatory for unbounded streams."""
    wdf = df.withWatermark(ts_col, watermark)
    win = F.window(F.col(ts_col), window, slide) if slide else F.window(F.col(ts_col), window)
    gb = wdf.groupBy(win.alias("window"), *[F.col(k) for k in keys])
    out = gb.agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *[F.col(k) for k in keys],
        *[F.col(n) for n in aggs],
    )


def sessionize_stream(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
    aggs: dict[str, Column] | None = None,
) -> DataFrame:
    """Gap-based session windows (native ``session_window`` — dynamic
    per-key windows that merge as events arrive)."""
    aggs = aggs or {"n_events": F.count(F.lit(1))}
    wdf = df.withWatermark(ts_col, watermark)
    gb = wdf.groupBy(F.session_window(F.col(ts_col), gap).alias("session"), F.col(user_col))
    out = gb.agg(*[c.alias(n) for n, c in aggs.items()])
    return out.select(
        F.col("session.start").alias("session_start"),
        F.col("session.end").alias("session_end"),
        F.col(user_col),
        *[F.col(n) for n in aggs],
    )


def dedup_stream(df: DataFrame, keys: Sequence[str], ts_col: str, watermark: str = "10 minutes") -> DataFrame:
    """Streaming exact dedup: first occurrence PER KEY wins within the
    watermark horizon; seen-keys state is evicted past the watermark
    (``dropDuplicatesWithinWatermark`` — the streaming form of
    exact_dedup).  A duplicate delivered later than the watermark delay
    can re-emit — the standard at-least-once dedup tradeoff."""
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(keys))


def running_totals(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key running
    (count, sum) across micro-batches — the reference's closest analog is
    reduce-side accumulation (pig/runtime.clj:194-240), here with explicit
    keyed state.

    ``idle_timeout_ms``: evict a key's state after that long without new
    data (ProcessingTimeTimeout) — REQUIRED for unbounded key spaces, or
    state grows forever.  None keeps totals for the stream's lifetime
    (only safe for small, fixed key sets like event types)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key_col} string, n bigint, total double"
    state_schema = "n bigint, total double"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf[value_col].sum())
        state.update((n, total))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame({key_col: [key[0]], "n": [n], "total": [total]})

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_on: str | None = None,
    tolerance: str = "5 minutes",
    watermark: str = "10 minutes",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with an event-time band.

    Matches rows with equal keys whose right-side event time lies in
    ``[left_ts − tolerance, left_ts + tolerance]``.  Both sides carry
    watermarks and the join condition bounds event-time distance — the two
    things Spark needs to evict buffered state (without them an inner join
    buffers both streams forever; outer joins are rejected outright).
    State per key is O(events within watermark+tolerance horizon).

    Left/outer joins emit their null-padded rows only once the watermark
    passes (late-arrival certainty), so results trail the watermark delay —
    inherent to the model, not a bug.

    Column naming: output keeps left columns as-is and prefixes right
    columns with ``r_`` when the name collides (key column included only
    once, from the left)."""
    right_on = right_on or on
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    # prefix colliding right-side names (incl. same-named key: keep left's)
    collide = {c for c in rw.columns if c in set(lw.columns)}
    renamed = rw.select(
        *[F.col(c).alias(f"r_{c}") if c in collide else F.col(c) for c in rw.columns]
    )
    r_key = f"r_{right_on}" if right_on in collide else right_on
    r_ts = f"r_{right_ts}" if right_ts in collide else right_ts
    cond = (
        (lw[on] == renamed[r_key])
        & (renamed[r_ts] >= F.col(left_ts) - F.expr(f"INTERVAL {tolerance}"))
        & (renamed[r_ts] <= F.col(left_ts) + F.expr(f"INTERVAL {tolerance}"))
    )
    out = lw.join(renamed, on=cond, how=how)
    if right_on in collide and how in ("inner", "left", "left_outer", "leftouter"):
        # right key is redundant here; for right/full outer it must stay
        # (unmatched right rows carry the only non-null key)
        out = out.drop(renamed[r_key])
    return out


def stream_static_join(stream: DataFrame, static: DataFrame, on: str,
                       right_on: str | None = None, how: str = "inner") -> DataFrame:
    """Enrich a stream against a static dimension (the standard streaming
    lookup-join): the static side is broadcast per micro-batch, no state.

    For stream-stream joins use plain ``Relation.join`` on two watermarked
    streams — Spark handles the state; both sides need watermarks."""
    right_on = right_on or on
    cond = stream[on] == static[right_on]
    joined = stream.join(F.broadcast(static), on=cond, how=how)
    if on == right_on and how in (
        "inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi",
        "left_anti", "leftanti",
    ):
        # same-named key: keep the stream-side copy only.  For right/full
        # outer the static-side key must stay — on unmatched static rows it
        # is the only non-null key (mirrors stream_stream_join's guard).
        joined = joined.drop(static[right_on])
    return joined


def _start(writer, checkpoint: str, available_now: bool):
    """Start a streaming sink (a ``foreachBatch`` handler or a file
    format) with its progress under ``checkpoint``; ``available_now``
    processes what has arrived and stops instead of running until
    stopped."""
    writer = writer.option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def write_stream_parquet(df: DataFrame, path: str, checkpoint: str, available_now: bool = False):
    """Streaming sink with exactly-once file output."""
    return _start(df.writeStream.format("parquet").option("path", path),
                  checkpoint, available_now)


def foreach_batch_many(
    df: DataFrame,
    checkpoint: str,
    writers: Sequence[Callable[[DataFrame, int], None]],
    available_now: bool = False,
):
    """Streaming store-many$: each micro-batch is persisted once, then
    written to every sink — the reference's shared-subplan dedupe
    (oven.clj:122-159) applied per batch."""

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for w in writers:
                w(batch_df, batch_id)
        finally:
            batch_df.unpersist()

    return _start(df.writeStream.foreachBatch(handle), checkpoint, available_now)


def curate_stream(df: DataFrame, id_col: str, content_col: str, ts_col: str,
                  splits=None, min_quality: float = 0.5,
                  watermark: str = "10 minutes",
                  min_margin: float | None = None,
                  min_lm: float | None = None,
                  extract: bool = False) -> DataFrame:
    """Streaming corpus curation — the readStream form of
    ext_corpus_pipeline's per-row stages: quality gate (composite score
    >= ``min_quality``) → optional model gates (hashed linear classifier
    margin >= ``min_margin``, bigram LM score >= ``min_lm`` — both pure
    per-row expressions, so they stream with zero state) → exact content
    dedup within the watermark horizon (md5 digest keyed, first
    occurrence wins, state evicted past the watermark) → deterministic
    hash-split labeling.

    All gates are stateless per-row expressions except the dedup, whose
    state is one digest per surviving doc inside the horizon — bounded by
    arrival rate × watermark, not corpus size.  Cross-batch NEAR-dup
    (MinHash) intentionally stays a batch job against the stored
    signature index (dedup.minhash_candidates_against): LSH banding needs
    a self-join Structured Streaming can't express incrementally; the
    production topology is stream-curate → micro-batch index join.

    Model-gated rows with NULL scores (token-less / single-token docs)
    are dropped by the >= comparison — a degenerate doc carries no
    evidence of quality.

    Returns the stream with (quality, __digest dropped, split) attached —
    writeStream-ready in append mode.
    """
    from pigpen_spark.functions.classify import bigram_lm_score, hashed_linear_score
    from pigpen_spark.functions.pipeline import split_by_hash
    from pigpen_spark.functions.text import quality_score

    splits = splits or {"train": 0.9, "val": 0.05, "test": 0.05}
    if extract:
        # crawl-drop form: payloads arrive as raw HTML — extraction and
        # normalization are stateless per-row regexp chains, so they
        # stream exactly like the gates below
        from pigpen_spark.functions.text import normalize_text, strip_markup

        df = df.withColumn(content_col, normalize_text(strip_markup(F.col(content_col))))
    gated = (
        df.withColumn("quality", quality_score(F.col(content_col)))
        .filter(F.col("quality") >= min_quality)
    )
    if min_margin is not None:
        gated = gated.filter(
            hashed_linear_score(F.col(content_col)) >= min_margin
        )
    if min_lm is not None:
        gated = gated.filter(bigram_lm_score(F.col(content_col)) >= min_lm)
    gated = gated.withColumn("__digest", F.md5(F.col(content_col)))
    deduped = dedup_stream(gated, ["__digest"], ts_col, watermark).drop("__digest")
    return split_by_hash(deduped, id_col, splits, salt="cp")


def dedup_stream_incremental(
    stream: DataFrame, index_path: str, out_path: str, checkpoint: str,
    id_col: str = "doc_id", content_col: str = "text",
    k: int = 12, bands: int = 4, shingle_n: int = 3,
    threshold: float = 0.7, available_now: bool = False,
):
    """Streaming MinHash near-dup gate against a STORED signature index —
    the micro-batch topology curate_stream's docstring promises: LSH
    banding needs a self-join Structured Streaming can't express
    incrementally, so each micro-batch runs the BATCH operator
    (:func:`pigpen_spark.functions.dedup.minhash_candidates_against`)
    against the index, drops batch docs whose estimated Jaccard vs any
    indexed doc reaches ``threshold``, appends survivors to ``out_path``
    AND their k-int signatures to ``index_path`` — so batch N+1 is
    deduped against batch N's survivors, not just the seed corpus.

    Within a batch, near-dup groups keep the smallest id (greedy: a doc
    survives unless it pairs at ≥threshold with a smaller surviving-or-
    smaller id — one candidate pass, same keep-min convention as
    exact_keep).

    State lives in PARQUET (the index), not in streaming state: the
    operator is restart-safe at any horizon — unlike watermarked exact
    dedup, which can only remember digests inside the watermark.  At
    100 TB the index side is ~50 bytes/doc of stored signatures; each
    micro-batch joins it on (band, bhash) with the batch side broadcast
    under AQE.

    The index append and survivor append are NOT atomic across the two
    paths; a crash between them can leave a signature whose text never
    landed — a false-positive dup for a later copy, never a lost doc —
    and the checkpoint replays the batch idempotently for the sink.

    Returns the started StreamingQuery."""
    from pyspark.errors import AnalysisException

    from pigpen_spark.functions.dedup import (
        minhash_candidates, minhash_candidates_against, minhash_index,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        try:
            # drop batch docs near-dup of an INDEXED doc
            try:
                index = spark.read.parquet(index_path)
                has_index = True
            except AnalysisException:
                has_index = False
            survivors = batch_df
            if has_index:
                dup_ids = (
                    minhash_candidates_against(
                        batch_df, index, id_col, content_col,
                        k=k, bands=bands, shingle_n=shingle_n,
                    )
                    .filter(F.col("est_jaccard") >= threshold)
                    .select(F.col("new_id").alias(id_col))
                    .distinct()
                )
                survivors = batch_df.join(dup_ids, on=id_col, how="left_anti")
            # within-batch keep-min over near-dup pairs
            intra = (
                minhash_candidates(
                    survivors, id_col, content_col,
                    k=k, bands=bands, shingle_n=shingle_n,
                )
                .filter(F.col("est_jaccard") >= threshold)
                .select(F.greatest(F.col("id_a"), F.col("id_b")).alias(id_col))
                .distinct()
            )
            survivors = survivors.join(intra, on=id_col, how="left_anti").persist()
            survivors.write.mode("append").parquet(out_path)
            minhash_index(
                survivors, id_col, content_col, k=k, shingle_n=shingle_n
            ).write.mode("append").parquet(index_path)
            survivors.unpersist()
        finally:
            batch_df.unpersist()

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def ann_index_stream(
    stream: DataFrame, index_path: str, checkpoint: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    n_planes: int | str = 6, dim: int | None = None,
    available_now: bool = False,
):
    """Streaming ANN index maintenance — the live twin of
    :func:`pigpen_spark.functions.similarity.lsh_index_append`: each
    micro-batch of vectors is hashed ALONE (never the stored corpus)
    and appended to the parquet index that
    :func:`similarity.lsh_topk_against` serves from.

    The plane count comes OFF the stored artifact once it exists (the
    bucket-width probe — build and maintenance cannot disagree); the
    first batch seeds the index at ``n_planes`` (``"auto"`` density-
    sizes from that batch).  Batches write to ``batch={id}``
    subdirectories with overwrite, so a checkpoint replay rewrites its
    own directory instead of double-appending — exactly-once index
    contents without a transactional store.  The append==rebuild
    invariant is inherited from the batch operator and pinned by the
    streamed==one-shot pytest.

    Staleness stays a MONITORING decision, not a per-batch one: run
    :func:`similarity.lsh_index_drift` on a schedule; when it flags
    ``stale``, rebuild once and restart the stream on the new artifact.

    Returns the started StreamingQuery."""
    from pyspark.errors import AnalysisException

    from pigpen_spark.functions.similarity import (
        lsh_index, resolve_planes, stored_plane_count,
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # empty micro-batches are normal under processing-time triggers;
        # without this guard the FIRST-ever empty batch with
        # n_planes='auto' would call lsh_planes_for(0) and kill the stream
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        try:
            np_ = stored_plane_count(spark.read.parquet(index_path))
        except AnalysisException:
            np_ = resolve_planes(n_planes, batch_df)
        rows = lsh_index(batch_df, id_col, vec_col, n_planes=np_, dim=dim)
        rows.write.mode("overwrite").parquet(f"{index_path}/batch={batch_id}")

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def pq_index_stream(
    stream: DataFrame, codes_path: str, codebook_path: str, checkpoint: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
    available_now: bool = False,
):
    """Streaming COMPRESSED-index maintenance — the live twin of
    :func:`pigpen_spark.functions.similarity.pq_index_append`: each
    micro-batch of vectors is PQ-coded ALONE against the STORED
    codebook and appended to the codes parquet that
    :func:`similarity.pq_topk_against` serves from.

    The codebook comes OFF the stored artifact once it exists (the
    :func:`similarity.stored_codebook` probe — build and maintenance
    cannot disagree); the FIRST batch seeds it (``codebook=`` for a
    trained one, else the deterministic first-``n_codes``-by-id rows of
    that batch) and writes it to ``codebook_path``.  ``m`` is fixed per
    index by construction (codes are m-wide forever — changing it is a
    rebuild).  Batches write to ``batch={id}`` subdirectories with
    overwrite, so a checkpoint replay rewrites its own directory
    instead of double-appending — exactly-once index contents without a
    transactional store.  append == rebuild-with-the-frozen-codebook is
    inherited from the batch operator (coding is a pure function of
    (vector, codebook)) and pinned by the streamed==one-shot pytest.

    Codebook retraining stays a MONITORING decision (the
    :func:`similarity.lsh_index_drift` shape-drift signal): retraining
    re-codes every vector — rebuild once, restart the stream on the new
    artifacts.

    Returns the started StreamingQuery."""
    from pigpen_spark.functions import similarity as S

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # empty micro-batches are normal under processing-time triggers;
        # seeding a codebook from one would collect zero rows and wedge
        if batch_df.isEmpty():
            return
        S._refuse_width_change(batch_df.sparkSession, codes_path, m,
                               "pq_index_stream")
        cb = S._stream_codebook(codebook_path, batch_df, id_col, vec_col,
                                n_codes, codebook)
        S._pq_code_batch(batch_df, cb, m, id_col, vec_col) \
            .write.mode("overwrite").parquet(f"{codes_path}/batch={batch_id}")

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def ivf_pq_index_stream(
    stream: DataFrame, lists_path: str, codebook_path: str,
    centroids_path: str, checkpoint: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    m: int = 8, n_codes: int = 16, n_centroids: int = 16,
    codebook: list[list[float]] | None = None,
    coarse_centroids: list[list[float]] | None = None,
    available_now: bool = False,
):
    """Streaming IVF-PQ index maintenance — the live twin of
    :func:`pigpen_spark.functions.similarity.ivf_pq_index_append`: each
    micro-batch is assigned to its stored coarse cell AND PQ-coded
    against the stored codebook (one fused
    :func:`similarity.ivf_code_batch` delta — both pure functions of
    (vector, quantizers)), then appended to the inverted-lists parquet
    that :func:`similarity.ivf_pq_topk_against` serves from.

    Quantizer doctrine is inherited wholesale from
    :func:`pq_index_stream`: BOTH quantizers come OFF the stored
    artifacts once they exist (stored-wins — maintenance and build
    cannot disagree); the FIRST batch seeds them (``codebook=`` /
    ``coarse_centroids=`` for trained ones, else the deterministic
    first-N-by-id rows of that batch, matching
    :func:`similarity.ivf_pq_index`'s defaults so streamed ==
    one-shot row-for-row) and writes them out; ``m`` is validated
    against the stored code width once lists exist (changing it is a
    REBUILD).  Batches write to ``batch={id}`` subdirectories with
    overwrite — checkpoint replays rewrite their own directory instead
    of double-appending (exactly-once index contents without a
    transactional store).  Retraining either quantizer re-assigns or
    re-codes every vector: rebuild once, restart the stream on the new
    artifacts (the :func:`similarity.lsh_index_drift` signal decides
    when).

    Returns the started StreamingQuery."""
    from pigpen_spark import cache as _cache
    from pigpen_spark.functions import similarity as S

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        S._refuse_width_change(spark, lists_path, m, "ivf_pq_index_stream")
        cb = S._stream_codebook(codebook_path, batch_df, id_col, vec_col,
                                n_codes, codebook)
        # scoped cache release: the batch's persisted (id, vec, nrm) base
        # (read by the centroid seed and by ivf_code_batch) dies with the
        # batch — a long-running stream must not accumulate one cache per
        # micro-batch
        with _cache.scope():
            cents_df = S._stored_or_seed(
                spark, centroids_path,
                lambda: S._cell_table(S._vec_base(batch_df, id_col, vec_col),
                                      n_centroids, coarse_centroids),
                lambda table: table)
            S.ivf_code_batch(batch_df, cb, cents_df, m, id_col, vec_col) \
                .write.mode("overwrite").parquet(f"{lists_path}/batch={batch_id}")

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def opq_index_stream(
    stream: DataFrame, codes_path: str, codebook_path: str,
    rotation_path: str, checkpoint: str,
    id_col: str = "vec_id", vec_col: str = "embedding",
    m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
    rotation: list[list[float]] | None = None,
    available_now: bool = False,
):
    """Streaming OPQ index maintenance — completes the compressed-index
    streaming family (PQ :func:`pq_index_stream`, IVF-PQ
    :func:`ivf_pq_index_stream`): each micro-batch is rotated by the
    STORED matrix and PQ-coded against the STORED codebook (both pure
    functions of the vector, so append == rebuild and replays are
    idempotent), then appended to the codes parquet that
    :func:`similarity.opq_topk_against` serves from alongside the
    rotation + codebook artifacts.

    Seeding doctrine: the FIRST batch writes the rotation
    (``rotation=`` for a trained matrix, else
    :func:`similarity.train_opq_rotation` fit on that batch — FAISS
    trains OPQMatrix on a sample too) and the codebook (``codebook=``,
    else the deterministic first-``n_codes``-by-id rows of the ROTATED
    batch, matching :func:`similarity.opq_index`); thereafter both come
    OFF the stored artifacts (stored-wins).  ``m`` is validated against
    the stored code width once codes exist — changing it is a REBUILD.
    Retraining the rotation re-codes every vector: rebuild + restart.

    Returns the started StreamingQuery."""
    from pigpen_spark import cache as _cache
    from pigpen_spark.functions import similarity as S

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        S._refuse_width_change(spark, codes_path, m, "opq_index_stream")
        def seed_rotation():
            R = rotation if rotation is not None else S.train_opq_rotation(
                batch_df, id_col, vec_col, dim=S.infer_dim(batch_df, vec_col), m=m)
            return S._rotation_df(spark, R)

        R = S._stored_or_seed(spark, rotation_path, seed_rotation, S.stored_rotation)
        with _cache.scope():
            rot = S.rotate_vectors(batch_df, id_col, vec_col, R)
            cb = S._stream_codebook(codebook_path, rot, id_col, vec_col,
                                    n_codes, codebook)
            S._pq_code_batch(rot, cb, m, id_col, vec_col) \
                .write.mode("overwrite").parquet(f"{codes_path}/batch={batch_id}")

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def _parquet_versions(base_path: str) -> list[int]:
    """Committed versions of a versioned-parquet state dir: v{N}
    subdirectories that contain a _SUCCESS marker.  A crash mid-write
    leaves a directory WITHOUT the marker — treating bare existence as
    'applied' would permanently wedge (errorifexists blocks the rewrite)
    or silently undercount; uncommitted dirs are cleared for rewrite."""
    import shutil

    base = Path(base_path)
    if not base.exists():
        return []
    out = []
    for p in base.iterdir():
        if not (p.name.startswith("v") and p.name[1:].isdigit()):
            continue
        if (p / "_SUCCESS").exists():
            out.append(int(p.name[1:]))
        else:
            shutil.rmtree(p, ignore_errors=True)   # partial write: retry
    return sorted(out)


def take_budget_stream(
    stream: DataFrame, order_by: Sequence[str], size, budget: int,
    out_path: str, totals_path: str, checkpoint: str,
    available_now: bool = False,
):
    """Streaming budgeted selection — the live twin of
    :func:`pigpen_spark.operators.windows.take_budget`: micro-batches
    arrive, each is cut against the budget REMAINING after everything
    already accepted, and accepted rows append with their GLOBAL
    inclusive running token sum (``cum_size``).  Once the running total
    crosses the budget the gate closes: later batches (and later rows
    of the crossing batch) are dropped entirely, exactly the batch
    operator's keep rule (exclusive-cumsum < budget — the crossing row
    itself is kept) applied across batch boundaries.  When batches
    arrive in global ``order_by`` chunks, streamed selection == one
    batch ``take_budget`` over the concatenated corpus row-for-row
    (pinned); out-of-order arrival degrades to first-come accounting —
    the honest semantics of gating an infinite stream.

    State is the accepted-token total, stored as versioned 1-row
    parquet (``v{batch_id}``, the rollup_stream discipline): a replayed
    batch whose version exists is skipped, selected rows land in
    ``batch={id}`` directories with overwrite-on-replay, so a crash
    anywhere replays to the same selection (exactly-once without a
    transactional sink).  Per batch the cut itself is the scale-safe
    two-phase cumsum — never a one-partition window over the batch.

    Returns the started StreamingQuery."""
    import shutil

    from pigpen_spark import cache as _cache
    from pigpen_spark.operators.windows import take_budget

    if budget < 0:
        raise ValueError(f"take_budget_stream: negative budget {budget}")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vs = _parquet_versions(totals_path)
        if batch_id in vs:   # checkpoint replay of an applied batch
            return
        prev = 0
        if vs:
            prev = spark.read.parquet(f"{totals_path}/v{vs[-1]}") \
                .collect()[0]["accepted_tokens"]
        accepted = 0
        if prev < budget and not batch_df.isEmpty():
            # the cut's frozen tagging dies with the batch
            with _cache.scope():
                sel = take_budget(batch_df, order_by, size, budget - prev)
                sel = sel.withColumn(
                    "cum_size", (F.col("cum_size") + F.lit(prev)).cast("long"))
                sel.write.mode("overwrite").parquet(
                    f"{out_path}/batch={batch_id}")
                row = sel.agg(F.coalesce(F.max("cum_size"), F.lit(prev))
                              .alias("m")).collect()[0]
            accepted = int(row["m"]) - prev
        spark.createDataFrame(
            [(int(prev + accepted), int(batch_id))],
            "accepted_tokens long, batch_id long",
        ).write.mode("errorifexists").parquet(f"{totals_path}/v{batch_id}")
        for v in vs:   # best-effort prune of superseded ledger versions
            shutil.rmtree(f"{totals_path}/v{v}", ignore_errors=True)

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def rollup_stream(
    stream: DataFrame, keys: Sequence[str], aggs: dict, merges: dict,
    rollup_path: str, checkpoint: str, available_now: bool = False,
):
    """Streaming incremental rollup maintenance: each micro-batch
    aggregates ONLY itself (``aggs``: name → aggregate Column over the
    batch) and merges into the stored rollup by associative
    re-aggregation (``merges``: name → sum/min/max/count/bit_or —
    :func:`pigpen_spark.operators.analytics.merge_rollups`).  The
    lambda-architecture serving view without a full recompute, and the
    streaming twin of ``ext_incremental_rollup`` — batch backfill and
    live maintenance share ONE merge definition, so they cannot drift.

    The rollup is stored in versioned parquet subdirectories
    (``v{batch_id}``, highest version = current) because overwriting the
    directory a lazy frame was just read from is a correctness trap; a
    ``MERGE INTO``-capable table format collapses this to one statement.
    Old versions are pruned after each successful write (best-effort —
    a crash between write and prune leaves an extra version, never a
    wrong rollup, and the checkpoint replays idempotently: re-merging
    batch N onto the v{N} it already produced is prevented by writing
    v{batch_id} only if it does not exist).

    Returns the started StreamingQuery."""
    import shutil

    from pigpen_spark.operators.analytics import merge_rollups

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vs = _parquet_versions(rollup_path)
        if batch_id in vs:   # checkpoint replay of an applied batch
            return
        part = batch_df.groupBy(*keys).agg(
            *[c.alias(n) for n, c in aggs.items()])
        parts = [part]
        if vs:
            parts.append(spark.read.parquet(f"{rollup_path}/v{vs[-1]}"))
        merged = merge_rollups(parts, list(keys), merges)
        merged.write.mode("errorifexists").parquet(f"{rollup_path}/v{batch_id}")
        for v in vs:   # best-effort prune of superseded versions
            shutil.rmtree(f"{rollup_path}/v{v}", ignore_errors=True)

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def drift_monitor_stream(
    stream: DataFrame, value, lo: int, hi: int, baseline_path: str,
    alarms_path: str, checkpoint: str, n_bins: int = 128,
    l1_alarm_ppm: int = 200_000, available_now: bool = False,
):
    """Streaming distribution-drift monitor: each micro-batch reduces to
    a fixed-bin histogram sketch and compares against the STORED baseline
    histogram (:func:`pigpen_spark.functions.sketch.histogram_drift`
    semantics); batches whose integer-ppm L1 distance reaches
    ``l1_alarm_ppm`` append an alarm row (batch_id, n_old, n_new, l1_ppm,
    linf_ppm) to ``alarms_path``.  The baseline is parquet (≤ n_bins
    rows), written from the first batch if absent — seed it explicitly
    from a trusted window for production.

    The live half of ``ext_histogram_drift``: batch backfill and stream
    share one drift definition, so alarms can't disagree with the nightly
    job.  Per batch: one partial-aggregating scan of the batch + an outer
    join of two ≤ n_bins-row sketches — nothing data-sized crosses."""
    from pigpen_spark.functions.sketch import histogram_sketch

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        hist = histogram_sketch(batch_df, value, lo, hi, n_bins)
        try:
            base = spark.read.parquet(baseline_path)
        except Exception:
            hist.write.mode("errorifexists").parquet(baseline_path)
            return
        j = base.withColumnRenamed("cnt", "c_old").join(
            hist.withColumnRenamed("cnt", "c_new"), on="bin", how="full_outer"
        ).select(
            F.coalesce(F.col("c_old"), F.lit(0)).alias("c_old"),
            F.coalesce(F.col("c_new"), F.lit(0)).alias("c_new"),
        )
        tot = j.agg(F.sum("c_old").alias("n_old"), F.sum("c_new").alias("n_new"))
        so = "CASE WHEN n_old = 0 THEN 0 ELSE c_old * 1000000 DIV n_old END"
        sn = "CASE WHEN n_new = 0 THEN 0 ELSE c_new * 1000000 DIV n_new END"
        row = (
            j.crossJoin(F.broadcast(tot))
            .select("n_old", "n_new", F.abs(F.expr(f"{so} - {sn}")).alias("d"))
            .groupBy("n_old", "n_new")
            .agg(F.sum("d").alias("l1_ppm"), F.max("d").alias("linf_ppm"))
            .first()
        )
        if row is not None and row["l1_ppm"] >= l1_alarm_ppm:
            spark.createDataFrame(
                [(batch_id, row["n_old"], row["n_new"],
                  row["l1_ppm"], row["linf_ppm"])],
                "batch_id long, n_old long, n_new long, l1_ppm long, linf_ppm long",
            ).write.mode("append").parquet(alarms_path)

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def boilerplate_stream(
    stream: DataFrame, id_col: str, text_col: str,
    freq_path: str, out_path: str, checkpoint: str,
    chunk: int = 8, min_docs: int = 10, available_now: bool = False,
):
    """Streaming twin of :func:`pigpen_spark.functions.pipeline.
    remove_frequent_spans`: each micro-batch merges its per-doc-DISTINCT
    span counts into a stored cumulative frequency table (versioned
    parquet, same replay-idempotence scheme as :func:`rollup_stream`),
    derives the ban set from the UPDATED cumulative counts, strips banned
    spans from the batch's documents, and appends the cleaned rows
    (id, clean_text, n_removed) to ``out_path``.

    Semantics are the monotone ONLINE approximation of the batch gate:
    a document admitted before its span crossed ``min_docs`` keeps it
    (append-only sink, no retro-edit) — later documents lose it.  The
    batch form over the full corpus remains the exact gate; run it for
    backfills and let this keep the live feed clean.  Per batch: one
    span explode over the BATCH only, a merge with the ≤|vocab|-row
    frequency table, and a broadcast ban-set HOF filter — nothing
    corpus-sized moves."""
    import shutil

    from pigpen_spark.functions.pipeline import token_chunks

    if min_docs < 2:
        raise ValueError(
            f"boilerplate_stream: min_docs must be >= 2, got {min_docs}"
        )   # same guard as the batch twin — min_docs=1 bans every span

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sink_dir = Path(out_path) / f"batch={batch_id}"
        if (sink_dir / "_SUCCESS").exists():
            return            # checkpoint replay of a fully applied batch
        shutil.rmtree(sink_dir, ignore_errors=True)   # partial sink write
        src = batch_df.select(
            F.col(id_col).alias("__id"),
            token_chunks(F.col(text_col), chunk).alias("__chunks"),
        ).localCheckpoint(eager=True)   # pin: the frequency table this
        # batch reads is overwritten below; lazy re-reads must not see it
        vs = _parquet_versions(freq_path)
        if batch_id not in vs:
            counts = (
                src.select(F.explode(F.array_distinct("__chunks")).alias("c"))
                .groupBy("c").agg(F.count(F.lit(1)).alias("n"))
            )
            if vs:
                prev = spark.read.parquet(f"{freq_path}/v{vs[-1]}")
                counts = (
                    counts.unionByName(prev)
                    .groupBy("c").agg(F.sum("n").alias("n"))
                )
            counts.write.mode("errorifexists").parquet(f"{freq_path}/v{batch_id}")
            for v in vs:
                shutil.rmtree(f"{freq_path}/v{v}", ignore_errors=True)
        cur = spark.read.parquet(f"{freq_path}/v{batch_id}")
        ban = cur.filter(F.col("n") >= min_docs).agg(
            F.collect_list("c").alias("__ban"))
        kept = F.filter(F.col("__chunks"),
                        lambda c: ~F.array_contains(F.col("__ban"), c))
        out = (
            src.crossJoin(F.broadcast(ban))
            .select(
                F.col("__id").alias(id_col),
                F.array_join(kept, " ").alias("clean_text"),
                (F.size("__chunks") - F.size(kept)).cast("long").alias("n_removed"),
            )
        )
        # batch-keyed sink directory (partition discovery adds a `batch`
        # column for readers of out_path) — replay-idempotent like the
        # frequency table, unlike a bare append which would duplicate the
        # batch's rows on checkpoint replay
        out.write.mode("errorifexists").parquet(str(sink_dir))

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def stream_group_accumulate(
    df: DataFrame,
    key_col: str,
    init,
    accumulate,
    emit,
    out_schema: str,
    ts_col: str,
    watermark: str = "10 minutes",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """GENERIC streaming Accumulator — the micro-batch twin of
    :meth:`pigpen_spark.relation.GroupedRelation.apply_stream` (same
    ``init(key) -> state`` / ``accumulate(state, chunk_pdf) -> state`` /
    ``emit(key, state) -> dict`` trio, reference parity: Pig Accumulator,
    pig/runtime.clj:194-240).  State is pickled into the
    applyInPandasWithState store, so any Python value works (running
    hashes, heaps, sketches); each micro-batch's rows for a key arrive as
    bounded pandas chunks and ``emit`` re-emits that key's current row in
    update mode.

    :func:`running_totals` is the specialized (count, sum) instance kept
    for schema-stable state; this form trades a pickle per key per batch
    for arbitrary accumulators.  ``idle_timeout_ms`` evicts idle keys —
    REQUIRED for unbounded key spaces."""
    import pickle

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    state_schema = "blob binary"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        st = pickle.loads(bytes(state.get[0])) if state.exists else init(key)
        for pdf in pdfs:
            st = accumulate(st, pdf)
        state.update((pickle.dumps(st),))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame([emit(key, st)])

    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(update, out_schema, state_schema, "update", timeout)
    )


def kmv_stream(
    stream: DataFrame, item_col: str, sketch_path: str, checkpoint: str,
    k: int = 256, available_now: bool = False,
):
    """Streaming distinct-count maintenance via the KMV/theta sketch
    (:mod:`pigpen_spark.functions.sketch`): each micro-batch sketches
    ONLY itself (one distinct + TakeOrdered to ≤k rows) and merges into
    the stored synopsis — and because the k-min of K_old ∪ K_batch IS
    the k-min of everything ever seen, the stored sketch is at all
    times EXACTLY the batch-mode sketch of the full history (pinned by
    test): estimates, unions and intersections read off a ≤k-row
    parquet with zero recompute.  The streaming twin of
    ``ext_kmv_overlap``, with the versioned-parquet + replay-idempotent
    store discipline of :func:`rollup_stream`.

    Returns the started StreamingQuery."""
    import shutil

    from pigpen_spark.functions.sketch import kmv_merge, kmv_sketch

    if k < 2:
        raise ValueError(f"kmv_stream: k must be >= 2, got {k}")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vs = _parquet_versions(sketch_path)
        if batch_id in vs:   # checkpoint replay of an applied batch
            return
        part = kmv_sketch(batch_df, F.col(item_col), k)
        if vs:
            part = kmv_merge(
                spark.read.parquet(f"{sketch_path}/v{vs[-1]}"), part, k)
        part.write.mode("errorifexists").parquet(f"{sketch_path}/v{batch_id}")
        for v in vs:
            shutil.rmtree(f"{sketch_path}/v{v}", ignore_errors=True)

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def publish_bloom_filter(sketch: DataFrame, filter_path: str,
                         version: int = 0) -> None:
    """Publish a built Bloom filter (:func:`pigpen_spark.functions.
    sketch.bloom_build`) into the versioned sketch store that
    :func:`decontaminate_stream` serves from — ``v{N}`` directory with
    the _SUCCESS-marker commit discipline of every other versioned
    parquet store here.  Re-publishing a refreshed benchmark is writing
    ``v{N+1}``; in-flight batches keep reading the version they saw, the
    next batch picks up the new one."""
    sketch.write.mode("overwrite").parquet(f"{filter_path}/v{version}")


def decontaminate_stream(
    stream: DataFrame, id_col: str, text_col: str, filter_path: str,
    out_path: str, checkpoint: str, n: int = 3, m_bits: int = 8192,
    k: int = 3, available_now: bool = False,
):
    """Streaming decontamination — the live twin of
    ``ext_bloom_decontaminate``'s gate: each micro-batch of incoming
    training documents is probed against the STORED benchmark Bloom
    filter (published via :func:`publish_bloom_filter`; ≤ m_bits/62
    rows, collected once per batch — a bounded driver read at any
    corpus size) and the per-doc verdicts land in a batch-keyed sink.

    The probe is :func:`pigpen_spark.functions.sketch.bloom_gate` — the
    SAME operator a batch backfill runs, so live gating and backfill
    cannot drift (streamed == batch pinned by test).  No shuffle
    carries benchmark data: the filter rides into the probe expression
    as a literal.  Batches write ``batch={id}`` directories with
    overwrite-on-replay (the ann_index_stream discipline), so a
    checkpoint replay rewrites its own directory instead of
    double-emitting — exactly-once verdicts without a transactional
    sink.  Each emitted row records the filter version it was gated
    against, so a benchmark refresh (new version published) leaves an
    auditable seam instead of silently mixing filters.

    Returns the started StreamingQuery."""
    from pigpen_spark.functions.sketch import bloom_gate, bloom_words

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # empty micro-batches are normal under processing-time triggers
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        vs = _parquet_versions(filter_path)
        if not vs:
            raise ValueError(
                "decontaminate_stream: no committed filter version at "
                f"{filter_path}; publish one with publish_bloom_filter()")
        sketch = spark.read.parquet(f"{filter_path}/v{vs[-1]}")
        words = bloom_words(sketch, m_bits)
        out = bloom_gate(batch_df, id_col, text_col, words,
                         n=n, m_bits=m_bits, k=k)
        out.withColumn("filter_version", F.lit(vs[-1])) \
            .write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def linkage_stream(
    stream: DataFrame, roster_path: str, out_path: str, checkpoint: str,
    pair_fn, fields: dict, upper: int, lower: int,
    available_now: bool = False,
):
    """Streaming record linkage — the live twin of
    :func:`pigpen_spark.operators.joins.record_linkage`: each
    micro-batch of NEW records is blocked against the STORED reference
    roster (``pair_fn(batch_df, roster_df) -> candidate pairs`` — the
    caller owns blocking, so the all-pairs trap stays impossible here
    exactly as in batch), scored through the SAME operator with the
    same integer field weights, and the match/review/non_match
    verdicts land in a batch-keyed sink.

    The roster lives in the ``v{N}``/_SUCCESS versioned store (publish
    with a plain ``df.write.parquet(f"{roster_path}/v0")``); each batch
    reads the latest committed version and stamps it on its verdicts,
    so a roster refresh leaves an auditable seam.  Batches write
    ``batch={id}`` directories with overwrite-on-replay — exactly-once
    verdicts without a transactional sink (the decontaminate_stream
    discipline).

    Returns the started StreamingQuery."""
    from pigpen_spark.operators.joins import record_linkage

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        vs = _parquet_versions(roster_path)
        if not vs:
            raise ValueError(
                f"linkage_stream: no committed roster version at {roster_path}")
        roster = spark.read.parquet(f"{roster_path}/v{vs[-1]}")
        pairs = pair_fn(batch_df, roster)
        out = record_linkage(pairs, fields, upper=upper, lower=lower)
        out.withColumn("roster_version", F.lit(vs[-1])) \
            .write.mode("overwrite").parquet(f"{out_path}/batch={batch_id}")

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def conversation_stream(
    stream: DataFrame, user_col: str, ts_col: str, role_col: str,
    content_col: str, event_id_col: str, gap_seconds: int,
    open_path: str, out_path: str, checkpoint: str,
    available_now: bool = False,
):
    """Streaming twin of :func:`pigpen_spark.operators.windows.
    assemble_conversations`: raw events of still-open sessions live in a
    versioned parquet store; each micro-batch unions the store with the
    batch, re-sessionizes, CLOSES every session whose last event is more
    than ``gap_seconds`` behind the maximum event time observed (the
    event-time watermark with zero allowed lateness beyond the gap),
    assembles the closed conversations THROUGH THE BATCH OPERATOR (one
    shared transcript/stat contract — live and backfill cannot drift),
    and writes them to a batch-keyed sink directory.

    Idempotence: the sink is written first (``batch=N`` dir with
    _SUCCESS marker), the open store versioned after — a checkpoint
    replay recomputes the same closed set from the same prior store
    version, skips the finished sink, and redoes only the store write.
    Every conversation is emitted exactly once, because its raw events
    leave the open store in the same batch that emits it.

    Returns the started StreamingQuery."""
    import shutil

    from pigpen_spark.operators.windows import assemble_conversations, sessionize

    slim = [user_col, ts_col, role_col, content_col, event_id_col]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        sink_dir = Path(out_path) / f"batch={batch_id}"
        vs = _parquet_versions(open_path)
        if batch_id in vs and (sink_dir / "_SUCCESS").exists():
            return            # checkpoint replay of a fully applied batch
        prior = [v for v in vs if v != batch_id]
        events = batch_df.select(*slim)
        if prior:
            events = events.unionByName(
                spark.read.parquet(f"{open_path}/v{prior[-1]}"))
        # pin: the store version this batch reads is pruned below; the
        # closed/open split must not lazily re-read it afterwards
        sess = sessionize(events, user_col, ts_col,
                          gap_seconds).localCheckpoint(eager=True)
        from pigpen_spark.typeutil import epoch_seconds

        ts_num = epoch_seconds(sess, ts_col)
        wm = sess.agg(F.max(ts_num).alias("__wm"))
        last = sess.groupBy("session_id").agg(F.max(ts_num).alias("__last"))
        closed_ids = (last.crossJoin(F.broadcast(wm))
                      .filter(F.col("__wm") - F.col("__last")
                              > F.lit(gap_seconds))
                      .select("session_id"))
        closed = sess.join(closed_ids, on="session_id", how="left_semi")
        still_open = sess.join(closed_ids, on="session_id", how="left_anti")
        if not (sink_dir / "_SUCCESS").exists():
            shutil.rmtree(sink_dir, ignore_errors=True)   # partial write
            convs = assemble_conversations(
                closed.drop("session_id"), user_col, ts_col, role_col,
                content_col, event_id_col, gap_seconds, start_col="__start")
            # per-batch session numbering repeats across batches — the
            # durable conversation key is (user, first event time)
            convs = convs.withColumn(
                "session_id",
                F.concat_ws("@", F.col(user_col).cast("string"),
                            F.col("__start").cast("string"))).drop("__start")
            convs.write.mode("errorifexists").parquet(str(sink_dir))
        if batch_id not in vs:
            still_open.select(*slim).write.mode("errorifexists").parquet(
                f"{open_path}/v{batch_id}")
            for v in prior:
                shutil.rmtree(f"{open_path}/v{v}", ignore_errors=True)

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def scd2_stream(
    change_stream: DataFrame, keys: Sequence[str], ts_col: str,
    attr_cols: Sequence[str], dim_path: str, checkpoint: str,
    available_now: bool = False,
):
    """Streaming SCD Type-2 maintenance: each micro-batch of change
    events is compacted (duplicate (key, ts) rows collapse to ONE
    deterministic winner — first by attribute order — because raw CDC
    feeds routinely double-deliver) and applied to the stored dimension
    THROUGH :func:`pigpen_spark.operators.analytics.scd2_apply`, so the
    live dimension and any batch backfill share one versioning
    contract; sequential batches produce exactly the history one
    all-at-once application would (pinned by test).  Versioned-parquet
    store, replay-idempotent like :func:`rollup_stream`; out-of-order
    changes across batches fail loudly via scd2_apply's guard rather
    than corrupting history.

    The store starts empty (every key "new"); to seed from an existing
    dimension, write it as ``{dim_path}/v0`` with open ``valid_to``
    NULLs before starting the query.  Returns the StreamingQuery."""
    import shutil

    from pyspark.sql import Window

    from pigpen_spark.operators.analytics import scd2_apply

    ks = list(keys)
    attrs = list(attr_cols)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vs = _parquet_versions(dim_path)
        if batch_id in vs:
            return            # checkpoint replay of an applied batch
        w = Window.partitionBy(*[F.col(k) for k in ks], F.col(ts_col)) \
            .orderBy(*[F.col(a) for a in attrs])
        changes = (batch_df.select(*ks, ts_col, *attrs)
                   .withColumn("__rn", F.row_number().over(w))
                   .filter(F.col("__rn") == 1).drop("__rn"))
        if vs:
            dim = spark.read.parquet(f"{dim_path}/v{vs[-1]}")
        else:
            dim = (changes.select(*ks, *attrs)
                   .withColumn("valid_from", F.lit(None).cast("bigint"))
                   .withColumn("valid_to", F.lit(None).cast("bigint"))
                   .limit(0))
        out = scd2_apply(dim, changes, ks, ts_col, attrs)
        out.write.mode("errorifexists").parquet(f"{dim_path}/v{batch_id}")
        for v in vs:
            shutil.rmtree(f"{dim_path}/v{v}", ignore_errors=True)

    return _start(change_stream.writeStream.foreachBatch(handle),
                  checkpoint, available_now)


def session_stats_stream(
    stream: DataFrame, user_col: str, ts_col: str, gap_seconds: int,
    open_path: str, rollup_path: str, checkpoint: str,
    available_now: bool = False,
):
    """Streaming twin of :func:`pigpen_spark.operators.windows.
    session_stats`: an exactly-once per-user engagement rollup maintained
    live.  Raw events of still-open sessions ride the versioned open
    store (the :func:`conversation_stream` close machinery: union store
    with the batch, re-sessionize, close every session more than
    ``gap_seconds`` behind the max observed event time); each CLOSED
    session folds to scalars and merges into the stored per-user profile
    by associative re-aggregation (:func:`pigpen_spark.operators.
    analytics.merge_rollups`: sessions/events/bounces by sum, maxima by
    max) — the five measures were CHOSEN mergeable, which is what makes
    a session operator incrementally maintainable at all.

    Idempotence: the rollup version is written before the open store
    (both ``errorifexists`` under v{batch_id}); a checkpoint replay
    recomputes the same closed set from the same prior versions and
    skips whichever write already landed.  A closed session's events
    leave the open store in the same batch that merges it — each session
    counts exactly once.

    Returns the started StreamingQuery."""
    import shutil

    from pigpen_spark.operators.analytics import merge_rollups
    from pigpen_spark.operators.windows import sessionize
    from pigpen_spark.typeutil import epoch_seconds

    slim = [user_col, ts_col]

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        vs_open = _parquet_versions(open_path)
        vs_roll = _parquet_versions(rollup_path)
        if batch_id in vs_open and batch_id in vs_roll:
            return            # checkpoint replay of a fully applied batch
        prior_open = [v for v in vs_open if v != batch_id]
        prior_roll = [v for v in vs_roll if v != batch_id]
        events = batch_df.select(*slim)
        if prior_open:
            events = events.unionByName(
                spark.read.parquet(f"{open_path}/v{prior_open[-1]}"))
        sess = sessionize(events, user_col, ts_col,
                          gap_seconds).localCheckpoint(eager=True)
        ts_num = epoch_seconds(sess, ts_col)
        wm = sess.agg(F.max(ts_num).alias("__wm"))
        last = sess.groupBy("session_id").agg(F.max(ts_num).alias("__last"))
        closed_ids = (last.crossJoin(F.broadcast(wm))
                      .filter(F.col("__wm") - F.col("__last")
                              > F.lit(gap_seconds))
                      .select("session_id"))
        closed = sess.join(closed_ids, on="session_id", how="left_semi")
        still_open = sess.join(closed_ids, on="session_id", how="left_anti")
        if batch_id not in vs_roll:
            # THE batch aggregation (windows.session_profile) over the
            # closed sessions — live and batch share one definition of
            # bounce/duration, so the twins cannot drift
            from pigpen_spark.operators.windows import session_profile

            part = session_profile(closed, user_col, ts_col)
            parts = [part]
            if prior_roll:
                parts.append(spark.read.parquet(f"{rollup_path}/v{prior_roll[-1]}"))
            merged = merge_rollups(parts, [user_col], {
                "n_sessions": "sum", "n_events": "sum", "bounces": "sum",
                "max_session_events": "max", "max_duration_s": "max",
            })
            merged.write.mode("errorifexists").parquet(f"{rollup_path}/v{batch_id}")
            for v in prior_roll:
                shutil.rmtree(f"{rollup_path}/v{v}", ignore_errors=True)
        if batch_id not in vs_open:
            still_open.select(*slim).write.mode("errorifexists").parquet(
                f"{open_path}/v{batch_id}")
            for v in prior_open:
                shutil.rmtree(f"{open_path}/v{v}", ignore_errors=True)

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)


def manifest_stream(
    stream: DataFrame, part_cols: Sequence[str], manifest_path: str,
    checkpoint: str, columns: Sequence[str] | None = None,
    available_now: bool = False,
):
    """Streaming partition-manifest maintenance — the live twin of
    :func:`pigpen_spark.functions.validate.partition_checksums`: each
    micro-batch fingerprints ONLY itself and merges into the stored
    manifest by associative re-aggregation (row-hash checksums are
    SUMS, so batch manifests ADD — the property the batch operator
    already guarantees; live and backfill share one canonicalization
    and cannot drift).  Downstream, :func:`validate.manifest_diff`
    against yesterday's stored manifest yields the reprocessing
    worklist without ever re-reading row data.

    Storage/idempotence contract inherited from :func:`rollup_stream`
    (versioned parquet, replayed batches skipped).  Read the current
    manifest back with :func:`read_manifest`.

    Returns the started StreamingQuery."""
    cols = sorted(columns if columns is not None
                  else [c for c in stream.columns if c not in set(part_cols)])
    if not cols:
        raise ValueError("manifest_stream: no content columns")
    canon = F.concat_ws(
        "\x1f", *[F.concat(F.lit(c + "="),
                           F.coalesce(F.col(c).cast("string"), F.lit("\x00")))
                  for c in cols])
    h = F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("decimal(38,0)")
    aggs = {
        "n_rows": F.count(F.lit(1)).cast("bigint"),
        "checksum_dec": F.sum(h).cast("decimal(38,0)"),
    }
    merges = {"n_rows": "sum", "checksum_dec": "sum"}
    return rollup_stream(stream, list(part_cols), aggs, merges,
                         manifest_path, checkpoint,
                         available_now=available_now)


def read_manifest(spark: SparkSession, manifest_path: str) -> DataFrame:
    """Current stored manifest (highest committed version) in
    :func:`validate.partition_checksums`' shape — feed two of these to
    :func:`validate.manifest_diff`."""
    vs = _parquet_versions(manifest_path)
    if not vs:
        raise ValueError(f"read_manifest: no committed manifest under "
                         f"{manifest_path}")
    df = spark.read.parquet(f"{manifest_path}/v{vs[-1]}")
    return df.select(*[c for c in df.columns
                       if c not in ("n_rows", "checksum_dec")],
                     "n_rows",
                     F.col("checksum_dec").cast("decimal(38,0)")
                      .cast("string").alias("checksum"))


def tokenize_stream(
    stream: DataFrame, id_col: str, text_col: str, out_path: str,
    checkpoint: str, encoder: str = "wordpiece",
    available_now: bool = False,
):
    """Streaming tokenizer-encode sink — the live SFT-prep twin of the
    batch encoders (``encoder`` picks wordpiece / bpe / unigram), each
    against its FROZEN inventory, completing the 3-tokenizer family's
    streaming story: live ingestion and the batch backfill run the SAME
    encode function with the same frozen pieces, so a document tokenizes
    identically whichever path it arrived by (pinned streamed == batch).

    The frozen inventory is the deliberate choice for a stream: a
    tokenizer that retrains as data arrives would silently shift the
    token ids of everything already packed — inventory updates belong in
    a versioned batch re-freeze (tools/freeze_*.py), never mid-stream.

    Batches write ``batch={id}`` directories with overwrite-on-replay —
    exactly-once encodes without a transactional sink (the
    decontaminate_stream discipline).  Returns the started
    StreamingQuery."""
    from pigpen_spark.functions import bpe as BP
    from pigpen_spark.functions import unigram as UG
    from pigpen_spark.functions import wordpiece as WP

    def encode(df: DataFrame) -> DataFrame:
        if encoder == "wordpiece":
            enc = WP.wordpiece_encode(df, id_col, text_col,
                                      WP.FIXED_START, WP.FIXED_CONT)
            return enc.select(
                F.col("id").alias(id_col),
                F.array_join("pieces", " ").alias("pieces"),
                "n_pieces", "n_unk_words")
        if encoder == "bpe":
            enc = BP.bpe_encode(df, id_col, text_col, BP.FIXED_MERGES)
            return enc.select(
                F.col("id").alias(id_col),
                F.array_join("pieces", " ").alias("pieces"), "n_pieces")
        if encoder == "unigram":
            enc = UG.unigram_encode(df, id_col, text_col, UG.FIXED_PIECES)
            return enc.select(
                F.col("id").alias(id_col),
                F.array_join("pieces", " ").alias("pieces"), "n_pieces")
        raise ValueError(f"tokenize_stream: unknown encoder {encoder!r} "
                         "(wordpiece | bpe | unigram)")

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        encode(batch_df).write.mode("overwrite") \
            .parquet(f"{out_path}/batch={batch_id}")

    return _start(stream.writeStream.foreachBatch(handle), checkpoint, available_now)
