"""Similarity search over embedding columns (``array<float>``).

Extension surface (BASELINE.json north star).  Every approximate search
here is an **index build followed by a serve step**:

- **build** turns the corpus into index data once: LSH bucket
  signatures (:func:`lsh_index`), PQ codes + codebook (:func:`pq_index`),
  IVF-PQ inverted lists + codebook + coarse centroids
  (:func:`ivf_pq_index`), OPQ codes + codebook + rotation
  (:func:`opq_index`).  The quantizers are driver artifacts (tiny) and
  the stored-artifact tables have one schema each, written only here
  (the index streams in :mod:`pigpen_spark.streaming.core` reuse them).
- **serve** scores a query batch against that data: the ``*_against``
  functions read the artifacts off storage; the inline forms
  (:func:`pq_adc_topk`, :func:`ivf_pq_topk`) hand the freshly built
  artifacts to the SAME serve step in memory, so inline and stored
  search are one code path (build once, serve many).
- :func:`brute_force_topk` is the exact baseline every approximate form
  is measured against (:func:`ann_recall`).

Every kernel folds dot products and ADC lookups strictly left to right
in float64 — the association order of the DuckDB oracles and of the
retained ``*_expr`` reference forms — rounds JVM-side with
``round(·, 6)``, and ranks with ties broken by id, so top-k is
deterministic and hash-exact across engines.
"""

from __future__ import annotations

from pigpen_spark.cache import persisted as _persisted
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pigpen_spark.relation import _to_col as _c
from pigpen_spark.relation import spread


def to_double(vec) -> Column:
    return F.transform(_c(vec), lambda x: x.cast("double"))


def _pinned_parallelism(df: DataFrame) -> int:
    """Partition count for the explicit repartition-by-num that shields
    exploding bucket joins from AQE post-shuffle coalescing (see the
    lsh_topk_against comment).  `spark.sql.shuffle.partitions` may be
    non-numeric on managed platforms ("auto" under AQE auto-tuning), so
    fall back to the cluster's default parallelism rather than raising.
    """
    sc = df.sparkSession.sparkContext
    try:
        conf_n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        conf_n = 0
    return max(sc.defaultParallelism, conf_n)


# Per-tile element budget for the block-scoring kernels: the member side
# is chunked so a q×tile float64 score matrix stays ≈32 MB regardless of
# group size — LSH sign-pattern buckets are skew-prone (correlated
# embeddings can collapse into one pattern), and an unbounded q×m
# allocation would OOM the executor where the join form it replaced
# merely spilled.  Tiling never changes results: each (q, n) element's
# fold is independent of the tile boundaries.
_BLOCK_TILE = 4_000_000


def dot(a, b) -> Column:
    """Σ a[i]·b[i] in float64, left-to-right (portable association order)."""
    return F.aggregate(
        F.zip_with(to_double(a), to_double(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a, b) -> Column:
    # try_divide: NULL (not an ANSI error) for zero-norm vectors
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def dot_sql(a: str, b: str) -> str:
    """DuckDB equivalent of :func:`dot` (list_sum is sequential like our
    left-fold)."""
    return f"list_sum([({a})[i]::DOUBLE * ({b})[i]::DOUBLE for i in range(1, len({a}) + 1)])"


def cosine_sql(a: str, b: str) -> str:
    return f"({dot_sql(a, b)}) / (sqrt({dot_sql(a, a)}) * sqrt({dot_sql(b, b)}))"


# -- shared search pieces ----------------------------------------------------


def _topk(scored: DataFrame, k: int, by: str = "score",
          ascending: bool = False) -> DataFrame:
    """Per-query top-k window of every search: rank each ``q_id``'s rows
    by ``by`` (descending similarity, or ascending ADC distance), ties
    by ``n_id``, keep ranks ≤ k → (q_id, n_id, by, rank long)."""
    order = F.col(by).asc() if ascending else F.col(by).desc()
    w = Window.partitionBy("q_id").orderBy(order, F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", by, F.col("rank").cast("long").alias("rank"))
    )


_COLLECT_NOTE = ("this operator driver-collects the queries "
                 "(bounded-artifact contract); ")


def _collect_queries(queries: DataFrame, id_col: str, vec_col: str,
                     max_queries: int, who: str, note: str = _COLLECT_NOTE):
    """Driver-collect a bounded query side → (ids, float vectors, id SQL
    type).  The bound is LOUD: more than ``max_queries`` rows raise
    instead of a silent driver OOM, and so do NULL query vectors."""
    qrows = (
        queries.select(
            F.col(id_col).alias("q_id"), to_double(F.col(vec_col)).alias("q_vec")
        ).limit(max_queries + 1).collect()
    )
    if len(qrows) > max_queries:
        raise ValueError(
            f"{who}: query side exceeds max_queries={max_queries} — {note}"
            "shard the query set or raise max_queries explicitly")
    if any(r["q_vec"] is None for r in qrows):
        raise ValueError(f"{who}: NULL query vector — filter "
                         "NULL vecs before querying")
    return ([r["q_id"] for r in qrows],
            [[float(x) for x in r["q_vec"]] for r in qrows],
            queries.schema[id_col].dataType.simpleString())


def _vec_base(corpus: DataFrame, id_col: str, vec_col: str,
              nrm=None) -> DataFrame:
    """The persisted (id, vec double[], nrm) base of a corpus-side search:
    spread across cores, norms computed once per vector (Arrow
    :func:`arrow_norm` unless the expression-form reference passes
    :func:`norm`), persisted because every caller reads it more than
    once (cell assignment, candidate fetch, first-N centroids)."""
    return (
        spread(corpus)
        .select(F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("vec"))
        .withColumn("nrm", (nrm or arrow_norm)(F.col("vec")))
        .transform(_persisted)
    )


def _cell_table(base: DataFrame, n_centroids: int,
                centroids: list[list[float]] | None = None) -> DataFrame:
    """Coarse-quantizer cell table (cent_id int, cent_vec, cent_nrm) —
    also the stored centroid artifact of :func:`ivf_pq_index`.  Trained
    ``centroids`` (driver literals, enumerated 0..n-1) if given, else the
    deterministic first ``n_centroids`` vectors of the persisted ``base``
    by id (cell labels are those corpus ids)."""
    if centroids is not None:
        return base.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cent_id int, cent_vec array<double>",
        ).withColumn("cent_nrm", norm(F.col("cent_vec")))
    return (
        base.orderBy("id").limit(n_centroids)
        .select(F.col("id").cast("int").alias("cent_id"),
                F.col("vec").alias("cent_vec"), F.col("nrm").alias("cent_nrm"))
    )


def _sub_dim(dim: int, m: int, who: str) -> int:
    """Subspace width ``dim // m`` of a PQ split; ``m`` must divide
    ``dim``."""
    if dim % m != 0:
        raise ValueError(f"{who}: m ({m}) must divide dim ({dim})")
    return dim // m


def _fold_dot(A, B):
    """All-pairs dot products A·Bᵀ (a × b float64) as the strict left
    fold — ``acc += A[:, j] ⊗ B[:, j]`` per dimension j, one IEEE
    multiply then one add per element, no FMA, no reassociation (a BLAS
    matmul would reassociate and could flip near-tie ranks).  The bit
    contract of every block kernel (:func:`_arrow_cosine_raw`)."""
    import numpy as np

    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for j in range(B.shape[1]):
        acc += A[:, j, None] * B[None, :, j]
    return acc


def _pair_frame(q_ids, n_ids, exclude_self: bool, **scores):
    """Slim q-major (q_id, n_id, *scores) rows of a q × n score block;
    ``scores`` are q × n matrices.  ``exclude_self`` drops the pairs
    whose ids are equal."""
    import numpy as np
    import pandas as pd

    cols = {"q_id": np.repeat(q_ids, len(n_ids)),
            "n_id": np.tile(n_ids, len(q_ids)),
            **{name: s.ravel() for name, s in scores.items()}}
    if exclude_self:
        keep = cols["q_id"] != cols["n_id"]
        cols = {name: v[keep] for name, v in cols.items()}
    return pd.DataFrame(cols)


def brute_force_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5,
    max_queries: int = 65536,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector (self excluded).

    The query side is DRIVER-COLLECTED (the same bounded-artifact
    contract as :func:`nearest_cells`'s coarse quantizer — this operator
    exists for small query sets against an unbounded corpus;
    ``max_queries`` makes the bound LOUD instead of a silent driver
    OOM); each corpus batch then scores against the whole query matrix
    in ONE numpy pass (strict left fold — bit contract at
    :func:`_arrow_cosine_raw`), emitting slim (q_id, n_id, dot, den)
    rows.  The corpus scan stays fully parallel and shuffle-free until
    the per-query top-k window, and — unlike the broadcast-join +
    per-pair scorer form — no q×n vector-carrying pair rows ever
    materialize.  NULL query vectors raise; NaN elements are out of
    contract (see :func:`_stack_checked`)."""
    import numpy as np

    q_ids_drv, q_vecs, q_type = _collect_queries(
        queries, id_col, vec_col, max_queries, "brute_force_topk")
    c = (
        spread(corpus)
        .select(F.col(id_col).alias("n_id"), to_double(F.col(vec_col)).alias("n_vec"))
        .withColumn("n_nrm", arrow_norm(F.col("n_vec")))
    )
    n_type = corpus.schema[id_col].dataType.simpleString()
    out_schema = f"q_id {q_type}, n_id {n_type}, dot double, den double"

    def score_batches(batches):
        Q = np.asarray(q_vecs, dtype=np.float64)          # q × d
        q_nrm = np.zeros(len(q_vecs), dtype=np.float64)
        for j in range(Q.shape[1] if len(q_vecs) else 0):  # strict left fold
            q_nrm += Q[:, j] * Q[:, j]
        q_nrm = np.sqrt(q_nrm)
        q_ids = np.asarray(q_ids_drv)
        for pdf in batches:
            if pdf.empty or not len(q_vecs):
                continue
            V = _stack_vecs(pdf["n_vec"], "brute_force_topk")
            den = q_nrm[:, None] * pdf["n_nrm"].to_numpy(dtype=np.float64)[None, :]
            yield _pair_frame(q_ids, pdf["n_id"].to_numpy(), True,
                              dot=_fold_dot(Q, V), den=den)

    scored = (
        c.select("n_id", "n_vec", "n_nrm")
        .mapInPandas(score_batches, out_schema)
        .select("q_id", "n_id",
                F.round(F.try_divide(F.col("dot"), F.col("den")), 6).alias("score"))
    )
    return _topk(scored, k)


# -- random-hyperplane LSH --------------------------------------------------


def plane_values(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane, evaluated DRIVER-SIDE:
    component d of plane p is ``hexdigit_1(md5(p || '_' || d)) − 7.5`` — a
    fixed, engine-portable surrogate for a gaussian draw.  Every value is
    a half (−7.5 … 7.5), exactly representable in float64, so literals
    round-trip identically through Spark and DuckDB SQL text."""
    import hashlib

    return [
        int(hashlib.md5(f"{plane}_{d}".encode()).hexdigest()[0], 16) - 7.5
        for d in range(dim)
    ]


def lsh_bucket_expr(vec, n_planes: int, dim: int, plane_offset: int = 0) -> Column:
    """:func:`lsh_bucket` as a pure Catalyst expression — the
    differential-test reference form (and the shape
    :func:`lsh_bucket_sql` mirrors in DuckDB).  The planes are
    deterministic constants computed ONCE on the driver (hashlib) and
    injected as array LITERALS."""
    v = to_double(vec)
    chars = []
    for p in range(plane_offset, plane_offset + n_planes):
        plane = F.array(*[F.lit(c) for c in plane_values(p, dim)])
        s = F.aggregate(
            F.zip_with(v, plane, lambda x, h: x * h),
            F.lit(0.0), lambda acc, x: acc + x,
        )
        chars.append(F.when(s >= 0, F.lit("1")).otherwise(F.lit("0")))
    # guard the silent failure modes: dim > len(vec) zero-pads every
    # bucket (zip_with NULLs -> one giant bucket -> the O(n²) blowup this
    # operator exists to prevent); dim < len(vec) hashes only a prefix
    return F.when(
        F.size(v) == dim, F.concat(*chars)
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"lsh_bucket: dim={dim} != vector length "),
                F.size(v).cast("string"),
            )
        )
    )


def lsh_bucket(vec, n_planes: int, dim: int, plane_offset: int = 0,
               dedupe_safe: bool = True) -> Column:
    """Sign-pattern bucket id: one char per hyperplane, Arrow-batched.

    Hashing is n·n_planes·dim multiply-adds over the whole corpus — with
    the per-element interpreted HOF fold it was the dominant CPU constant
    of every LSH-family operator (the same lesson as
    :func:`_arrow_cosine_raw`, one stage earlier).  This form computes
    all plane signs in one numpy pass per Arrow batch under the strict
    left-fold bit contract — ``acc += V[:, j] * plane[j]`` per dimension,
    sign via ``acc >= 0`` (NaN → '0', matching the expression form's
    false branch) — so buckets are digit-identical to
    :func:`lsh_bucket_expr` and :func:`lsh_bucket_sql` (pinned by
    TestArrowLshBucket).

    ``plane_offset`` selects an independent plane set (multi-table LSH:
    table t uses planes [t·n_planes, (t+1)·n_planes))."""
    import numpy as np
    import pandas as pd

    planes = [plane_values(p, dim)
              for p in range(plane_offset, plane_offset + n_planes)]

    def _bucket(vs):
        if len(vs) == 0:
            return pd.Series([], dtype=object)
        arrs = []
        for v in vs:
            if v is None or len(v) != dim:
                got = "NULL" if v is None else str(len(v))
                raise ValueError(
                    f"lsh_bucket: dim={dim} != vector length {got}")
            arrs.append(np.asarray(v, dtype=np.float64))
        # vectors × planes, strict left fold — see bit contract
        P = np.asarray(planes, dtype=np.float64).reshape(len(planes), dim)
        acc = _fold_dot(np.stack(arrs), P)
        bits = np.where(acc >= 0.0, "1", "0")
        return pd.Series(["".join(row) for row in bits])

    _bucket.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_bucket, "string")
    if not dedupe_safe:
        # asNondeterministic stops the optimizer DUPLICATING this
        # expensive Arrow crossing below a pushed join-key isnotnull
        # filter (the plan showed two ArrowEvalPython _bucket passes over
        # the index corpus, one feeding only `Filter isnotnull`).  The
        # function is genuinely deterministic; the flag only constrains
        # the optimizer — but a nondeterministic output no longer
        # substitutes from the cache after the analyzer's self-join
        # relation dedup, so ONLY call sites whose output is never
        # cache-self-joined (the stored-index build) may pass
        # dedupe_safe=False.
        udf = udf.asNondeterministic()
    return udf(to_double(vec))


def arrow_norm(vec) -> Column:
    """`‖v‖₂` Arrow-batched under the same strict-left-fold contract as
    :func:`_arrow_cosine_raw` (``np.sqrt`` and ``Math.sqrt`` are both
    correctly rounded, so the result is bit-identical to
    :func:`norm`) — the base-prep sibling of :func:`arrow_cosine`.

    NaN ELEMENTS are out of contract: a vector containing NaN norms to
    NaN, which Arrow's from_pandas masking returns as SQL NULL where the
    expression form would keep a NaN double — callers must scrub NaN
    elements upstream if they need that distinction (zero-norm and NULL
    vectors ARE covered: 0.0 and NULL respectively, test-pinned)."""
    import numpy as np
    import pandas as pd

    def _norm(vs):
        if len(vs) == 0:
            return pd.Series([], dtype="float64")
        # vectors carry no dim contract here (unlike lsh_bucket) — batch
        # per distinct length; NULL vectors yield NULL (NaN → Arrow mask)
        lens = np.asarray([-1 if v is None else len(v) for v in vs])
        out = np.empty(len(vs), dtype=np.float64)
        vals = vs.to_numpy()
        for ln in np.unique(lens):
            idx = np.nonzero(lens == ln)[0]
            if ln < 0:
                out[idx] = np.nan
                continue
            if ln == 0:
                out[idx] = 0.0
                continue
            V = np.stack([np.asarray(vals[i], dtype=np.float64) for i in idx])
            acc = np.zeros(len(idx), dtype=np.float64)
            for j in range(ln):   # strict left fold
                acc += V[:, j] * V[:, j]
            out[idx] = np.sqrt(acc)
        return pd.Series(out)

    _norm.__annotations__ = {"vs": pd.Series, "return": pd.Series}
    return F.pandas_udf(_norm, "double")(to_double(vec))


def lsh_bucket_sql(vec: str, n_planes: int, dim: int, plane_offset: int = 0) -> str:
    """DuckDB equivalent of :func:`lsh_bucket` (same driver-side plane
    literals, so both engines agree digit-for-digit)."""
    parts = []
    for p in range(plane_offset, plane_offset + n_planes):
        lits = "[" + ", ".join(repr(c) for c in plane_values(p, dim)) + "]"
        parts.append(
            f"(CASE WHEN list_sum([({vec})[i]::DOUBLE * ({lits})[i] "
            f"for i in range(1, {dim} + 1)]) >= 0 THEN '1' ELSE '0' END)"
        )
    return "(" + " || ".join(parts) + ")"


def probe_buckets(bucket: Column, n_planes: int) -> Column:
    """Multi-probe sequence for a sign-pattern bucket: the home bucket
    plus every 1-bit-flip variant (the distance-1 perturbation set of
    Lv et al.'s multi-probe LSH, specialized to hyperplane signs where
    every bit is equally likely to be the misclassified one).

    ``bucket`` must be a MATERIALIZED column (not an expression) — the
    n_planes+1 array slots each reference it."""
    def flip(i: int) -> Column:
        ch = F.substring(bucket, i, 1)
        flipped = F.when(ch == "1", F.lit("0")).otherwise(F.lit("1"))
        return F.concat(
            F.substring(bucket, 1, i - 1), flipped,
            F.substring(bucket, i + 1, n_planes - i),
        )

    return F.array(bucket, *[flip(i) for i in range(1, n_planes + 1)])


def probe_buckets_sql(bucket: str, n_planes: int) -> str:
    """DuckDB equivalent of :func:`probe_buckets`."""
    parts = [bucket]
    for i in range(1, n_planes + 1):
        parts.append(
            f"substr({bucket}, 1, {i - 1}) || "
            f"(CASE WHEN substr({bucket}, {i}, 1) = '1' THEN '0' ELSE '1' END)"
            f" || substr({bucket}, {i + 1}, {n_planes - i})"
        )
    return "[" + ", ".join(parts) + "]"


def infer_dim(df: DataFrame, vec_col) -> int:
    """Vector dimensionality from one driver-side probe row (`F.size` of
    the first non-null vector).  Callers that know the dim should pass it
    explicitly and skip the probe job; an empty input infers 1 — every
    downstream plan is empty anyway, it just has to build."""
    row = (
        df.select(F.size(to_double(F.col(vec_col) if isinstance(vec_col, str) else vec_col)).alias("d"))
        .filter(F.col("d") > 0)
        .first()
    )
    return int(row["d"]) if row is not None else 1


def _arrow_cosine_raw() -> "Column":
    """Arrow-batched cosine scorer, BIT-EXACT vs the expression path.

    One vectorized pass per candidate batch replaces the interpreted
    zip_with/aggregate fold — the same interpreted-HOF-vs-Arrow lever as
    :func:`nearest_cells` (round 8: coarse assignment) applied to the
    pair-scoring joins, the last hot loop still paying per-element
    expression interpretation.

    Bit-compatibility contract (the :func:`nearest_cells` doctrine):

    - the dot is accumulated as the SAME strict left-to-right fold —
      ``acc += A[:, j] * B[:, j]`` per dimension j, one IEEE-754 multiply
      then one add per element, no FMA, no reassociation — so every score
      is bit-identical to :func:`dot` and to the DuckDB oracles'
      sequential ``list_sum`` (a BLAS matmul would reassociate and could
      flip near-tie ranks);
    - division is a single IEEE divide (identical on numpy and the JVM);
      a zero denominator yields NaN, which Arrow's ``from_pandas``
      masking turns into SQL NULL — exactly ``try_divide``'s contract
      (pinned by TestArrowCosineExact);
    - NO rounding here: ``F.round`` is HALF_UP BigDecimal while
      ``np.round`` is banker's — callers apply ``F.round(·, 6)`` JVM-side
      (:func:`arrow_cosine`), keeping the rounding engine-identical too.
    """
    import numpy as np
    import pandas as pd

    def _score(va, vb, na, nb):
        if len(va) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack([np.asarray(v, dtype=np.float64) for v in va])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in vb])
        acc = np.zeros(len(va), dtype=np.float64)
        for j in range(A.shape[1]):   # strict left fold — see contract
            acc += A[:, j] * B[:, j]
        denom = na.to_numpy(dtype=np.float64) * nb.to_numpy(dtype=np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            s = np.where(denom != 0.0, acc / denom, np.nan)
        return pd.Series(s)

    _score.__annotations__ = {
        "va": pd.Series, "vb": pd.Series, "na": pd.Series, "nb": pd.Series,
        "return": pd.Series,
    }
    return F.pandas_udf(_score, "double")


def arrow_cosine(a_vec, b_vec, a_nrm, b_nrm) -> "Column":
    """``round(try_divide(dot(a,b), |a|·|b|), 6)`` with the O(pairs·d)
    fold vectorized in Arrow and the rounding kept JVM-side — the
    default pair scorer for the ANN family (hash-exact per
    :func:`_arrow_cosine_raw`'s contract)."""
    return F.round(_arrow_cosine_raw()(_c(a_vec), _c(b_vec), _c(a_nrm), _c(b_nrm)), 6)


def resolve_planes(n_planes, corpus: DataFrame,
                   target_bucket: int = 200, floor: int = 8, cap: int = 32):
    """Resolve ``n_planes="auto"`` (or None) to a density-scaled count
    via :func:`pigpen_spark.tuning.lsh_planes_for` — one count() of the
    corpus buys scale-invariant bucket occupancy (fixed plane counts
    grow pair work ~quadratically with density; SCALE.md
    §scaling-evidence).  The sizing is integer-exact (ceil-div + bit
    length), so :func:`lsh_planes_sql` mirrors it in DuckDB and the
    auto path itself is oracle-checkable (ext_ann_lsh_auto /
    ext_embed_near_dup_auto)."""
    if n_planes in (None, "auto"):
        from pigpen_spark.tuning import lsh_planes_for

        return lsh_planes_for(corpus.count(), target_bucket, floor, cap)
    return n_planes


def lsh_planes_sql(table: str, target_bucket: int = 200,
                   floor: int = 8, cap: int = 32) -> str:
    """DuckDB mirror of :func:`pigpen_spark.tuning.lsh_planes_for` over
    ``count(*)`` of ``table`` — a one-row SELECT (column ``np``) suitable
    as a CTE.  ``length(bin(m-1))`` is exactly ``(m-1).bit_length()``;
    no float log2 on either engine."""
    return (
        f"SELECT greatest({floor}, least({cap}, "
        f"CASE WHEN m <= 1 THEN 0 ELSE length(bin(m - 1)) END))::INT AS np "
        f"FROM (SELECT (count(*) + {target_bucket} - 1) // {target_bucket} AS m "
        f"FROM {table})"
    )


def lsh_topk(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_planes: int | str | None = 6, dim: int | None = None,
    multi_probe: bool = False, score_mode: str = "arrow",
    auto_sizing: tuple[int, int, int] = (200, 8, 32),
) -> DataFrame:
    """Approximate all-pairs top-k: candidates share an LSH bucket.

    Bucket cardinality ≈ n/2^planes keeps per-bucket work bounded.  Two
    recall levers at scale: multiple hash tables (union of several plane
    sets — pays a full extra bucket compute + shuffle volume per table)
    or ``multi_probe=True``, which ALSO probes the n_planes buckets at
    Hamming distance 1 from each vector's home bucket — candidates become
    pairs whose sign patterns differ in ≤1 plane.  Multi-probe reuses the
    ONE computed bucket (the probe variants are string edits of the
    materialized column), so it costs (n_planes+1)× exploded join-key
    rows but zero extra hashing — the classic trade of probes for tables.

    Each (q, n) candidate arises from exactly one probe slot (the flip
    positions are distinct), so the probe join needs no dedup shuffle.

    ``score_mode`` picks the scorer for the candidate join: ``"arrow"``
    (default) is the Arrow-batched strict-left-fold cosine — bit-exact
    vs the expression form per :func:`_arrow_cosine_raw`'s contract, so
    oracle hashes are unaffected; ``"expr"`` keeps the interpreted HOF
    expression (the differential-test reference path)."""
    if score_mode not in ("expr", "arrow"):
        raise ValueError(f"lsh_topk: unknown score_mode {score_mode!r}")
    n_planes = resolve_planes(n_planes, corpus, *auto_sizing)
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    # persist: bucket expressions would otherwise recompute on both sides
    # of the self-join (each bucket is n_planes × dim md5-derived ops);
    # norms precomputed once per vector
    tagged = (
        spread(corpus)
        .select(
            F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("vec"),
            lsh_bucket(F.col(vec_col), n_planes, dim).alias("bucket"),
        )
        .withColumn("nrm", arrow_norm(F.col("vec")))
        .transform(_persisted)
    )
    if multi_probe:
        a = tagged.select(
            "id", "vec", "nrm",
            F.explode(probe_buckets(F.col("bucket"), n_planes)).alias("bucket"),
        )
    else:
        a = tagged
    if score_mode == "arrow":
        # cogrouped per-bucket kernel: ships each vector once per side
        # instead of materializing q×m vector-carrying join rows — see
        # _cogroup_scored (parallelism pin included there)
        scored = _cogroup_scored(
            a.select(F.col("bucket"), F.col("id").alias("q_id"),
                     F.col("vec").alias("q_vec"), F.col("nrm").alias("q_nrm")),
            tagged.select("bucket", "id", "vec", "nrm"),
            "bucket",
        )
    else:
        # the differential-reference join + expression form.  Pin the
        # self-join parallelism (the lsh_topk_against lesson, caught by
        # the 100× scaling run there and confirmed here: the bucket
        # exchange carries slim rows, so AQE coalesces it to 1-2
        # partitions, and the exploding candidate-scoring output runs on
        # 1-2 cores).  Explicit repartition-by-num is AQE-exempt.
        n_part = _pinned_parallelism(corpus)
        a = a.repartition(n_part, "bucket").alias("a")
        b = tagged.alias("b")
        score = F.round(
            F.try_divide(dot(F.col("a.vec"), F.col("b.vec")), F.col("a.nrm") * F.col("b.nrm")), 6
        )
        scored = (
            a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") != F.col("b.id")))
            .select(F.col("a.id").alias("q_id"), F.col("b.id").alias("n_id"), score.alias("score"))
        )
    return _topk(scored, k)


def ivf_topk(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_centroids: int = 16, n_probe: int = 2,
) -> DataFrame:
    """IVF-style approximate top-k: coarse quantization + probed search.

    A full IVF trains centroids with k-means; at pipeline scale a single
    assignment pass against FIXED coarse centroids captures the plan
    shape (this implementation uses the first ``n_centroids`` corpus
    vectors by id — deterministic, broadcastable).  Each vector indexes
    into its nearest centroid's cell; a query probes its ``n_probe``
    nearest cells and ranks only those vectors — candidate work is
    ~n·(n_probe/n_centroids) instead of n².

    Plan: centroid table broadcast twice (cell assignment + probe
    assignment), candidates joined on cell id — one shuffle keyed by
    cell.  Swap the centroid source for real k-means output (e.g.
    pyspark.ml KMeans) without touching the plan.
    """
    base = _vec_base(corpus, id_col, vec_col)
    return _ivf_search(base, _cell_table(base, n_centroids), k, n_probe)


#: Full-fit guard for :func:`ivf_topk_kmeans`: an UNCAPPED pyspark.ml
#: KMeans fit (kmeans|| init + Lloyd passes over every vector) heaps the
#: whole training set through the driver-coordinated aggregations — it
#: OOM'd a 16 GiB local JVM at the 200k-vector 100× corpus (SCALE.md
#: round-8 addendum).  Above this corpus size, a full fit must be an
#: EXPLICIT choice (the allow_stub doctrine), never a default a caller
#: stumbles into; the production sizing is the count-capped
#: ``train_fraction`` (ext_ann_ivf_kmeans_auto).
_FULL_FIT_CAP = 100_000


def ivf_topk_kmeans(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_centroids: int = 16, n_probe: int = 2,
    train_fraction: float = 1.0, seed: int = 7, max_iter: int = 10,
    allow_full_fit: bool = False,
) -> DataFrame:
    """IVF top-k with REAL k-means centroids (pyspark.ml KMeans).

    Same search plan as :func:`ivf_topk` — only the centroid table
    differs.  Training cost is bounded by ``train_fraction``: at corpus
    scale fit on a sample (k-means centroids stabilize long before the
    full pass), then assign every vector in one broadcast pass.  The
    trained centers live on the driver (n_centroids × dim doubles — tiny)
    and re-enter the plan as a broadcast literal table, so search remains
    a single cell-keyed shuffle.

    ``train_fraction=1.0`` (the demonstration-instrument configuration)
    REFUSES above :data:`_FULL_FIT_CAP` corpus vectors unless
    ``allow_full_fit=True`` — cap the sample instead (the
    ext_ann_ivf_kmeans_auto sizing); the guard's one count() only runs
    on the full-fit path.

    Non-SQL-expressible (iterative training) — no DuckDB oracle; tests
    assert recall against :func:`brute_force_topk` instead."""
    base = _vec_base(corpus, id_col, vec_col)
    if train_fraction >= 1.0 and not allow_full_fit:
        n = base.count()
        if n > _FULL_FIT_CAP:
            raise ValueError(
                f"ivf_topk_kmeans: full-corpus k-means fit on {n} vectors "
                f"(> {_FULL_FIT_CAP}) — pass train_fraction to cap the "
                "training sample (see ext_ann_ivf_kmeans_auto's "
                "count-derived sizing), or allow_full_fit=True to force "
                "the demonstration instrument")
    centers = _kmeans_centers(base, n_centroids, train_fraction, seed, max_iter)
    return _ivf_search(base, _cell_table(base, n_centroids, centers), k, n_probe)


def _kmeans_centers(frame: DataFrame, n_centroids: int, train_fraction: float,
                    seed: int, max_iter: int) -> list[list[float]]:
    """pyspark.ml KMeans centers of ``frame``'s ``vec`` column, fit on
    all of it or on a ``train_fraction`` sample (the shared training step
    of :func:`ivf_topk_kmeans` and :func:`train_coarse_centroids`)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    train = frame if train_fraction >= 1.0 else frame.sample(train_fraction, seed=seed)
    # persist the training features for the fit: KMeans runs kmeans||
    # init + max_iter Lloyd passes, EACH rescanning its input — uncached,
    # every pass re-runs the sample + array_to_vector + whatever produced
    # the vectors (mllib itself warns "input not directly cached").
    # Scoped: the fit is synchronous, so the cache dies right after.
    feats = train.select(array_to_vector(F.col("vec")).alias("features")).persist()
    try:
        model = KMeans(k=n_centroids, seed=seed, maxIter=max_iter).fit(feats)
    finally:
        feats.unpersist()
    return [[float(x) for x in c] for c in model.clusterCenters()]


def train_coarse_centroids(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    n_centroids: int = 16, train_fraction: float = 1.0, seed: int = 7,
    max_iter: int = 10,
) -> list[list[float]]:
    """K-means coarse-quantizer centroids as a driver artifact
    (n_centroids × dim doubles) — the trained counterpart of the first-N
    centroid tables, shaped for :func:`ivf_pq_topk`'s
    ``coarse_centroids`` parameter.  Same train-on-a-sample posture as
    :func:`ivf_topk_kmeans`."""
    base = spread(corpus).select(to_double(F.col(vec_col)).alias("vec"))
    return _kmeans_centers(base, n_centroids, train_fraction, seed, max_iter)


def nearest_cells(
    frame: DataFrame, cents: DataFrame,
    key: str = "id", vec: str = "vec", nrm: str = "nrm", max_rank: int = 1,
) -> DataFrame:
    """Coarse-quantizer assignment: rank the centroid table per vector and
    emit the ``max_rank`` nearest as slim (key, cent_id, crank) rows —
    one Arrow/numpy pass per batch, no shuffle.

    Replaces the crossJoin(broadcast) + row_number form used through
    round 8: that plan materializes n×k scored rows and shuffles them
    for the per-id window, and its HOF dot runs INTERPRETED per
    (vector, centroid) pair — at 200k×160×64 the ranking alone
    dominated the whole IVF family (89.7 s at the 10× corpus with
    training already capped; SCALE.md round-8 addendum).  Vectorized
    here it is one rank-1 update per dimension.

    Bit-compatibility contract: the cosine is accumulated as the SAME
    left-to-right fold as :func:`dot` — ``acc += V[:, j] * C[:, j]``
    per dimension j, each element one IEEE-754 multiply then one add,
    no FMA, no reassociation — so ranks are bit-identical to the
    expression form and to the DuckDB oracles' sequential ``list_sum``
    (a BLAS matmul would reassociate and could flip near-tie ranks).
    Ties break by cent_id via a stable argsort over the cent_id-sorted
    centroid matrix; zero-norm denominators rank last (NaN ≍ the
    expression form's try_divide NULL under DESC NULLS LAST).

    ``cents`` is collected driver-side — bounded by design: the coarse
    quantizer is n_centroids×dim doubles (~160×64 at the 100× corpus),
    the same artifact :func:`ivf_topk_kmeans` already holds on the
    driver."""
    crows = sorted(
        cents.select("cent_id", "cent_vec", "cent_nrm").collect(),
        key=lambda r: r["cent_id"],
    )
    cent_ids = [int(r["cent_id"]) for r in crows]
    cvecs = [[float(x) for x in r["cent_vec"]] for r in crows]
    cnrms = [float(r["cent_nrm"]) if r["cent_nrm"] is not None else float("nan")
             for r in crows]
    take = min(max_rank, len(cent_ids))
    key_type = frame.schema[key].dataType.simpleString()
    out_schema = f"{key} {key_type}, cent_id int, crank int"

    def assign(batches):
        import numpy as np
        import pandas as pd

        C = np.asarray(cvecs, dtype=np.float64)          # k × d
        cn = np.asarray(cnrms, dtype=np.float64)         # k
        ids = np.asarray(cent_ids, dtype=np.int64)
        for pdf in batches:
            if pdf.empty:
                continue
            V = _stack_vecs(pdf[vec], "nearest_cells")
            nr = pdf[nrm].to_numpy(dtype=np.float64)
            acc = _fold_dot(V, C)   # strict left fold — see bit contract above
            denom = nr[:, None] * cn[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                csim = np.where(denom != 0.0, acc / denom, np.nan)
            order = np.argsort(-csim, axis=1, kind="stable")[:, :take]
            yield pd.DataFrame({
                key: np.repeat(pdf[key].to_numpy(), take),
                "cent_id": ids[order].ravel(),
                "crank": np.tile(np.arange(1, take + 1, dtype=np.int32), len(pdf)),
            })

    return frame.select(key, vec, nrm).mapInPandas(assign, out_schema)


def _ivf_search(base: DataFrame, cents: DataFrame, k: int, n_probe: int) -> DataFrame:
    """Shared IVF search: Arrow-batched centroid assignment (data +
    probes), then a COGROUPED per-cell scoring kernel, then the
    per-query top-k window.  ``base`` must be persisted (id, vec, nrm);
    ``cents`` must be (cent_id, cent_vec, cent_nrm) and
    coarse-quantizer-small.

    Why cogroup instead of a candidate join: the join form materializes
    q×m pair ROWS per cell, each carrying BOTH embeddings — at density
    ~1250/cell that is ~2·d·8 bytes × n·n_probe·1250 of shuffle/Arrow
    traffic (≈ 0.5 TB per 1M vectors at d=64) just to feed the scorer.
    Cogrouping by cell ships each cell's members and probing queries
    ONCE (m+q vectors), scores the q×m block in numpy inside the
    kernel, and emits slim (q_id, n_id, dot, den) rows — a ~60×
    reduction in scoring-stage traffic at d=64, with identical
    results: the dot is the strict left fold (bit contract at
    :func:`_arrow_cosine_raw`), den = q_nrm·n_nrm is one IEEE multiply,
    and round + try_divide + ranking stay JVM-side exactly as before.

    No pair dedup is needed: each member belongs to exactly ONE cell
    (crank == 1) and a query's probed cells are distinct centroid
    ranks, so a (q, n) pair can only arise once."""
    # persist: assigned and probes both consume this — without a barrier
    # the assignment pass recomputes on each side.  Keep it SLIM (ids +
    # rank only): carrying the vectors here would replicate every
    # embedding n_probe× in cache (observed GC thrash at 20k×64).
    ranked_cells = nearest_cells(
        base, cents, "id", "vec", "nrm", max_rank=max(n_probe, 1)
    ).transform(_persisted)
    assigned = (
        ranked_cells.filter(F.col("crank") == 1)
        .select("id", F.col("cent_id").alias("cell"))
        .join(base, "id")
        .select("cell", "id", "vec", "nrm")
    )
    probes = (
        ranked_cells.filter(F.col("crank") <= n_probe)
        .select("id", F.col("cent_id").alias("cell"))
        .join(base, "id")
        .select("cell", F.col("id").alias("q_id"), F.col("vec").alias("q_vec"),
                F.col("nrm").alias("q_nrm"))
    )
    return _topk(_cogroup_scored(probes, assigned, "cell"), k)


def _cogroup_scored(probes: DataFrame, members: DataFrame, key: str,
                    exclude_self: bool = True) -> DataFrame:
    """Shared block-scoring kernel: cogroup ``probes`` (key, q_id, q_vec,
    q_nrm) with ``members`` (key, id, vec, nrm) on ``key``, score each
    q×m block in numpy (strict left fold — bit contract at
    :func:`_arrow_cosine_raw`; den = q_nrm·n_nrm is one IEEE multiply),
    and return slim (q_id, n_id, score) rows with the
    ``round(try_divide(·), 6)`` applied JVM-side — bit-identical to the
    candidate-join + expression form across IVF cells, LSH buckets, and
    stored-index serving.

    Parallelism is pinned with an explicit repartition-by-num on BOTH
    sides (the lsh_topk_against lesson): the shuffled rows are
    one-vector-each and SMALL relative to the q×m work each block fans
    out to, so AQE's byte-sized coalescing would fold the kernel onto
    1-2 cores; repartition-by-num is AQE-exempt and satisfies the
    cogroup's co-partitioning requirement, so no further exchange is
    inserted.  (Kernel parallelism is also bounded by the number of
    distinct blocks — density-auto sizing keeps that growing with the
    corpus.)

    Contracts: per-task memory is bounded by TILING the member side
    (:data:`_BLOCK_TILE` elements per q×tile matrix), so a skew-hot
    bucket costs time, never an executor OOM.  NULL keys are dropped on
    both sides (the equi-join semantics of the join form this replaced
    — cogroup would otherwise group NULL-key probes with NULL-key
    members).  NULL vectors raise (:func:`_stack_checked`) — callers'
    base prep (`arrow_norm` + `lsh_bucket`) already rejects or marks
    them; a dirty-corpus caller must filter NULL vecs before blocking."""
    import numpy as np
    import pandas as pd

    n_part = _pinned_parallelism(probes)
    probes = probes.filter(F.col(key).isNotNull()).repartition(n_part, key)
    members = members.filter(F.col(key).isNotNull()).repartition(n_part, key)
    q_type = probes.schema["q_id"].dataType.simpleString()
    n_type = members.schema["id"].dataType.simpleString()
    out_schema = f"q_id {q_type}, n_id {n_type}, dot double, den double"

    def score_block(qdf, mdf):
        nq = len(qdf)
        if nq == 0 or len(mdf) == 0:
            return pd.DataFrame(
                {"q_id": [], "n_id": [], "dot": [], "den": []})
        Q = _stack_vecs(qdf["q_vec"], "_cogroup_scored")
        q_nrm = qdf["q_nrm"].to_numpy(dtype=np.float64)
        q_ids_all = qdf["q_id"].to_numpy()
        m_vals = mdf["vec"].to_numpy()
        m_nrm_all = mdf["nrm"].to_numpy(dtype=np.float64)
        m_ids_all = mdf["id"].to_numpy()
        tile = max(1, _BLOCK_TILE // max(nq, 1))
        outs = []
        for lo in range(0, len(mdf), tile):
            hi = min(lo + tile, len(mdf))
            M = _stack_vecs(m_vals[lo:hi], "_cogroup_scored")
            den = q_nrm[:, None] * m_nrm_all[None, lo:hi]
            outs.append(_pair_frame(q_ids_all, m_ids_all[lo:hi], exclude_self,
                                    dot=_fold_dot(Q, M), den=den))
        return pd.concat(outs, ignore_index=True)

    return (
        probes.groupBy(key).cogroup(members.groupBy(key))
        .applyInPandas(score_block, out_schema)
        .select("q_id", "n_id",
                F.round(F.try_divide(F.col("dot"), F.col("den")), 6).alias("score"))
    )


def embedding_near_dup_pairs(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_tables: int = 4,
    n_planes: int | str | None = 8,
    dim: int | None = None, exact: bool = False, multi_probe: bool = False,
    auto_sizing: tuple[int, int, int] = (200, 8, 32),
    plane_stride: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs by cosine ≥ threshold, blocked on multi-table
    hyperplane LSH — NEVER all-pairs unless ``exact=True`` is forced.

    Candidate generation: each vector gets one sign-pattern bucket per
    hash table (table t uses an independent plane set via
    ``plane_offset``); candidates are pairs sharing a bucket in ANY table
    — an equi-join on (table, bucket), shuffle keyed by bucket, O(n·T)
    exploded rows instead of O(n²) pairs.  Scores are then computed only
    for the deduplicated candidates, against the slim persisted (id, vec,
    norm) base.

    Recall per pair at angle θ: 1 − (1 − p^n_planes)^n_tables with
    p = 1 − θ/π.  Defaults (8 planes × 4 tables) give ≈0.95 recall at
    cosine 0.95 while passing only ≈6% of random pairs; for LOW thresholds
    (exploratory near-dup at cosine ≈0.5, θ≈60°) use shorter bands and
    more tables (e.g. ``n_planes=3, n_tables=8`` → ≈0.93 recall).

    ``multi_probe=True`` additionally probes, per table, the n_planes
    buckets at Hamming distance 1 from the vector's home bucket —
    candidates become pairs whose sign patterns differ in ≤1 plane of
    SOME table.  Hamming-≤1 is symmetric, so probing only ONE join side
    (against home buckets on the other) already finds every such pair:
    the probe explode costs (n_planes+1)× join-key rows on one side and
    ZERO extra hashing, trading shuffle volume for tables exactly like
    :func:`lsh_topk`'s multi-probe.  Use longer bands × fewer tables at
    the same recall (fewer bucket computations per vector).

    ``exact=True`` keeps the previous brute all-pairs form for small
    corpora / recall audits; norms are still computed once per vector
    (persisted), not per pair.

    ``n_planes="auto"`` sizes bands from the corpus count
    (:func:`resolve_planes`, clamps from ``auto_sizing``).  Table t's
    planes start at ``t * plane_stride`` (default stride = the resolved
    n_planes, i.e. disjoint consecutive sets); auto callers pass
    ``plane_stride = auto cap`` so each table's plane set is a FIXED
    prefix family independent of the resolved count — that is what lets
    the DuckDB oracle reproduce the auto path with a substr of the
    cap-length bucket (ext_embed_near_dup_auto)."""
    n_planes = resolve_planes(n_planes, corpus, *auto_sizing)
    stride = plane_stride if plane_stride is not None else n_planes
    base = _vec_base(corpus, id_col, vec_col)
    # expression dot, deliberately NOT the Arrow scorer: this operator
    # dedups SLIM id pairs first and fetches vectors by id-join, so both
    # vectors are JVM-resident at scoring time — a row-wise Arrow scorer
    # would pay 2·d·8 bytes/pair of transfer it doesn't need (measured
    # +40% on the _mp row), while the block kernels don't fit a
    # dedup-before-score shape
    score = F.round(
        F.try_divide(dot(F.col("vec_a"), F.col("vec_b")),
                     F.col("nrm_a") * F.col("nrm_b")), 6)
    va = base.select(F.col("id").alias("id_a"), F.col("vec").alias("vec_a"), F.col("nrm").alias("nrm_a"))
    vb = base.select(F.col("id").alias("id_b"), F.col("vec").alias("vec_b"), F.col("nrm").alias("nrm_b"))
    if exact:
        return (
            va.join(vb, F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", score.alias("score"))
            .filter(F.col("score") >= threshold)
        )
    if dim is None:
        dim = infer_dim(base, F.col("vec"))
    # slim candidate index: ids + buckets only — carrying vectors through
    # the explode would replicate every embedding n_tables× in the shuffle
    buckets = F.array(*[
        lsh_bucket(F.col("vec"), n_planes, dim, plane_offset=t * stride)
        for t in range(n_tables)
    ])
    # persist the slim (id, tbl, bucket) index: BOTH sides of the
    # candidate self-join read it, and without the barrier the Arrow
    # _bucket hashing pass (an ArrowEvalPython crossing of every vector)
    # executes once PER SIDE — the r10 `_before` plan showed two
    # identical ArrowEvalPython bucket nodes (guide §2.4 shared work,
    # §4 minimize Python-boundary crossings).  Deterministic expressions
    # only, so the cache substitutes on the dedup-rewritten join side
    # (unlike the suffix rank's nondeterministic partition-id tag).
    tagged = base.select(
        "id", F.posexplode(buckets).alias("tbl", "bucket")
    ).transform(_persisted)
    if multi_probe:
        a = tagged.select(
            "id", "tbl",
            F.explode(probe_buckets(F.col("bucket"), n_planes)).alias("bucket"),
        ).alias("a")
    else:
        a = tagged.alias("a")
    b = tagged.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.join(va, "id_a").join(vb, "id_b")
        .select("id_a", "id_b", score.alias("score"))
        .filter(F.col("score") >= threshold)
    )


def knn_label(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    label_col: str = "label", k: int = 5, n_planes: int = 6,
    dim: int | None = None, multi_probe: bool = True,
) -> DataFrame:
    """kNN label propagation: every vector takes the majority label of its
    approximate k nearest neighbors — the standard semi-supervised
    auto-labeling / label-noise-audit pass over an embedded corpus.

    Neighbors come from :func:`lsh_topk` (multi-probe by default), so the
    whole operator is LSH-candidate work + one broadcast-sized label join
    + a per-query vote — never an n² scan.  Ties break deterministically
    (higher count, then smaller label).  UNLABELED neighbors (NULL label)
    contribute no votes — this is semi-supervised propagation, and a
    NULL-majority must not out-vote real evidence (it would also diverge
    between engines: Spark sorts NULL first ascending, DuckDB last).
    Vectors whose buckets yield no neighbors, or only unlabeled ones,
    are absent from the output (no evidence → no prediction).

    Returns (id, pred_label, votes) with ``votes`` = neighbors carrying
    the winning label."""
    nn = lsh_topk(corpus, id_col, vec_col, k=k, n_planes=n_planes, dim=dim,
                  multi_probe=multi_probe)
    labs = corpus.select(
        F.col(id_col).alias("n_id"), F.col(label_col).alias("__nl")
    ).filter(F.col("__nl").isNotNull())
    votes = (
        nn.join(labs, "n_id")
        .groupBy("q_id", "__nl")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("votes").desc(), F.col("__nl"))
    return (
        votes.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") == 1)
        .select(
            F.col("q_id").alias(id_col),
            F.col("__nl").alias("pred_label"),
            F.col("votes"),
        )
    )


def semantic_dedup(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    threshold: float = 0.95, n_centroids: int = 16,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse-cluster the embeddings, compare pairs ONLY
    within a cluster, and keep one representative per group of
    semantically near-identical documents.

    Plan shape: broadcast centroid assignment (the IVF coarse-quantizer
    pass — here the deterministic first-``n_centroids``-by-id table, swap
    in k-means output without touching the plan) → within-cell pair
    scoring via the grouped Arrow kernel (cosine ≥ threshold;
    :func:`_intra_cell_scored_pairs`) → WCC min-label via :func:`dedup_clusters` →
    broadcast keep/drop labels back onto the corpus.  Pair work is
    Σ|cell|² instead of n²; at scale ``n_centroids`` grows with the
    corpus so cells stay bounded (SemDeDup's own posture — 50k clusters
    for LAION-scale), and the cell self-join key is the cell id, a
    well-distributed shuffle.

    Returns one row per corpus vector: (id, cell, cluster, kept) — the
    min-id member of each near-dup component survives, like
    :func:`~pigpen_spark.functions.dedup.dedup_keep`.

    ``centroids`` (n×dim driver literals, e.g. from
    :func:`train_coarse_centroids`) swaps the deterministic first-N cell
    table for TRAINED cells without touching the plan — trained cells
    track the data distribution, so near-dup pairs land in the same cell
    far more reliably (the SemDeDup paper clusters with k-means for
    exactly this reason) and cell sizes stay balanced, which is what
    bounds the Σ|cell|² pair work at scale."""
    from pigpen_spark.functions.dedup import dedup_keep

    base = _vec_base(corpus, id_col, vec_col)
    assigned = (
        nearest_cells(base, _cell_table(base, n_centroids, centroids),
                      "id", "vec", "nrm", max_rank=1)
        .select("id", F.col("cent_id").alias("cell"))
        .join(base, "id")
        .transform(_persisted)
    )
    pairs = (
        _intra_cell_scored_pairs(assigned)
        .select("id_a", "id_b",
                F.round(F.try_divide(F.col("dot"), F.col("den")), 6).alias("score"))
        .filter(F.col("score") >= threshold)
    )
    labeled = dedup_keep(assigned.select("id", "cell"), pairs, "id")
    return labeled.select(
        F.col("id").alias(id_col), "cell", "cluster", "kept"
    )


def _intra_cell_scored_pairs(assigned: DataFrame) -> DataFrame:
    """Within-cell i<j pair scoring as a grouped Arrow kernel — the
    self-join sibling of :func:`_ivf_search`'s cogroup kernel.

    The cell self-join form materializes Σ|cell|² pair ROWS each
    carrying two embeddings; grouping by cell ships each member ONCE,
    scores the m×m block in numpy (strict left fold — bit contract at
    :func:`_arrow_cosine_raw`), and emits slim (id_a, id_b, dot, den)
    rows for the upper triangle in id order (id_a < id_b, matching the
    join form's ordering).  round + try_divide + thresholding stay
    JVM-side, so scores are bit-identical to the join form
    (TestSemanticDedupKernel pins the equivalence).

    ``assigned`` must carry (cell, id, vec, nrm)."""
    import numpy as np
    import pandas as pd

    key_type = assigned.schema["id"].dataType.simpleString()
    out_schema = f"id_a {key_type}, id_b {key_type}, dot double, den double"

    def score_cell(pdf):
        m = len(pdf)
        if m < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "dot": [], "den": []})
        pdf = pdf.sort_values("id")   # upper triangle == id_a < id_b
        V = _stack_vecs(pdf["vec"], "_intra_cell_scored_pairs")
        nr = pdf["nrm"].to_numpy(dtype=np.float64)
        ids = pdf["id"].to_numpy()
        # tile over row blocks (the _BLOCK_TILE memory bound — a skew-hot
        # cell costs time, never an executor OOM); per tile score rows
        # [lo,hi) against columns [lo,m) and keep the strict upper
        # triangle.  Fold order per element is unchanged by tiling.
        tile = max(1, _BLOCK_TILE // m)
        outs = []
        for lo in range(0, m - 1, tile):
            hi = min(lo + tile, m)
            acc = _fold_dot(V[lo:hi], V[lo:])   # strict left fold — bit contract
            den = nr[lo:hi, None] * nr[None, lo:]
            iu, ju = np.nonzero(
                np.arange(lo, hi)[:, None] < np.arange(lo, m)[None, :])
            outs.append(pd.DataFrame({
                "id_a": ids[lo:hi][iu], "id_b": ids[lo:][ju],
                "dot": acc[iu, ju], "den": den[iu, ju]}))
        return pd.concat(outs, ignore_index=True)

    # explicit repartition-by-num: AQE-exempt parallelism pin, same
    # rationale as _ivf_search's cogroup (slim shuffle, m² kernel work)
    n_part = _pinned_parallelism(assigned)
    return (
        assigned.select("cell", "id", "vec", "nrm")
        .repartition(n_part, "cell")
        .groupBy("cell").applyInPandas(score_cell, out_schema)
    )


def scalar_quantize(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None, bits: int = 8,
) -> DataFrame:
    """Per-dimension scalar quantization of an embedding column to
    ``bits``-bit integer codes — the storage-scale path for vector search
    (an int8 code stream is 4× smaller than float32; FAISS's SQ8 and
    every hosted vector index do exactly this before IVF/HNSW).

    Codebook: per-dimension [min, max] from ONE global aggregate (2·dim
    doubles — broadcast back as literals via a cross join with the
    1-row stats frame, which Catalyst turns into a broadcast nested loop
    over a single row: no shuffle of the corpus).  Code c of value x is
    ⌊(x − min)·(2^bits − 1)/(max − min)⌋ clamped to [0, 2^bits − 1];
    degenerate dimensions (max == min) code to 0.

    Returns (id, qvec array<int>, dequantization error per vector as
    max_abs_err) — the error column makes the recall/compression trade
    inspectable with one agg.  Keep the stats frame for query-time
    quantization; codes are comparable only under the same codebook."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    levels = (1 << bits) - 1
    base = spread(corpus).select(
        F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("vec")
    )
    stats = base.agg(
        F.array(*[F.min(F.element_at("vec", i + 1)) for i in range(dim)]).alias("__lo"),
        F.array(*[F.max(F.element_at("vec", i + 1)) for i in range(dim)]).alias("__hi"),
    )
    quantized = base.crossJoin(F.broadcast(stats))
    span = lambda i: F.element_at("__hi", i) - F.element_at("__lo", i)  # noqa: E731
    code = lambda i: F.when(  # noqa: E731
        span(i) > 0,
        F.least(
            F.lit(levels),
            F.greatest(
                F.lit(0),
                F.floor(
                    (F.element_at("vec", i) - F.element_at("__lo", i))
                    * F.lit(float(levels)) / span(i)
                ).cast("int"),
            ),
        ),
    ).otherwise(F.lit(0))
    deq = lambda i: F.element_at("__lo", i) + F.when(  # noqa: E731
        span(i) > 0, code(i).cast("double") * span(i) / F.lit(float(levels))
    ).otherwise(F.lit(0.0))
    idx = F.sequence(F.lit(1), F.lit(dim))
    return quantized.select(
        "id",
        F.transform(idx, code).alias("qvec"),
        F.array_max(
            F.transform(idx, lambda i: F.abs(F.element_at("vec", i) - deq(i)))
        ).alias("max_abs_err"),
    )


def scalar_quantize_sql(table: str, id_col: str, vec_col: str,
                        dim: int, bits: int = 8) -> str:
    """DuckDB equivalent of :func:`scalar_quantize` — identical float64
    operation order so codes AND dequantization errors hash-match."""
    levels = (1 << bits) - 1
    span = "(hi[i] - lo[i])"
    code = (f"(CASE WHEN {span} > 0 THEN least({levels}, greatest(0, "
            f"cast(floor((vec[i] - lo[i]) * {float(levels)!r} / {span}) AS INT)"
            f")) ELSE 0 END)")
    deq = (f"(lo[i] + (CASE WHEN {span} > 0 "
           f"THEN {code}::DOUBLE * {span} / {float(levels)!r} ELSE 0.0 END))")
    return f"""
    WITH base AS (
      SELECT {id_col} AS id, [x::DOUBLE for x in {vec_col}] AS vec FROM {table}
    ),
    stats AS (
      SELECT list(mn ORDER BY d) AS lo, list(mx ORDER BY d) AS hi FROM (
        SELECT d, min(v) AS mn, max(v) AS mx FROM (
          SELECT generate_subscripts(vec, 1) AS d, unnest(vec) AS v FROM base
        ) GROUP BY d
      )
    )
    SELECT id AS {id_col},
           [{code} for i in range(1, {dim + 1})] AS qvec,
           list_max([abs(vec[i] - {deq}) for i in range(1, {dim + 1})])
             AS max_abs_err
    FROM base, stats
    """


def _first_by_id(corpus: DataFrame, id_col: str, vec_col: str,
                 n: int) -> list[list[float]]:
    """The first ``n`` corpus vectors by id, collected driver-side — the
    deterministic stand-in codebook shared by the PQ family (tiny —
    n_codes × dim doubles; k-means output replaces it as data) and the
    bounded training sample of :func:`train_opq_rotation`."""
    rows = (
        corpus.select(F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("v"))
        .orderBy("id").limit(n).collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def train_pq_codebook(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None, m: int = 8, n_codes: int = 16,
    train_fraction: float = 1.0, seed: int = 7, max_iter: int = 10,
) -> list[list[float]]:
    """Train per-subspace PQ codebooks with pyspark.ml KMeans — the
    FAISS ``ProductQuantizer::train`` shape (ref: faiss
    ProductQuantizer.cpp trains one independent k-means per subspace):
    subspace ``j`` of every training vector is clustered into
    ``n_codes`` centers, independently of the other subspaces.

    Returns the SAME driver-artifact format :func:`_first_by_id`
    produces (``n_codes`` full-dim vectors): entry ``i`` concatenates
    center ``i`` of each subspace's codebook, because every consumer
    (:func:`product_quantize`, :func:`_adc_tables`) slices codebook
    entries per subspace — so independently-trained subspace codebooks
    compose entrywise with zero changes downstream, and a trained
    codebook drops into :func:`pq_adc_topk` / :func:`ivf_pq_topk` as a
    plain data parameter.

    Training cost: ``m`` KMeans fits over ``train_fraction`` of the
    corpus (each on dim/m-wide slices).  At corpus scale fit on a
    sample — PQ centers stabilize long before a full pass, exactly like
    the coarse quantizer in :func:`ivf_topk_kmeans`.  The result is
    n_codes × dim doubles on the driver: tiny, broadcast as literals.
    Degenerate subspaces (fewer distinct points than ``n_codes``) pad
    with their last center so every codebook is rectangular."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim is None:
        dim = infer_dim(corpus, vec_col)
    d = _sub_dim(dim, m, "train_pq_codebook")
    base = corpus.select(to_double(F.col(vec_col)).alias("vec"))
    train = base if train_fraction >= 1.0 else base.sample(train_fraction, seed=seed)
    train = train.transform(_persisted)  # m fits each scan it once
    sub_books: list[list[list[float]]] = []
    for j in range(m):
        feats = train.select(
            array_to_vector(F.slice(F.col("vec"), j * d + 1, d)).alias("features")
        )
        model = KMeans(k=n_codes, seed=seed + j, maxIter=max_iter).fit(feats)
        centers = [[float(x) for x in c] for c in model.clusterCenters()]
        while len(centers) < n_codes:  # degenerate subspace: pad
            centers.append(list(centers[-1]))
        sub_books.append(centers)
    return [
        [x for j in range(m) for x in sub_books[j][i]] for i in range(n_codes)
    ]


def _subspace_dist2(vec_name: str, j: int, d: int, cent: list[float]) -> Column:
    """Squared L2 distance between subspace j of a materialized array
    column and a codebook entry, as a flat left-associated sum — the one
    float path every PQ function shares (coding, MSE, ADC tables), so a
    change here cannot drift between the Spark forms."""
    acc = None
    for i in range(j * d + 1, (j + 1) * d + 1):
        t = (F.element_at(vec_name, i) - F.lit(cent[i - 1])) * (
            F.element_at(vec_name, i) - F.lit(cent[i - 1])
        )
        acc = t if acc is None else acc + t
    return acc


def _adc_tables(codebook: list[list[float]], m: int, d: int):
    """(tables, adist) for ADC scoring: per-subspace distance-table array
    columns over a materialized ``q_vec``, and the m-lookup sum against a
    ``codes`` column.  Shared by :func:`pq_adc_topk_expr` /
    :func:`ivf_pq_topk_expr` (the differential-reference forms)."""
    tables = [
        F.array(*[_subspace_dist2("q_vec", j, d, c) for c in codebook]).alias(f"__t{j}")
        for j in range(m)
    ]
    adist = None
    for j in range(m):
        t = F.element_at(F.col(f"__t{j}"), F.element_at("codes", j + 1) + 1)
        adist = t if adist is None else adist + t
    return tables, adist


def _np_adc_tables(Q, codebook: list[list[float]], m: int, d: int):
    """numpy ADC tables for a query matrix ``Q`` (q × dim float64):
    returns T (q × m × n_codes) where ``T[:, j, c]`` is the squared L2
    distance between subspace j of each query and codebook entry c,
    accumulated with EXACTLY :func:`_subspace_dist2`'s flat
    left-associated term order (``t_i0 + t_i1 + …``, each term one
    subtract + one multiply) — so every table entry is bit-identical to
    the expression form and the DuckDB oracles' sequential list_sum."""
    import numpy as np

    n_codes = len(codebook)
    T = np.empty((Q.shape[0], m, n_codes), dtype=np.float64)
    for j in range(m):
        for ci, c in enumerate(codebook):
            acc = None
            for i in range(j * d, (j + 1) * d):   # strict left fold
                diff = Q[:, i] - c[i]
                t = diff * diff
                acc = t if acc is None else acc + t
            T[:, j, ci] = acc
    return T


def _np_pq_codes(V, codebook: list[list[float]], m: int, d: int):
    """numpy PQ coding for a vector matrix ``V`` (n × dim float64):
    returns (codes n × m int32, sse n float64) under the SAME bit
    contract as the expression form — per-subspace distances via
    :func:`_np_adc_tables`'s left fold, code = FIRST minimal entry
    (``np.argmin`` first-occurrence == ``array_position(dj,
    array_min(dj))`` under exact float equality), sse = the m subspace
    minima summed left-associated in subspace order."""
    import numpy as np

    D = _np_adc_tables(V, codebook, m, d)           # n × m × n_codes
    codes = np.argmin(D, axis=2).astype(np.int32)   # first minimal
    rows = np.arange(V.shape[0])
    sse = None
    for j in range(m):                               # strict left fold
        mn = D[rows, j, codes[:, j]]
        sse = mn if sse is None else sse + mn
    return codes, sse


def _adc_sum(T, codes):
    """ADC distances (q × n) of query tables ``T`` (q × m × n_codes)
    against PQ ``codes`` (n × m): the m table lookups summed
    left-associated in subspace order — the same arithmetic as the
    expression form's lookup sum (:func:`_adc_tables`)."""
    acc = None
    for j in range(T.shape[1]):                      # strict left fold
        t = T[:, j, codes[:, j]]                     # q × n lookups
        acc = t if acc is None else acc + t
    return acc


def _codes_matrix(values):
    """Stack a pandas column of stored ``codes`` arrays into n × m ints."""
    import numpy as np

    return np.stack([np.asarray(c, dtype=np.int64) for c in values])


def _stack_vecs(values, who: str):
    """Stack a pandas column of vectors into an (n × d) float64 matrix
    with LOUD errors on NULL or ragged vectors (no dim contract — the
    variable-dim sibling of :func:`_stack_checked`)."""
    import numpy as np

    arrs = []
    for v in values:
        if v is None:
            raise ValueError(
                f"{who}: NULL vector in block — filter NULL vecs before blocking")
        arrs.append(np.asarray(v, dtype=np.float64))
    try:
        return np.stack(arrs)
    except ValueError:
        raise ValueError(f"{who}: ragged vector lengths in block") from None


def _stack_checked(values, dim: int, who: str):
    """Stack a pandas column of vectors into an (n × dim) float64 matrix,
    failing LOUDLY on NULL or wrong-length vectors — the Arrow kernels'
    input contract (the expression forms raise under ANSI element_at for
    short vectors and emit NULL-poisoned rows for NULL ones; the kernels
    make both cases an explicit error, same posture as
    :func:`lsh_bucket`).  NaN ELEMENTS are out of contract: they flow
    through as IEEE NaN here but comparisons order them differently
    JVM-side."""
    import numpy as np

    arrs = []
    for v in values:
        if v is None or len(v) != dim:
            got = "NULL" if v is None else str(len(v))
            raise ValueError(f"{who}: dim={dim} != vector length {got}")
        arrs.append(np.asarray(v, dtype=np.float64))
    return np.stack(arrs)


def _pq_setup(corpus: DataFrame, id_col: str, vec_col: str, dim: int | None,
              m: int, n_codes: int, codebook: list[list[float]] | None):
    """Shared prologue of :func:`product_quantize` and its expression
    reference → (dim, subspace width, spread (id, vec) base, codebook
    checked against dim)."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    d = _sub_dim(dim, m, "product_quantize")
    base = spread(corpus).select(
        F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("vec")
    )
    if codebook is None:
        codebook = _first_by_id(corpus, id_col, vec_col, n_codes)
    if any(len(c) != dim for c in codebook):
        raise ValueError("product_quantize: codebook entries must have length dim")
    return dim, d, base, codebook


def product_quantize(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None, m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """Product quantization (PQ, Jégou et al. 2011): split each vector
    into ``m`` subvectors and code each against an ``n_codes``-entry
    per-subspace codebook — log2(n_codes)·m bits per vector (64 bits at
    the defaults vs 2048 for a 64-dim float32), the compression behind
    IVF-PQ indexes.

    The codebook is a DRIVER ARTIFACT (n_codes full-dim vectors —
    k-means output in a trained system; default: the first n_codes
    corpus vectors by id, one tiny collect, same deterministic-quantizer
    posture as :func:`ivf_topk`).  Its values re-enter the plan as
    literals, so coding is a pure per-row expression — zero shuffles,
    zero joins; assignment work is m·n_codes·(dim/m) multiply-adds/row.

    Ties in the argmin break to the FIRST minimal code (array_position
    semantics).  Returns (id, codes array of m ints, mse = per-vector
    mean squared reconstruction error — the subspace-min distances
    summed, free because they're already computed).

    Execution: one Arrow/numpy pass per batch (:func:`_np_pq_codes` —
    coding is m·n_codes·dim multiply-adds per ROW, and the unrolled
    expression tree was the PQ family's dominant interpreted constant:
    10.3 s for 20k×64 at sf0.1, 0.5 s vectorized).  Bit-identical to
    :func:`product_quantize_expr` (the retained differential reference)
    under :func:`_np_adc_tables`'s left-fold contract; the final
    ``/ dim`` stays a single IEEE divide on both paths.  NULL or
    wrong-length vectors raise (:func:`_stack_checked`)."""
    import pandas as pd

    dim, d, base, codebook = _pq_setup(corpus, id_col, vec_col, dim, m,
                                       n_codes, codebook)
    cb = [list(map(float, c)) for c in codebook]
    id_type = base.schema["id"].dataType.simpleString()
    out_schema = f"id {id_type}, codes array<int>, mse double"
    fdim = float(dim)

    def code_batches(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            V = _stack_checked(pdf["vec"], dim, "product_quantize")
            codes, sse = _np_pq_codes(V, cb, m, d)
            yield pd.DataFrame({
                "id": pdf["id"],
                "codes": list(codes),
                "mse": sse / fdim,
            })

    return base.mapInPandas(code_batches, out_schema)


def product_quantize_expr(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None, m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
) -> DataFrame:
    """:func:`product_quantize` as pure Catalyst expressions — the
    differential-test reference form (bit-equality vs the Arrow kernel
    pinned by TestArrowPqCodes) and the shape
    :func:`product_quantize_sql` mirrors in DuckDB."""
    dim, d, base, codebook = _pq_setup(corpus, id_col, vec_col, dim, m,
                                       n_codes, codebook)

    dists = [
        F.array(*[_subspace_dist2("vec", j, d, c) for c in codebook])
        for j in range(m)
    ]
    codes = F.array(*[
        (F.array_position(dj, F.array_min(dj)) - 1).cast("int") for dj in dists
    ])
    sse = None
    for dj in dists:
        t = F.array_min(dj)
        sse = t if sse is None else sse + t
    return base.select(
        "id", codes.alias("codes"), (sse / F.lit(float(dim))).alias("mse")
    )


def product_quantize_sql(table: str, id_col: str, vec_col: str,
                         dim: int, m: int = 8, n_codes: int = 16) -> str:
    """DuckDB oracle for :func:`product_quantize` with the default
    first-``n_codes``-by-id codebook, recomputed in SQL (identical
    float64 values and operation order as the collected literals)."""
    ctes, code, sse, _ = _pq_sql(table, id_col, vec_col, dim, m, n_codes)
    return f"""
    WITH {ctes}
    SELECT id AS {id_col},
           [{code}] AS codes,
           ({sse}) / {float(dim)!r} AS mse
    FROM base, cb
    """


def pq_adc_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, dim: int | None = None,
    m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
    exclude_self: bool = True,
    max_queries: int = 65536,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes — the search half of an
    IVF-PQ index: the corpus is its :func:`product_quantize` codes (m
    small ints/vector), each query precomputes an m×n_codes table of
    exact subspace distances to every codebook entry, and a candidate's
    approximate distance is just m table lookups summed:
    Σⱼ table[j][code_j].

    Execution: the query side is DRIVER-COLLECTED (the
    :func:`brute_force_topk` bounded-artifact contract — this operator
    serves small query sets against an unbounded corpus; ``max_queries``
    makes the bound LOUD instead of a silent driver OOM) and its ADC
    tables are computed once in numpy; the corpus is then coded AND
    scored in ONE fused Arrow pass per batch (:func:`_np_pq_codes` +
    q×n table lookups summed left-associated), emitting slim
    (q_id, n_id, adist) rows — no q×n pair rows carrying m table
    arrays, no giant coding expression.  ``F.round(·, 6)`` and the
    rank window stay JVM-side, so every row is bit-identical to
    :func:`pq_adc_topk_expr` (the retained differential reference) and
    the DuckDB oracle.  At 10^10 vectors the scan still reads only the
    vector column once and ships 3 small columns per candidate.

    Returns (q_id, n_id, adist, rank) ranked by ascending approximate
    distance (ties by n_id).  ``exclude_self=True`` (default) drops the
    candidate whose id EQUALS the query id — right for corpus-subset
    queries, but an EXTERNAL query set whose ids coincidentally overlap
    corpus ids would silently lose that candidate: pass
    ``exclude_self=False`` when query ids aren't corpus row ids."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    d = _sub_dim(dim, m, "pq_adc_topk")
    if codebook is None:
        codebook = _first_by_id(corpus, id_col, vec_col, n_codes)
    cb = [list(map(float, c)) for c in codebook]
    q_ids, q_vecs, q_type = _collect_queries(
        queries, id_col, vec_col, max_queries, "pq_adc_topk")
    base = spread(corpus).select(
        F.col(id_col).alias("id"), to_double(F.col(vec_col)).alias("vec")
    )

    def codes_of(pdf):   # the fused pass: each batch is coded in-kernel
        V = _stack_checked(pdf["vec"], dim, "pq_adc_topk")
        return _np_pq_codes(V, cb, m, d)[0]

    return _adc_scan(base, q_ids, q_vecs, q_type, cb, m, d, k,
                     exclude_self, codes_of)


def _adc_scan(src: DataFrame, q_ids, q_vecs, q_type: str,
              cb: list[list[float]], m: int, d: int, k: int,
              exclude_self: bool, codes_of) -> DataFrame:
    """The one driver-collected ADC scan, shared by :func:`pq_adc_topk`
    and :func:`pq_topk_against`: the collected queries' ADC tables are
    built once per task (:func:`_np_adc_tables`), each ``src`` batch
    (``id`` plus whatever ``codes_of(pdf)`` turns into n × m codes —
    raw vectors coded in-kernel, or the stored ``codes`` column) is
    scored by :func:`_adc_sum` into slim (q_id, n_id, araw) rows, and
    ``round(·, 6)`` + the ascending-distance top-k stay JVM-side."""
    import numpy as np

    n_type = src.schema["id"].dataType.simpleString()
    out_schema = f"q_id {q_type}, n_id {n_type}, araw double"

    def score_batches(batches):
        if not q_vecs:
            return
        T = _np_adc_tables(np.asarray(q_vecs, dtype=np.float64), cb, m, d)
        q_ids_np = np.asarray(q_ids)
        for pdf in batches:
            if pdf.empty:
                continue
            yield _pair_frame(q_ids_np, pdf["id"].to_numpy(), exclude_self,
                              araw=_adc_sum(T, codes_of(pdf)))

    scored = (
        src.mapInPandas(score_batches, out_schema)
        .select("q_id", "n_id", F.round(F.col("araw"), 6).alias("adist"))
    )
    return _topk(scored, k, "adist", ascending=True)


def pq_refine_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, refine: int = 4,
    dim: int | None = None, m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
    exclude_self: bool = True, max_queries: int = 65536,
) -> DataFrame:
    """Compressed shortlist + EXACT re-rank — the FAISS IndexRefineFlat
    pattern: :func:`pq_adc_topk` pulls a ``k·refine`` candidate
    shortlist with m table lookups per pair (the corpus is never read
    as floats), then ONLY the shortlist's raw vectors are fetched and
    re-scored with exact cosine, and the top-``k`` by exact score is
    returned.  Recall approaches brute force as ``refine`` grows while
    the float work stays O(queries·k·refine) instead of O(queries·n) —
    the standard serving-quality/latency dial on a compressed index.

    Scale shape: the shortlist is bounded (≤ max_queries·k·refine slim
    rows) and BROADCAST against the corpus scan for the vector fetch —
    the re-rank never shuffles the corpus; the ADC pass is the only
    full scan.  Returns (q_id, n_id, score, rank) ranked by exact
    cosine descending (ties by n_id), the :func:`brute_force_topk`
    output shape."""
    if refine < 1:
        raise ValueError(f"pq_refine_topk: refine must be >= 1, got {refine}")
    short = pq_adc_topk(
        corpus, queries, id_col, vec_col, k=k * refine, dim=dim, m=m,
        n_codes=n_codes, codebook=codebook, exclude_self=exclude_self,
        max_queries=max_queries,
    ).select("q_id", "n_id")
    return _exact_rerank(short, queries, corpus, id_col, vec_col, k)


def _exact_rerank(short: DataFrame, queries: DataFrame, raw: DataFrame,
                  id_col: str, vec_col: str, k: int) -> DataFrame:
    """Exact-cosine re-rank of a bounded (q_id, n_id) shortlist against
    the raw vector table: the shortlist (+ its query vectors) is
    BROADCAST against the raw scan — the corpus is never shuffled for
    the re-rank.  Shared by :func:`pq_refine_topk` (inline codes) and
    :func:`pq_topk_against_refined` (stored index)."""
    qv = queries.select(F.col(id_col).alias("q_id"),
                        to_double(F.col(vec_col)).alias("__qv"))
    cv = spread(raw).select(F.col(id_col).alias("n_id"),
                            to_double(F.col(vec_col)).alias("__nv"))
    shortq = short.join(F.broadcast(qv), "q_id")   # bounded query side
    scored = (
        cv.join(F.broadcast(shortq), "n_id")       # corpus streams, no shuffle
        .select("q_id", "n_id",
                F.round(cosine(F.col("__qv"), F.col("__nv")), 6).alias("score"))
    )
    return _topk(scored, k)


def pq_topk_against_refined(
    index: DataFrame, cb_df: DataFrame, raw: DataFrame, queries: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding", k: int = 5,
    refine: int = 4, exclude_self: bool = True, max_queries: int = 65536,
) -> DataFrame:
    """:func:`pq_refine_topk` served off a STORED :func:`pq_index`:
    the ADC shortlist (``k·refine``) reads only the stored codes +
    codebook (:func:`pq_topk_against` — m off the artifacts), then the
    re-rank fetches JUST the shortlist's raw vectors from ``raw`` (the
    original vector table the index was built from).  This is the full
    FAISS IndexRefineFlat-on-parquet posture: compressed scan for
    recall, exact float math only on O(queries·k·refine) rows."""
    if refine < 1:
        raise ValueError(
            f"pq_topk_against_refined: refine must be >= 1, got {refine}")
    short = pq_topk_against(
        index, cb_df, queries, id_col, vec_col, k=k * refine,
        exclude_self=exclude_self, max_queries=max_queries,
    ).select("q_id", "n_id")
    return _exact_rerank(short, queries, raw, id_col, vec_col, k)


def _pq_sql(table: str, id_col: str, vec_col: str, dim: int, m: int,
            n_codes: int, q_vec: str = "q.vec") -> tuple[str, str, str, str]:
    """DuckDB pieces the PQ oracles share → (ctes, code, sse, adist):
    the ``base`` (id, vec) and ``cb`` (first ``n_codes`` vectors by id)
    CTEs, the per-row code list of ``vec`` (first minimal entry per
    subspace, :func:`product_quantize`'s argmin), the coding SSE (the
    subspace minima summed), and the ADC sum of ``q_vec``'s subspace
    distance tables looked up at ``codes``."""
    d = dim // m

    def dists(vec: str, j: int) -> str:
        lo = j * d + 1
        return (
            f"[list_sum([({vec}[i] - c[i]) * ({vec}[i] - c[i]) "
            f"for i in range({lo}, {lo + d})]) for c in cbs]"
        )

    ctes = f"""base AS (
      SELECT {id_col} AS id, [x::DOUBLE for x in {vec_col}] AS vec FROM {table}
    ),
    cb AS (
      SELECT list(vec ORDER BY id) AS cbs FROM (
        SELECT id, vec FROM base ORDER BY id LIMIT {n_codes}
      )
    )"""
    code = ", ".join(
        f"(list_position({dists('vec', j)}, list_min({dists('vec', j)})) - 1)::INT"
        for j in range(m)
    )
    sse = " + ".join(f"list_min({dists('vec', j)})" for j in range(m))
    adist = " + ".join(
        f"({dists(q_vec, j)})[codes[{j + 1}] + 1]" for j in range(m)
    )
    return ctes, code, sse, adist


def pq_refine_topk_sql(table: str, id_col: str, vec_col: str, dim: int,
                       k: int = 5, refine: int = 4, m: int = 8,
                       n_codes: int = 16,
                       query_pred: str = "id < 10") -> str:
    """DuckDB oracle for :func:`pq_refine_topk` (default codebook):
    the :func:`pq_adc_topk_sql` shortlist (at ``k·refine``) nested as a
    CTE, then the exact-cosine re-rank over the shortlist's raw
    vectors."""
    inner = pq_adc_topk_sql(table, id_col, vec_col, dim, k=k * refine, m=m,
                            n_codes=n_codes, query_pred=query_pred)
    return _rerank_sql(inner, table, id_col, vec_col, k)


def _rerank_sql(inner: str, table: str, id_col: str, vec_col: str,
                k: int) -> str:
    """DuckDB twin of :func:`_exact_rerank`: the (q_id, n_id, …)
    shortlist query ``inner`` re-ranked by exact cosine over the raw
    vectors of ``table``."""
    cos = cosine_sql("qb.vec", "nb.vec")
    return f"""
    WITH short AS ({inner}),
    rawv AS (
      SELECT {id_col} AS id, [x::DOUBLE for x in {vec_col}] AS vec
      FROM {table}
    )
    SELECT q_id, n_id, score, rank FROM (
      SELECT s.q_id, s.n_id,
             round({cos}, 6) AS score,
             row_number() OVER (
               PARTITION BY s.q_id
               ORDER BY round({cos}, 6) DESC, s.n_id
             ) AS rank
      FROM short s
      JOIN rawv qb ON qb.id = s.q_id
      JOIN rawv nb ON nb.id = s.n_id
    ) WHERE rank <= {k}
    """


def ivf_pq_topk_against_refined(
    lists: DataFrame, cb_df: DataFrame, cents_df: DataFrame, raw: DataFrame,
    queries: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, refine: int = 4, n_probe: int = 2,
    exclude_self: bool = True,
) -> DataFrame:
    """IndexRefineFlat over the STORED IVF-PQ artifact triple: the
    probed cells' codes produce the ``k·refine`` ADC shortlist
    (:func:`ivf_pq_topk_against` — both quantizers off the artifacts,
    queries cogrouped against their probed cells, never driver-
    collected), then :func:`_exact_rerank` fetches just the shortlist's
    raw vectors for the exact top-``k``.  The compressed end of the
    refine family (:func:`pq_refine_topk` inline /
    :func:`pq_topk_against_refined` flat-PQ / this, cell-pruned)."""
    if refine < 1:
        raise ValueError(
            f"ivf_pq_topk_against_refined: refine must be >= 1, got {refine}")
    short = ivf_pq_topk_against(
        lists, cb_df, cents_df, queries, id_col, vec_col, k=k * refine,
        n_probe=n_probe, exclude_self=exclude_self,
    ).select("q_id", "n_id")
    return _exact_rerank(short, queries, raw, id_col, vec_col, k)


def ivf_pq_refine_topk_sql(table: str, id_col: str, vec_col: str, dim: int,
                           k: int = 5, refine: int = 4,
                           n_centroids: int = 16, n_probe: int = 2,
                           m: int = 8, n_codes: int = 16,
                           query_pred: str = "id < 10") -> str:
    """DuckDB oracle for :func:`ivf_pq_topk_against_refined`: the full
    :func:`ivf_pq_topk_sql` shortlist (at ``k·refine``) nested as a CTE,
    re-ranked by exact cosine over the raw vectors."""
    inner = ivf_pq_topk_sql(table, id_col, vec_col, dim, k=k * refine,
                            n_centroids=n_centroids, n_probe=n_probe,
                            m=m, n_codes=n_codes, query_pred=query_pred)
    return _rerank_sql(inner, table, id_col, vec_col, k)


def pq_adc_topk_expr(
    corpus: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, dim: int | None = None,
    m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
    exclude_self: bool = True,
) -> DataFrame:
    """:func:`pq_adc_topk` as a broadcast join over expression-computed
    codes and ADC table columns — the differential-test reference form
    (bit-equality vs the Arrow kernel pinned by TestArrowPqAdc) and the
    shape :func:`pq_adc_topk_sql` mirrors in DuckDB."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    d = _sub_dim(dim, m, "pq_adc_topk")
    if codebook is None:
        codebook = _first_by_id(corpus, id_col, vec_col, n_codes)
    coded = product_quantize_expr(
        corpus, id_col, vec_col, dim=dim, m=m, n_codes=n_codes, codebook=codebook
    ).select("id", "codes")
    tables, adist = _adc_tables(codebook, m, d)
    q = queries.select(
        F.col(id_col).alias("q_id"), to_double(F.col(vec_col)).alias("q_vec")
    ).select("q_id", *tables)
    pair_cond = F.col("id") != F.col("q_id") if exclude_self else F.lit(True)
    scored = (
        coded.join(F.broadcast(q), pair_cond)
        .select("q_id", F.col("id").alias("n_id"), F.round(adist, 6).alias("adist"))
    )
    return _topk(scored, k, "adist", ascending=True)


def pq_adc_topk_sql(table: str, id_col: str, vec_col: str, dim: int,
                    k: int = 5, m: int = 8, n_codes: int = 16,
                    query_pred: str = "id < 10") -> str:
    """DuckDB oracle for :func:`pq_adc_topk` with the default codebook
    and a query side selected by ``query_pred`` over the aliased id.
    ``query_pred`` is a RAW SQL fragment spliced verbatim (it is test
    infrastructure, not a value — string values inside it must already
    be SQL-escaped, e.g. via :func:`pigpen_spark.functions.pipeline.sql_str`)."""
    ctes, code, _, adist = _pq_sql(table, id_col, vec_col, dim, m, n_codes)
    return f"""
    WITH {ctes},
    coded AS (SELECT id, [{code}] AS codes FROM base, cb),
    q AS (SELECT id AS q_id, vec FROM base WHERE {query_pred})
    SELECT q_id, n_id, adist, rank FROM (
      SELECT q.q_id, coded.id AS n_id,
             round({adist}, 6) AS adist,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY round({adist}, 6) ASC, coded.id
             ) AS rank
      FROM coded, cb, q WHERE coded.id <> q.q_id
    ) WHERE rank <= {k}
    """


def ivf_pq_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, dim: int | None = None,
    n_centroids: int = 16, n_probe: int = 2, m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
    exclude_self: bool = True,
    coarse_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """The FULL IVF-PQ index search: coarse cells bound the candidate set
    (each query probes its ``n_probe`` nearest cells), PQ codes + ADC
    tables replace float math on the candidates — the two halves
    (:func:`ivf_topk`'s cell pruning, :func:`pq_adc_topk`'s compressed
    scoring) composed the way FAISS IndexIVFPQ does.

    Candidate work is n·(n_probe/n_centroids) pairs scored at m lookups
    each; the corpus contributes one cell id + m code ints per vector.
    A (query, candidate) pair arises at most once (a candidate lives in
    exactly one cell), so no dedup shuffle.  Queries rank THEIR OWN
    vector against the broadcast centroid table — arbitrary external
    query sets work, not just corpus subsets (but pass
    ``exclude_self=False`` if external query ids can collide with
    corpus ids, else the colliding candidate is silently dropped).
    Queries whose probed cells are empty of others return fewer than
    k rows.

    Execution (the :func:`_ivf_search` doctrine applied to ADC):
    Arrow-coded corpus (:func:`product_quantize`) and Arrow cell
    assignment (:func:`nearest_cells`), then a COGROUPED per-cell ADC
    kernel (:func:`_cogroup_adc_scored`) — each cell ships its members'
    codes and its probing queries' vectors ONCE, the kernel builds the
    block's ADC tables in numpy and scores the q×m block with table
    lookups, emitting slim (q_id, n_id, araw) rows.  The join form it
    replaces materialized a q×m pair row per candidate, each carrying
    the query's m×n_codes table arrays (~1 KB/pair at the defaults).
    round + rank stay JVM-side — bit-identical to
    :func:`ivf_pq_topk_expr` (the retained differential reference)."""
    lists, cb, cents = _ivf_pq_build(
        corpus, id_col, vec_col, dim, n_centroids, m, n_codes, codebook,
        coarse_centroids, "ivf_pq_topk")
    return _ivf_pq_serve(lists, cb, m, cents, queries, id_col, vec_col, k,
                         n_probe, exclude_self)


def _ivf_pq_build(corpus: DataFrame, id_col: str, vec_col: str,
                  dim: int | None, n_centroids: int, m: int, n_codes: int,
                  codebook: list[list[float]] | None,
                  coarse_centroids: list[list[float]] | None, who: str):
    """The one IVF-PQ index build, shared by :func:`ivf_pq_index` (which
    stores it) and :func:`ivf_pq_topk` (which serves it in memory) →
    ((cell, id, codes) inverted lists, codebook, cell table).  Trained
    quantizers (k-means output) enter as literals — the full FAISS
    IndexIVFPQ posture; the defaults are the first ``n_centroids`` /
    ``n_codes`` corpus vectors by id."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    _sub_dim(dim, m, who)
    base = _vec_base(corpus, id_col, vec_col)
    cents = _cell_table(base, n_centroids, coarse_centroids)
    if codebook is None:
        codebook = _first_by_id(corpus, id_col, vec_col, n_codes)
    coded = product_quantize(
        corpus, id_col, vec_col, dim=dim, m=m, n_codes=n_codes, codebook=codebook
    ).select("id", "codes")
    cb = [list(map(float, c)) for c in codebook]
    return _ivf_lists(base, cents, coded), cb, cents


def _ivf_lists(base: DataFrame, cents: DataFrame, coded: DataFrame) -> DataFrame:
    """(cell, id, codes) inverted-list rows: each vector of the persisted
    (id, vec, nrm) ``base`` in its nearest cell, carrying its PQ codes."""
    return (
        nearest_cells(base, cents, "id", "vec", "nrm", max_rank=1)
        .select("id", F.col("cent_id").alias("cell"))
        .join(coded, "id")
        .select("cell", "id", "codes")
    )


def _ivf_pq_serve(lists: DataFrame, cb: list[list[float]], m: int,
                  cents: DataFrame, queries: DataFrame, id_col: str,
                  vec_col: str, k: int, n_probe: int,
                  exclude_self: bool) -> DataFrame:
    """The one IVF-PQ search, shared by :func:`ivf_pq_topk` (artifacts
    just built, in memory) and :func:`ivf_pq_topk_against` (artifacts
    read off storage): queries rank the cell table with the Arrow
    assignment (:func:`nearest_cells`), probe their ``n_probe`` nearest
    cells, and the cogrouped ADC kernel (:func:`_cogroup_adc_scored`)
    scores each cell's codes against its probing queries."""
    # persist: the probe assignment and the probe rows both read it
    qbase = (
        queries.select(
            F.col(id_col).alias("q_id"), to_double(F.col(vec_col)).alias("q_vec")
        )
        .withColumn("q_nrm", arrow_norm(F.col("q_vec")))
        .transform(_persisted)
    )
    probes = (
        qbase.select("q_id", "q_vec")
        .join(
            nearest_cells(qbase, cents, "q_id", "q_vec", "q_nrm",
                          max_rank=max(n_probe, 1))
            .filter(F.col("crank") <= n_probe)
            .select("q_id", F.col("cent_id").alias("cell")),
            on="q_id",
        )
        .select("cell", "q_id", "q_vec")
    )
    cand = _cogroup_adc_scored(
        probes, lists.select("cell", "id", "codes"), "cell", cb, m,
        exclude_self=exclude_self,
    )
    return _topk(cand, k, "adist", ascending=True)


def _cogroup_adc_scored(probes: DataFrame, members: DataFrame, key: str,
                        cb: list[list[float]], m: int,
                        exclude_self: bool = True) -> DataFrame:
    """ADC sibling of :func:`_cogroup_scored`: cogroup ``probes``
    (key, q_id, q_vec) with ``members`` (key, id, codes) on ``key``,
    build the block's ADC tables in numpy (:func:`_np_adc_tables` — the
    bit contract), score each q×m block by m table lookups summed
    left-associated (:func:`_adc_sum`), and return slim (q_id, n_id,
    adist) rows with the ``round(·, 6)`` applied JVM-side.

    Per-task memory is bounded by TILING the member side
    (:data:`_BLOCK_TILE` elements per q×tile score matrix) — a skew-hot
    key costs more time, never an executor OOM.  NULL keys are dropped
    on both sides (equi-join semantics of the form this replaces), and
    NULL/ragged q_vecs raise (:func:`_stack_checked`)."""
    import pandas as pd

    dim = len(cb[0])
    d = dim // m
    n_part = _pinned_parallelism(probes)
    probes = probes.filter(F.col(key).isNotNull()).repartition(n_part, key)
    members = members.filter(F.col(key).isNotNull()).repartition(n_part, key)
    q_type = probes.schema["q_id"].dataType.simpleString()
    n_type = members.schema["id"].dataType.simpleString()
    out_schema = f"q_id {q_type}, n_id {n_type}, araw double"

    def score_block(qdf, mdf):
        nq = len(qdf)
        if nq == 0 or len(mdf) == 0:
            return pd.DataFrame({"q_id": [], "n_id": [], "araw": []})
        Q = _stack_checked(qdf["q_vec"], dim, "_cogroup_adc_scored")
        T = _np_adc_tables(Q, cb, m, d)            # q × m × n_codes
        q_ids_all = qdf["q_id"].to_numpy()
        codes_all = _codes_matrix(mdf["codes"])
        ids_all = mdf["id"].to_numpy()
        tile = max(1, _BLOCK_TILE // max(nq, 1))
        outs = []
        for lo in range(0, len(mdf), tile):
            outs.append(_pair_frame(
                q_ids_all, ids_all[lo:lo + tile], exclude_self,
                araw=_adc_sum(T, codes_all[lo:lo + tile])))
        return pd.concat(outs, ignore_index=True)

    return (
        probes.groupBy(key).cogroup(members.groupBy(key))
        .applyInPandas(score_block, out_schema)
        .select("q_id", "n_id", F.round(F.col("araw"), 6).alias("adist"))
    )


def ivf_pq_topk_expr(
    corpus: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, dim: int | None = None,
    n_centroids: int = 16, n_probe: int = 2, m: int = 8, n_codes: int = 16,
    codebook: list[list[float]] | None = None,
    exclude_self: bool = True,
    coarse_centroids: list[list[float]] | None = None,
) -> DataFrame:
    """:func:`ivf_pq_topk` as the candidate join over expression-computed
    codes and ADC table columns — the differential-test reference form
    (bit-equality vs the cogroup kernel pinned by TestArrowPqAdc) and
    the shape :func:`ivf_pq_topk_sql` mirrors in DuckDB."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    d = _sub_dim(dim, m, "ivf_pq_topk")
    base = _vec_base(corpus, id_col, vec_col, nrm=norm)
    cents = _cell_table(base, n_centroids, coarse_centroids)

    def probe_cells(frame, key: str, vec: str, nrm: str, max_rank: int):
        csim = F.try_divide(
            dot(F.col(vec), F.col("cent_vec")), F.col(nrm) * F.col("cent_nrm")
        )
        w_cell = Window.partitionBy(key).orderBy(F.col("csim").desc(), F.col("cent_id"))
        return (
            frame.crossJoin(F.broadcast(cents))
            .select(key, "cent_id", csim.alias("csim"))
            .withColumn("crank", F.row_number().over(w_cell))
            .filter(F.col("crank") <= max_rank)
            .select(key, F.col("cent_id").alias("cell"))
        )

    if codebook is None:
        codebook = _first_by_id(corpus, id_col, vec_col, n_codes)
    coded = product_quantize_expr(
        corpus, id_col, vec_col, dim=dim, m=m, n_codes=n_codes, codebook=codebook
    ).select("id", "codes")
    assigned = probe_cells(base, "id", "vec", "nrm", 1).join(coded, "id")
    tables, adist = _adc_tables(codebook, m, d)
    qbase = (
        queries.select(
            F.col(id_col).alias("q_id"), to_double(F.col(vec_col)).alias("q_vec")
        )
        .withColumn("q_nrm", norm(F.col("q_vec")))
        .transform(_persisted)
    )
    probes = (
        qbase.select("q_id", *tables)
        .join(probe_cells(qbase, "q_id", "q_vec", "q_nrm", n_probe), on="q_id")
    )
    cand = probes.join(assigned, on="cell")
    if exclude_self:
        cand = cand.filter(F.col("q_id") != F.col("id"))
    cand = cand.select(
        "q_id", F.col("id").alias("n_id"), F.round(adist, 6).alias("adist")
    )
    return _topk(cand, k, "adist", ascending=True)


def ivf_pq_topk_sql(table: str, id_col: str, vec_col: str, dim: int,
                    k: int = 5, n_centroids: int = 16, n_probe: int = 2,
                    m: int = 8, n_codes: int = 16,
                    query_pred: str = "id < 10") -> str:
    """DuckDB oracle for :func:`ivf_pq_topk` (default codebook; queries
    are the base rows satisfying ``query_pred``, a predicate over the
    unqualified column ``id`` — no string rewriting is applied)."""
    ctes, code, _, adist = _pq_sql(table, id_col, vec_col, dim, m, n_codes,
                                   "q.q_vec")
    return f"""
    WITH {ctes},
    cents AS (SELECT id AS cent_id, vec AS cent_vec FROM base ORDER BY id LIMIT {n_centroids}),
    cells AS (
      SELECT b.id, c.cent_id,
             row_number() OVER (
               PARTITION BY b.id
               ORDER BY ({cosine_sql('b.vec', 'c.cent_vec')}) DESC, c.cent_id
             ) AS crank
      FROM base b CROSS JOIN cents c
    ),
    coded AS (SELECT id, [{code}] AS codes FROM base, cb),
    assigned AS (
      SELECT cells.id, cells.cent_id AS cell, coded.codes
      FROM cells JOIN coded ON cells.id = coded.id WHERE crank = 1
    ),
    q0 AS (SELECT id AS q_id, vec AS q_vec FROM base WHERE {query_pred}),
    qcells AS (
      SELECT q0.q_id, q0.q_vec, c.cent_id,
             row_number() OVER (
               PARTITION BY q0.q_id
               ORDER BY ({cosine_sql('q0.q_vec', 'c.cent_vec')}) DESC, c.cent_id
             ) AS crank
      FROM q0 CROSS JOIN cents c
    ),
    q AS (SELECT q_id, q_vec, cent_id AS cell FROM qcells WHERE crank <= {n_probe})
    SELECT q_id, n_id, adist, rank FROM (
      SELECT q.q_id, a.id AS n_id,
             round({adist}, 6) AS adist,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY round({adist}, 6) ASC, a.id
             ) AS rank
      FROM q JOIN assigned a ON q.cell = a.cell AND q.q_id <> a.id, cb
    ) WHERE rank <= {k}
    """


def group_centroids(df: DataFrame, group_col, vec_col, dim: int) -> DataFrame:
    """Per-group centroid (element-wise mean) of a fixed-``dim`` vector
    column — cluster summaries, class prototypes, IVF seeding.

    One groupBy with ``dim`` column-wise ``avg`` aggregates: fully
    whole-stage-codegen, partial map-side combine, ONE shuffle of
    (groups × dim) doubles — no posexplode (which would shuffle
    dim× the rows) and no UDF.  The fixed-dim unrolling is the same
    contract as :func:`lsh_bucket`; use :func:`infer_dim` when unknown."""
    vec = to_double(_c(vec_col))
    aggs = [
        F.avg(F.element_at(vec, i + 1)).alias(f"__c{i}") for i in range(dim)
    ]
    return (
        df.groupBy(_c(group_col))
        .agg(*aggs)
        .select(
            _c(group_col),
            F.array(*[F.col(f"__c{i}") for i in range(dim)]).alias("centroid"),
        )
    )


# ---------------------------------------------------------------------------
# rotation pre-transforms for PQ (the OPQ family)
# ---------------------------------------------------------------------------


def sign_permutation(dim: int, seed: int = 0) -> tuple[list[int], list[float]]:
    """Deterministic signed permutation — the cheapest member of the
    orthogonal pre-transform family PQ indexes use to decorrelate /
    re-balance subspaces (FAISS ships the dense cousin as
    ``RandomRotationMatrix``; a signed permutation is the O(dim)
    structured case, the ``P·D`` factor of fast Johnson-Lindenstrauss
    ``H·D`` transforms).  Fisher-Yates driven by md5 draws, so both
    engines bake in identical literals (same trick as
    :func:`plane_values`).

    Returns ``(perm, signs)``: output dim ``i`` takes input dim
    ``perm[i]`` times ``signs[i] ∈ {−1.0, 1.0}`` — multiplication by ±1
    is float-exact, so a permuted pipeline stays hash-exact against its
    DuckDB oracle."""
    import hashlib

    perm = list(range(dim))
    for i in range(dim - 1, 0, -1):
        j = int(hashlib.md5(f"sp-{seed}-{i}".encode()).hexdigest()[:8], 16) % (i + 1)
        perm[i], perm[j] = perm[j], perm[i]
    signs = [
        1.0 if int(hashlib.md5(f"sg-{seed}-{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    ]
    return perm, signs


def sign_permute(vec, perm: list[int], signs: list[float]) -> Column:
    """Apply :func:`sign_permutation` as a pure projection —
    ``out[i] = vec[perm[i]] · signs[i]``, dim element_at's, no shuffle,
    no UDF.  ``vec`` should be a materialized column (each slot
    references it once)."""
    v = to_double(vec)
    return F.array(*[
        F.element_at(v, perm[i] + 1) * F.lit(signs[i]) for i in range(len(perm))
    ])


def sign_permute_sql(vec: str, perm: list[int], signs: list[float]) -> str:
    """DuckDB equivalent of :func:`sign_permute` (same literals)."""
    parts = ", ".join(
        f"({vec})[{p + 1}]::DOUBLE * {s!r}" for p, s in zip(perm, signs)
    )
    return f"[{parts}]"


def train_opq_rotation(
    corpus: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    dim: int | None = None, m: int = 8, sample_size: int = 4096,
) -> list[list[float]]:
    """Parametric OPQ rotation (Ge et al., CVPR 2013, "Optimized Product
    Quantization", the non-iterative OPQ_P solution): PCA eigenbasis +
    eigenvalue allocation — principal directions are dealt to the ``m``
    subspaces so each subspace gets a balanced eigenvalue product
    (balanced information ⇒ balanced per-subspace quantization error),
    greedily assigning each eigenvalue (descending) to the unfilled
    subspace with the smallest log-product so far.

    Trained DRIVER-SIDE on a bounded deterministic sample (first
    ``sample_size`` rows by id — FAISS ``OPQMatrix::train`` subsamples
    too); the result is a dim×dim float64 matrix on the driver, tiny,
    re-entering the plan as a literal/broadcast.  Rotated PQ never does
    worse than identity-PQ on anisotropic data; on isotropic data it is
    a no-op in expectation."""
    import numpy as np

    if dim is None:
        dim = infer_dim(corpus, vec_col)
    d = _sub_dim(dim, m, "train_opq_rotation")
    X = np.asarray(_first_by_id(spread(corpus), id_col, vec_col, sample_size),
                   dtype=np.float64)
    if X.size == 0:
        return [[1.0 if i == j else 0.0 for j in range(dim)] for i in range(dim)]
    Xc = X - X.mean(axis=0)
    cov = (Xc.T @ Xc) / max(len(X) - 1, 1)
    w, V = np.linalg.eigh(cov)  # ascending eigenvalues
    order = np.argsort(w)[::-1]
    w, V = w[order], V[:, order]
    buckets: list[list[int]] = [[] for _ in range(m)]
    logs = [0.0] * m
    for i in range(dim):
        b = min(
            (b for b in range(m) if len(buckets[b]) < d),
            key=lambda b: (logs[b], b),
        )
        buckets[b].append(i)
        logs[b] += float(np.log(max(float(w[i]), 1e-12)))
    cols = [i for b in buckets for i in b]
    R = V[:, cols].T  # rotated = R @ x; row i is the eigvec feeding out-dim i
    return [[float(x) for x in row] for row in R]


def rotate_vectors(
    df: DataFrame, id_col: str, vec_col: str, rotation: list[list[float]],
) -> DataFrame:
    """Apply a driver-side dense rotation-matrix literal to a vector
    column with an Arrow-batched numpy matmul — the production path for
    dense orthogonal transforms: dim² FLOPs per vector are SIMD batch
    work (one BLAS GEMM per Arrow batch), not expression-tree work.

    NOT hash-exact across engines (BLAS sum order ≠ the left-fold), so
    trained-OPQ consumers carry rows-only oracles; the hash-exact
    structured alternative is :func:`sign_permute`."""
    import numpy as np
    import pandas as pd

    R = np.asarray(rotation, dtype=np.float64)

    def _rot(batch):
        if len(batch) == 0:
            return pd.Series([], dtype=object)
        X = np.asarray(batch.tolist(), dtype=np.float64)
        Y = X @ R.T
        return pd.Series(list(Y))

    _rot.__annotations__ = {"batch": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_rot, "array<double>")
    return df.withColumn(vec_col, udf(to_double(F.col(vec_col))))


def ann_recall(approx: DataFrame, exact: DataFrame,
               q_col: str = "q_id", n_col: str = "n_id") -> DataFrame:
    """Recall@k of an approximate top-k result against the exact one —
    the measure-don't-guess companion every ANN parameter choice needs
    (n_tables/n_planes/n_probe/PQ m): per query, |approx ∩ exact| over
    |exact| in integer ppm, plus one corpus row (q_id NULL) micro-
    averaging all pairs.  Works with ANY two (q_id, n_id) relations —
    lsh_topk vs brute_topk, ivf_pq vs brute, trained vs untrained.

    One equi-join on (q, n) + two aggregates; division-free integers."""
    a = approx.select(F.col(q_col).alias("q_id"), F.col(n_col).alias("n_id")).distinct()
    e = exact.select(F.col(q_col).alias("q_id"), F.col(n_col).alias("n_id")).distinct()
    hits = e.join(a, on=["q_id", "n_id"], how="left_semi")
    per_q = (
        e.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_exact"))
        .join(hits.groupBy("q_id").agg(F.count(F.lit(1)).alias("n_hit")),
              on="q_id", how="left")
        .select(
            "q_id", "n_exact",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.expr("coalesce(n_hit, 0) * 1000000 DIV n_exact").alias("recall_ppm"),
        )
    )
    overall = per_q.agg(
        F.lit(None).cast(per_q.schema["q_id"].dataType).alias("q_id"),
        F.sum("n_exact").alias("n_exact"),
        F.sum("n_hit").alias("n_hit"),
        F.expr("sum(n_hit) * 1000000 DIV sum(n_exact)").alias("recall_ppm"),
    )
    return per_q.unionByName(overall)


def lsh_index(corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding",
              n_planes: int | str | None = 6,
              dim: int | None = None,
              auto_sizing: tuple[int, int, int] | None = None) -> DataFrame:
    """Materializable ANN index: ``(id, vec double[], nrm, bucket)`` —
    the corpus hashed ONCE.  Store it (parquet, ideally partitioned or
    bucketed by ``bucket``) and serve every future query batch from
    :func:`lsh_topk_against` without touching the raw corpus again — the
    index-as-data seam, same contract as :func:`pigpen_spark.functions.
    dedup.minhash_index` for near-dup.  At 100 TB the corpus is hashed
    once per index build, not once per query batch.  ``n_planes="auto"``
    density-sizes the bucket count (resolve_planes); the SERVING side
    (lsh_topk_against) must then use the index's plane count — store it
    alongside the index.  ``auto_sizing=(target_bucket, floor, cap)``
    overrides the density-sizing knobs (same triple as lsh_topk's)."""
    if auto_sizing is not None and n_planes in (None, "auto"):
        t, fl, cap = auto_sizing
        n_planes = resolve_planes(n_planes, corpus, t, fl, cap)
    else:
        n_planes = resolve_planes(n_planes, corpus)
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    # dedupe_safe=False: the downstream bucket equi-join inserts an
    # isnotnull(bucket) that the optimizer pushes below this projection,
    # re-evaluating the Arrow hashing pass over the whole index corpus a
    # second time (guide §4.4).  The index output is consumed once (or
    # written out) — never cache-self-joined — so the nondeterministic
    # marking is safe
    return _lsh_rows(corpus, id_col, vec_col, n_planes, dim, dedupe_safe=False)


def _lsh_rows(df: DataFrame, id_col: str, vec_col: str, n_planes: int,
              dim: int, prefix: str = "", dedupe_safe: bool = True) -> DataFrame:
    """``df`` hashed into stored-index rows (id, vec, bucket, nrm), with
    ``prefix`` on id/vec/nrm — the shape of :func:`lsh_index`, its
    appends and a served query batch."""
    return (
        df.select(
            F.col(id_col).alias(prefix + "id"),
            to_double(F.col(vec_col)).alias(prefix + "vec"),
            lsh_bucket(F.col(vec_col), n_planes, dim,
                       dedupe_safe=dedupe_safe).alias("bucket"),
        )
        .withColumn(prefix + "nrm", arrow_norm(F.col(prefix + "vec")))
    )


def lsh_topk_against(
    index: DataFrame, queries: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 5, n_planes: int | str = 6,
    dim: int | None = None, multi_probe: bool = False,
    exclude_self: bool = True,
    score_min: float | None = None, score_max: float | None = None,
) -> DataFrame:
    """Incremental ANN search: top-``k`` neighbors of a NEW query batch
    against a STORED :func:`lsh_index` — the batch-serving sibling of
    :func:`lsh_topk` (which hashes and self-joins the whole corpus).

    The query batch is hashed with the SAME plane set and equi-joins the
    index on bucket; ``multi_probe`` explodes the QUERY side only (the
    index stays as stored — probing is free recall at (n_planes+1)×
    query-side join keys, and each candidate arises from exactly one
    probe slot, so no dedup shuffle).  Only the batch is hashed per call;
    the index side shuffles at most once (zero times if the stored index
    is bucketed on ``bucket``).

    ``exclude_self`` drops candidates whose index id EQUALS the query id —
    right for re-querying a corpus with its own members (the catalog
    query's shape).  For external query sets whose ids may coincidentally
    collide with corpus ids, pass ``exclude_self=False`` or a corpus
    vector sharing the query's id is silently dropped (same contract note
    as pq_adc_topk).

    ``n_planes="index"`` reads the plane count OFF the stored index
    (length of one bucket string, a 1-row probe) — the safe serving mode
    for indexes built with ``n_planes="auto"``: a hand-passed count that
    disagrees with the stored bucket width would silently match zero
    buckets; deriving it from the artifact can't drift."""
    if n_planes == "index":
        row = index.select(F.length("bucket").alias("np")).first()
        if row is None:
            raise ValueError("lsh_topk_against: empty index, cannot derive n_planes")
        n_planes = int(row["np"])
    elif not isinstance(n_planes, int):
        # "auto" is a BUILD-side mode; at serving time the only safe
        # source of the plane count is the stored artifact itself
        raise ValueError(
            f"lsh_topk_against: n_planes must be an int or 'index', got "
            f"{n_planes!r} (for an auto-built index pass n_planes='index')")
    if dim is None:
        dim = infer_dim(queries, vec_col)
    qt = _lsh_rows(queries, id_col, vec_col, n_planes, dim, prefix="q_")
    if multi_probe:
        qt = qt.select(
            "q_id", "q_vec", "q_nrm",
            F.explode(probe_buckets(F.col("bucket"), n_planes)).alias("bucket"),
        )
    # cogrouped per-bucket kernel (parallelism pin inside
    # _cogroup_scored — the pin was first added HERE after the 100×
    # scaling run caught a 2-task stage scoring ~30M candidates): each
    # query and index vector crosses the shuffle once, the q×m block
    # scores in numpy, slim scored rows come back
    scored = _cogroup_scored(
        qt.select("bucket", "q_id", "q_vec", "q_nrm"),
        index.select("bucket", "id", "vec", "nrm"),
        "bucket", exclude_self=exclude_self,
    )
    # score band BEFORE ranking: [score_min, score_max) — the semi-hard
    # negative-mining window (close enough to be informative, far enough
    # to not be a duplicate); rank is then within the band
    if score_min is not None:
        scored = scored.filter(F.col("score") >= score_min)
    if score_max is not None:
        scored = scored.filter(F.col("score") < score_max)
    return _topk(scored, k)


def stored_plane_count(index: DataFrame) -> int:
    """Plane count of a stored :func:`lsh_index` artifact, read off the
    bucket width (1-row probe) — the only safe source at serving or
    maintenance time (a hand-passed count that disagrees with the
    stored width silently matches zero buckets)."""
    row = index.select(F.length("bucket").alias("np")).first()
    if row is None:
        raise ValueError("stored_plane_count: empty index")
    return int(row["np"])


def lsh_index_append(index: DataFrame, batch: DataFrame,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     dim: int | None = None) -> DataFrame:
    """INCREMENTAL index maintenance: hash ONLY the new batch (with the
    plane count read off the stored artifact) and union it onto the
    stored index — the lsh twin of :func:`pigpen_spark.functions.dedup.
    minhash_candidates_against`'s write path.  At 100 TB the corpus is
    hashed once ever; each day's delta costs one scan of the delta.

    Contract (oracle-pinned by ext_ann_index_update): append == rebuild
    — ``lsh_index_append(lsh_index(corpus, n), batch)`` is row-for-row
    identical to ``lsh_index(corpus ∪ batch, n)``, because the planes
    are pure functions of (plane index, dim) and the stored width pins
    the plane count.  Appending NEVER resizes the plane count (an
    auto-built index's density sizing is frozen at build time — by
    design: resizing rewrites every bucket, i.e. a rebuild);
    :func:`lsh_index_drift` is the monitor that says when the frozen
    sizing has gone stale enough to warrant one."""
    n_planes = stored_plane_count(index)
    if dim is None:
        dim = infer_dim(batch, vec_col)
    new_rows = _lsh_rows(batch, id_col, vec_col, n_planes, dim)
    return index.select("id", "vec", "bucket", "nrm") \
        .unionByName(new_rows.select("id", "vec", "bucket", "nrm"))


def lsh_index_drift(baseline: DataFrame, live: DataFrame,
                    target_bucket: int = 200, floor: int = 8,
                    cap: int = 32) -> DataFrame:
    """Staleness monitor for a stored :func:`lsh_index`: compares the
    CELL-OCCUPANCY distribution of the live (typically appended) index
    against the build-time baseline via the integer-exact histogram
    drift sketch (bucket sign-patterns read as base-2 integers — the
    cell id IS the bin), and re-derives what the density-auto sizing
    WOULD pick for the live corpus size.  One ≤2^planes-row sketch per
    side, no vector is ever re-read.

    Returns one row: (n_old, n_new, l1_ppm, linf_ppm, n_bins_changed,
    planes_stored, planes_auto, stale) — ``stale`` when the auto sizing
    disagrees with the stored width (the corpus outgrew its bucket
    count: occupancy is drifting up and candidate pair work with it) —
    the trigger for scheduling the one real rebuild.  Shape drift with
    ``stale=false`` (l1_ppm high, same plane count) instead means the
    DATA moved — new vectors crowd different cells — the signal to
    retrain centroids/codebooks downstream (SemDeDup cells, IVF lists,
    PQ codebooks all inherit the same trigger)."""
    from pigpen_spark.functions.sketch import histogram_drift
    from pigpen_spark.tuning import lsh_planes_for

    planes_stored = stored_plane_count(baseline)
    n_cells = 1 << planes_stored
    cell = F.conv(F.col("bucket"), 2, 10).cast("bigint")
    drift = histogram_drift(baseline, live, cell, lo=0, hi=n_cells,
                            n_bins=min(256, n_cells))
    planes_auto = F.lit(lsh_planes_for(
        live.count(), target_bucket, floor, cap)).cast("int")
    return drift.select(
        "n_old", "n_new", "l1_ppm", "linf_ppm", "n_bins_changed",
        F.lit(planes_stored).cast("int").alias("planes_stored"),
        planes_auto.alias("planes_auto"),
        (planes_auto != planes_stored).alias("stale"),
    )


def pq_index(corpus: DataFrame, id_col: str = "vec_id",
             vec_col: str = "embedding", dim: int | None = None,
             m: int = 8, n_codes: int = 16,
             codebook: list[list[float]] | None = None,
             ) -> tuple[DataFrame, DataFrame]:
    """Materializable COMPRESSED ANN index — the PQ sibling of
    :func:`lsh_index`: the corpus coded ONCE into (id, codes m×int) plus
    the codebook as a tiny (code_id, cb_vec) table.  Store both (codes
    parquet + codebook parquet — the codebook is the artifact every
    serving/append call must reuse, the analog of the LSH index's
    stored plane count) and serve every future query batch from
    :func:`pq_topk_against` without touching the raw vectors again.
    At 10^10 vectors the index reads 8 bytes of codes per candidate
    instead of 256+ bytes of floats — FAISS's on-disk IndexPQ posture
    as two plain tables."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    _sub_dim(dim, m, "pq_index")
    if codebook is None:
        codebook = _first_by_id(corpus, id_col, vec_col, n_codes)
    codes = product_quantize(
        corpus, id_col, vec_col, dim=dim, m=m, n_codes=n_codes,
        codebook=codebook,
    ).select("id", "codes")
    return codes, _codebook_df(corpus.sparkSession, codebook)


def _codebook_df(spark, codebook: list[list[float]]) -> DataFrame:
    """The stored codebook artifact (code_id int, cb_vec array<double>)
    — the one schema every PQ-family build and index stream writes."""
    return spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(codebook)],
        "code_id int, cb_vec array<double>",
    )


def stored_codebook(cb_df: DataFrame) -> list[list[float]]:
    """Codebook artifact of a stored :func:`pq_index`, collected in
    code_id order (bounded by design: n_codes × dim doubles) — the only
    safe source at serving/append time, same doctrine as
    :func:`stored_plane_count` (a hand-passed codebook that disagrees
    with the stored codes scores garbage distances silently)."""
    # collect unordered + driver-side sort: an orderBy().collect() on the
    # artifact pays a range-partitioning sample job + a full exchange for
    # a table that is n_codes rows by contract (guide §2.4: an orderBy
    # used only to make output deterministic is an accidental shuffle —
    # measured 2.3 s vs 0.5 s per read on the bench rig)
    rows = sorted(cb_df.select("code_id", "cb_vec").collect(),
                  key=lambda r: r["code_id"])
    if not rows:
        raise ValueError("stored_codebook: empty codebook table")
    return [[float(x) for x in r["cb_vec"]] for r in rows]


def stored_code_width(index: DataFrame) -> int:
    """Subspace count ``m`` of a stored :func:`pq_index`, read off the
    codes width (1-row probe)."""
    row = index.select(F.size("codes").alias("m")).first()
    if row is None:
        raise ValueError("stored_code_width: empty index")
    return int(row["m"])


def _stored_pq(cb_df: DataFrame, index: DataFrame, who: str):
    """(codebook, m) read OFF a stored PQ-family index for serving: the
    stored width must divide the stored codebook dim."""
    cb = stored_codebook(cb_df)
    m = stored_code_width(index)
    if len(cb[0]) % m != 0:
        raise ValueError(
            f"{who}: stored code width m={m} does not divide "
            f"the stored codebook dim={len(cb[0])}")
    return cb, m


def pq_topk_against(
    index: DataFrame, cb_df: DataFrame, queries: DataFrame,
    id_col: str = "vec_id", vec_col: str = "embedding", k: int = 5,
    exclude_self: bool = True, max_queries: int = 65536,
) -> DataFrame:
    """ADC top-k of a query batch against a STORED :func:`pq_index` —
    the serving sibling of :func:`pq_adc_topk` (which codes the corpus
    inline).  ``m`` and the codebook are read OFF the stored artifacts;
    queries are driver-collected (bounded-artifact contract, loud
    ``max_queries`` cap) and their ADC tables computed once in numpy;
    the kernel then scores each codes batch by m table lookups — the
    raw corpus vectors are never touched.  Bit-identical to
    :func:`pq_adc_topk` on the same codebook (the codes and the
    left-fold lookup sum are the same arithmetic)."""
    cb, m = _stored_pq(cb_df, index, "pq_topk_against")
    q_ids, q_vecs, q_type = _collect_queries(
        queries, id_col, vec_col, max_queries, "pq_topk_against", note="")
    return _adc_scan(index.select("id", "codes"), q_ids, q_vecs, q_type, cb,
                     m, len(cb[0]) // m, k, exclude_self,
                     lambda pdf: _codes_matrix(pdf["codes"]))


def ivf_pq_index(corpus: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", dim: int | None = None,
                 n_centroids: int = 16, m: int = 8, n_codes: int = 16,
                 codebook: list[list[float]] | None = None,
                 coarse_centroids: list[list[float]] | None = None,
                 ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materializable IVF-PQ index — the full FAISS ``IndexIVFPQ``
    persisted as three plain tables: (cell, id, codes) inverted lists,
    the PQ codebook, and the coarse-centroid table.  Store all three
    (the lists ideally partitioned by ``cell``) and serve query batches
    from :func:`ivf_pq_topk_against`; at scale each query batch reads
    only its probed cells' code bytes."""
    lists, cb, cents = _ivf_pq_build(
        corpus, id_col, vec_col, dim, n_centroids, m, n_codes, codebook,
        coarse_centroids, "ivf_pq_index")
    return lists, _codebook_df(corpus.sparkSession, cb), cents


def ivf_pq_topk_against(
    lists: DataFrame, cb_df: DataFrame, cents_df: DataFrame,
    queries: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, n_probe: int = 2, exclude_self: bool = True,
) -> DataFrame:
    """IVF-PQ serving off a STORED :func:`ivf_pq_index`: queries rank
    the stored centroid table (Arrow assignment), probe their
    ``n_probe`` nearest cells' inverted lists, and ADC-score the cells'
    stored codes through the cogrouped block kernel — m and the
    codebook read OFF the artifacts, the raw corpus never touched.
    Bit-identical to :func:`ivf_pq_topk` under the same quantizers."""
    cb, m = _stored_pq(cb_df, lists, "ivf_pq_topk_against")
    return _ivf_pq_serve(lists, cb, m, cents_df, queries, id_col, vec_col, k,
                         n_probe, exclude_self)


def ivf_code_batch(batch: DataFrame, cb: list[list[float]],
                   cents_df: DataFrame, m: int,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   ) -> DataFrame:
    """Assign + PQ-code ONE batch against FROZEN quantizers → (cell, id,
    codes) inverted-list rows — the delta half shared by
    :func:`ivf_pq_index_append` and the streaming maintenance twin
    (``streaming.core.ivf_pq_index_stream``).  Both cell assignment and
    coding are pure functions of (vector, quantizers), which is what
    makes append == rebuild and replays idempotent."""
    base = _vec_base(batch, id_col, vec_col)
    return _ivf_lists(base, cents_df, _pq_code_batch(batch, cb, m, id_col, vec_col))


def ivf_pq_index_append(lists: DataFrame, cb_df: DataFrame,
                        cents_df: DataFrame, batch: DataFrame,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        ) -> DataFrame:
    """INCREMENTAL IVF-PQ maintenance: assign + code ONLY the new batch
    against the STORED quantizers (coarse centroids for the cell, the
    codebook for the codes — both pure functions of the vector) and
    union it onto the stored inverted lists.  append == rebuild under
    the frozen quantizers, the same contract as
    :func:`pq_index_append`; retraining either quantizer re-codes or
    re-assigns every vector — a rebuild by definition."""
    cb = stored_codebook(cb_df)
    m = stored_code_width(lists)
    new_rows = ivf_code_batch(batch, cb, cents_df, m, id_col, vec_col)
    return lists.select("cell", "id", "codes").unionByName(new_rows)


def pq_index_append(index: DataFrame, cb_df: DataFrame, batch: DataFrame,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    ) -> DataFrame:
    """INCREMENTAL PQ index maintenance: code ONLY the new batch against
    the STORED codebook and union it onto the stored codes — the PQ twin
    of :func:`lsh_index_append`.  Contract: append == rebuild-with-the-
    frozen-codebook (coding is a pure function of (vector, codebook)),
    so ``pq_index_append(idx, cb, batch)`` is row-identical to coding
    ``corpus ∪ batch`` under the build-time codebook.  Appending NEVER
    retrains the codebook (retraining re-codes every vector — a
    rebuild); :func:`lsh_index_drift`'s shape-drift signal is the
    shared retrain trigger."""
    cb = stored_codebook(cb_df)
    m = stored_code_width(index)
    new_codes = _pq_code_batch(batch, cb, m, id_col, vec_col)
    return index.select("id", "codes").unionByName(new_codes)


def _pq_code_batch(batch: DataFrame, cb: list[list[float]], m: int,
                   id_col: str, vec_col: str) -> DataFrame:
    """PQ-code ONE batch against a FROZEN codebook → (id, codes) — the
    delta half of every append and index stream (coding is a pure
    function of (vector, codebook): append == rebuild)."""
    return product_quantize(
        batch, id_col, vec_col, dim=len(cb[0]), m=m, n_codes=len(cb),
        codebook=cb,
    ).select("id", "codes")


def _refuse_width_change(spark, codes_path: str, m: int, who: str) -> None:
    """The index streams' m-width refusal: once codes exist at
    ``codes_path``, a stream restarted with a different ``m`` would
    append codes of another width and break :func:`stored_code_width`'s
    one-row probe nondeterministically — changing m is a rebuild."""
    from pyspark.errors import AnalysisException

    try:
        stored_m = stored_code_width(spark.read.parquet(codes_path))
    except AnalysisException:
        return  # no codes yet: the first batch seeds the index
    if stored_m != m:
        raise ValueError(
            f"{who}: stored index at {codes_path} has "
            f"code width m={stored_m} but the stream was started "
            f"with m={m} — changing m is a REBUILD, not an append")


def _stored_or_seed(spark, path: str, seed, read):
    """Stored-wins artifact read for the index streams: ``read`` the
    artifact table at ``path``; if none was written yet, the first batch
    writes ``seed()`` (an artifact DataFrame) there first, so it reads
    back exactly what every later batch will."""
    from pyspark.errors import AnalysisException

    try:
        table = spark.read.parquet(path)
    except AnalysisException:
        seed().write.mode("overwrite").parquet(path)
        table = spark.read.parquet(path)
    return read(table)


def _stream_codebook(path: str, frame: DataFrame, id_col: str, vec_col: str,
                     n_codes: int, codebook: list[list[float]] | None):
    """The PQ-family index streams' codebook: the stored artifact at
    ``path``; the first batch seeds it from ``codebook=`` or, like
    :func:`pq_index`, from ``frame``'s first ``n_codes`` vectors by id."""
    spark = frame.sparkSession
    return _stored_or_seed(
        spark, path,
        lambda: _codebook_df(spark, codebook if codebook is not None
                             else _first_by_id(frame, id_col, vec_col, n_codes)),
        stored_codebook)


def rotation_matrix(perm: list[int], signs: list[float]) -> list[list[float]]:
    """:func:`sign_permutation` as a dense dim×dim orthogonal matrix
    (``R[i][perm[i]] = signs[i]``) — the bridge from the structured
    O(dim) transform into the generic stored-rotation artifact path:
    one nonzero per row means the GEMM in :func:`rotate_vectors`
    computes ``signs[i]·x[perm[i]]`` float-EXACTLY (adding 0.0 terms
    preserves the value), so an OPQ index built on this matrix stays
    hash-exact against its DuckDB oracle while exercising the very same
    stored-matrix serving path a trained PCA rotation uses."""
    dim = len(perm)
    R = [[0.0] * dim for _ in range(dim)]
    for i in range(dim):
        R[i][perm[i]] = float(signs[i])
    return R


def opq_index(corpus: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", dim: int | None = None,
              m: int = 8, n_codes: int = 16,
              rotation: list[list[float]] | None = None,
              codebook: list[list[float]] | None = None,
              sample_size: int = 4096,
              ) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Materializable OPQ index — FAISS ``OPQMatrix + IndexPQ``
    persisted as THREE plain tables: (id, codes) in ROTATED space, the
    PQ codebook (trained/derived on rotated vectors), and the rotation
    matrix itself as (row_id, r_vec).  The rotation is the piece the r9
    index family lacked: without it stored, an OPQ index could not be
    served or appended purely off artifacts — queries must be rotated
    by the SAME matrix that coded the corpus, or ADC distances are
    garbage.  ``rotation=None`` trains the parametric OPQ_P rotation
    (:func:`train_opq_rotation`); the codebook defaults from the
    ROTATED corpus (codes live in rotated space)."""
    if dim is None:
        dim = infer_dim(corpus, vec_col)
    if rotation is None:
        rotation = train_opq_rotation(corpus, id_col, vec_col, dim=dim, m=m,
                                      sample_size=sample_size)
    if len(rotation) != dim:
        raise ValueError(
            f"opq_index: rotation is {len(rotation)}×{len(rotation[0])} "
            f"but dim={dim}")
    # persist both the rotated corpus and the codes: the build's
    # codebook probe, the serving side's stored_code_width probe and the
    # ADC scan otherwise each recompute the GEMM + coding chain from the
    # raw vectors (guide §5: reuse ⇒ persist; measured 2.2× rotation
    # recompute in ext_ann_opq_index before this)
    rot = rotate_vectors(corpus, id_col, vec_col, rotation) \
        .transform(_persisted)
    codes, cb_df = pq_index(rot, id_col, vec_col, dim=dim, m=m,
                            n_codes=n_codes, codebook=codebook)
    codes = codes.transform(_persisted)
    return codes, cb_df, _rotation_df(corpus.sparkSession, rotation)


def _rotation_df(spark, rotation: list[list[float]]) -> DataFrame:
    """The stored rotation artifact (row_id int, r_vec array<double>) of
    :func:`opq_index` and the OPQ index stream."""
    return spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(rotation)],
        "row_id int, r_vec array<double>",
    )


def stored_rotation(rot_df: DataFrame) -> list[list[float]]:
    """Rotation artifact of a stored :func:`opq_index`, collected in
    row_id order (bounded: dim² doubles) — the only safe source at
    serving/append time, same stored-wins doctrine as
    :func:`stored_codebook`."""
    # unordered collect + driver-side sort (see stored_codebook: the
    # orderBy exchange on a dim-row artifact is pure overhead)
    rows = sorted(rot_df.select("row_id", "r_vec").collect(),
                  key=lambda r: r["row_id"])
    if not rows:
        raise ValueError("stored_rotation: empty rotation table")
    return [[float(x) for x in r["r_vec"]] for r in rows]


def opq_topk_against(
    index: DataFrame, cb_df: DataFrame, rot_df: DataFrame,
    queries: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding",
    k: int = 5, exclude_self: bool = True, max_queries: int = 65536,
) -> DataFrame:
    """ADC top-k against a STORED :func:`opq_index`: the query batch is
    rotated by the STORED matrix (read off the artifact — never a
    caller-passed one that could disagree with the codes), then served
    through :func:`pq_topk_against` exactly like a plain PQ index.
    Rotations are orthogonal ⇒ rotated-space ADC ranks are valid in the
    original space."""
    R = stored_rotation(rot_df)
    rq = rotate_vectors(queries, id_col, vec_col, R)
    return pq_topk_against(index, cb_df, rq, id_col, vec_col, k=k,
                           exclude_self=exclude_self, max_queries=max_queries)


def opq_index_append(index: DataFrame, cb_df: DataFrame, rot_df: DataFrame,
                     batch: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """INCREMENTAL OPQ maintenance: rotate the new batch by the STORED
    matrix, code it against the STORED codebook, union onto the stored
    codes — append == rebuild under the frozen (rotation, codebook)
    pair, :func:`pq_index_append`'s contract extended to both
    quantizer artifacts (rotation and coding are each pure functions of
    the vector and their artifact)."""
    R = stored_rotation(rot_df)
    rb = rotate_vectors(batch, id_col, vec_col, R)
    return pq_index_append(index, cb_df, rb, id_col, vec_col)


def negative_samples(df: DataFrame, id_col: str = "vec_id", k: int = 4,
                     n_total: int | None = None, salt: str = "neg") -> DataFrame:
    """Deterministic random negative sampling over a DENSE 0..N-1 id
    domain: anchor a gets negatives ``md5-hash(a, j, salt) mod N`` for
    j < k — the contrastive-training pair generator (in-batch negatives
    don't exist in a batch engine; this is the corpus-wide equivalent).

    Pure per-row expression — no shuffle to SAMPLE (joining payloads for
    the drawn ids afterwards is one equi-join); md5-derived draws make
    the epoch reproducible and engine-portable (same formula in any SQL
    oracle).  A draw that lands on the anchor itself shifts to
    ``(a+1) mod N`` — cheap, deterministic, bias O(1/N).

    ``n_total`` is the domain size; None = one count() job.  Returns
    (id_col, j, neg_id).  Non-dense id spaces: attach a dense rank first
    (:func:`pigpen_spark.operators.windows.ranked`).
    """
    if k < 1:
        raise ValueError(f"negative_samples: k must be >= 1, got {k}")
    if n_total is None:
        n_total = df.count()
    a = _c(id_col)
    out = df.select(a.alias(id_col), F.explode(F.array(*[F.lit(j) for j in range(k)])).alias("j"))
    draw = F.conv(
        F.substring(F.md5(F.concat_ws("_", F.col(id_col).cast("string"),
                                      F.col("j").cast("string"), F.lit(salt))), 1, 8),
        16, 10,
    ).cast("bigint") % n_total
    neg = F.when(draw == F.col(id_col), (F.col(id_col) + 1) % n_total).otherwise(draw)
    return out.withColumn("neg_id", neg)


def negative_samples_sql(table: str, id_col: str, k: int, n_total_sql: str,
                         salt: str = "neg") -> str:
    """DuckDB oracle for :func:`negative_samples` (same md5 formula)."""
    draw = (f"(('0x' || substring(md5({id_col}::VARCHAR || '_' || j::VARCHAR || '_{salt}'), 1, 8))::BIGINT"
            f" % ({n_total_sql}))")
    return f"""
    SELECT {id_col}, j::INT AS j,
           (CASE WHEN {draw} = {id_col} THEN ({id_col} + 1) % ({n_total_sql})
                 ELSE {draw} END)::BIGINT AS neg_id
    FROM {table}, range({k}) r(j)
    """


def ann_mrr(approx: DataFrame, truth: DataFrame, q_col: str = "q_id",
            n_col: str = "n_id", rank_col: str = "rank") -> DataFrame:
    """Mean reciprocal rank of an approximate RANKED result against a
    relevant set — the ordering-quality companion to :func:`ann_recall`
    (recall says whether truth was retrieved at all; MRR says how high
    the FIRST relevant lands).  Per truth query: 10⁶ DIV the best rank
    any relevant neighbor achieves in the approx list (0 when none was
    retrieved); one corpus row with the ppm mean over ALL truth queries.
    Integer arithmetic throughout — hash-exact cross-engine.

    One equi-join on (q, n) + two aggregates; division-free until the
    final DIVs."""
    a = approx.select(F.col(q_col).alias("q_id"), F.col(n_col).alias("n_id"),
                      F.col(rank_col).alias("__r"))
    t = truth.select(F.col(q_col).alias("q_id"),
                     F.col(n_col).alias("n_id")).distinct()
    first = (
        t.join(a, on=["q_id", "n_id"], how="left")
        .groupBy("q_id").agg(F.min("__r").alias("__best"))
    )
    return first.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.count("__best").cast("bigint").alias("n_found"),
        F.expr("sum(coalesce(1000000 DIV __best, 0)) DIV count(1)")
         .cast("bigint").alias("mrr_ppm"),
    )


def embedding_diversity(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Corpus-level embedding diversity WITHOUT pairs: the identity
    E‖x−y‖² = 2·(E‖x‖² − ‖E x‖²) turns the mean pairwise squared
    distance — the mode-collapse / duplication-pressure diagnostic —
    into per-dimension first/second moments: one posexplode + one
    dim-keyed groupBy (dim rows total), never an n² join.  Shard
    moments merge by addition, so the metric maintains incrementally
    like the other sufficient statistics.

    Returns one row: (n_vectors, dim, mean_sq_norm, sq_norm_of_mean,
    mean_pair_sq_dist), aggregates rounded to 6 decimals (float sums
    are association-ordered; rounding at readout is the repo's
    cross-engine float discipline)."""
    exploded = df.select(F.posexplode(to_double(F.col(vec_col)))
                         .alias("d", "v"))
    dims = exploded.groupBy("d").agg(
        F.sum("v").alias("s"), F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.count(F.lit(1)).alias("n"))
    return dims.agg(
        F.max("n").cast("bigint").alias("n_vectors"),
        F.count(F.lit(1)).cast("int").alias("dim"),
        F.round(F.sum(F.expr("s2 / n")), 6).alias("mean_sq_norm"),
        F.round(F.sum(F.expr("(s / n) * (s / n)")), 6).alias("sq_norm_of_mean"),
        F.round(2 * (F.sum(F.expr("s2 / n"))
                     - F.sum(F.expr("(s / n) * (s / n)"))), 6)
         .alias("mean_pair_sq_dist"),
    )


def margin_mine(
    src: DataFrame, tgt: DataFrame, id_col: str = "vec_id",
    vec_col: str = "embedding", k: int = 4, n_planes: int | str | None = 6,
    dim: int | None = None, margin_threshold: float = 1.0,
    multi_probe: bool = True,
    auto_sizing: tuple[int, int, int] | None = None,
) -> DataFrame:
    """Margin-based cross-corpus pair mining — the ratio-margin
    criterion of Artetxe & Schwenk (2019) that CCMatrix-style bitext
    pipelines select pairs with: a (src, tgt) pair is kept not for a
    HIGH absolute cosine but for how much its best match stands out
    against the query's OTHER candidates — margin = score(best) /
    mean(score(rest)).  Absolute thresholds break across domains and
    hubness; the margin normalizes per query.

    Candidates come from :func:`lsh_topk_against` over an index of the
    TARGET side (blocked, never all-pairs; only the source batch hashes
    per call).  Queries with fewer than 2 candidates have no margin
    evidence and are absent.  The rest-mean is folded IN RANK ORDER
    (ordered list fold, not a bare float sum) so both engines add the
    same doubles in the same order — what keeps the margin hash-exact.

    Returns (src_id, tgt_id, score, margin) for margin >= threshold.
    ``n_planes="auto"`` (with optional ``auto_sizing``) density-sizes
    the target index from one count — at scale the fixed-plane form's
    candidate work grows quadratically with density (SCALE.md round 6:
    36.7× at 10× for the fixed instrument), the auto form's does not;
    the serving side always reads the plane count off the index."""
    idx = lsh_index(tgt, id_col, vec_col, n_planes=n_planes, dim=dim,
                    auto_sizing=auto_sizing)
    nn = lsh_topk_against(
        idx, src, id_col, vec_col, k=k,
        n_planes="index", dim=dim, multi_probe=multi_probe,
        exclude_self=False,
    )
    rest = F.array_sort(F.collect_list(
        F.when(F.col("rank") > 1, F.struct("rank", "score"))))
    agg = nn.groupBy("q_id").agg(
        F.max(F.when(F.col("rank") == 1, F.col("n_id"))).alias("tgt_id"),
        F.max(F.when(F.col("rank") == 1, F.col("score"))).alias("score"),
        rest.alias("__rest"),
    )
    rest_sum = F.aggregate(F.col("__rest"), F.lit(0.0),
                           lambda acc, s: acc + s["score"])
    margin = F.round(F.col("score") * F.size("__rest") / rest_sum, 6)
    return (
        agg.filter(F.size("__rest") >= 1)
        .withColumn("margin", margin)
        .filter(F.col("margin") >= margin_threshold)
        .select(F.col("q_id").alias("src_id"), "tgt_id", "score", "margin")
    )
