"""Corpus-scale suffix-array / LCP maximal repeats.

The substring-dedup family's exact form (Lee et al. 2021 "Deduplicating
Training Data Makes Language Models Better", the ExactSubstr suffix-array
pass): build ONE suffix array over the whole packed token corpus, take
the LCP of adjacent suffixes, and every adjacent pair with LCP ≥ L marks
a repeated span at its exact maximal length — catching repeats at every
alignment and every length, where the fixed-window forms
(pipeline.dedup_substrings / max_repeats) only see multiples of the
window size.

Architecture choice (Spark-first, not a port): the suffix array is built
by GENERALIZED PREFIX DOUBLING expressed entirely in DataFrame ops —
O(log₄ L) rounds of (one lead-window pairing exchange → derived-bucket
dense rank), the published distributed-memory SA construction (Flick &
Aluru, SC'15) at radix 4: per-round cost here is dominated by FIXED job
latency, so fewer/fatter rounds win (round 9: 30.7 → 15.4 s at sf0.1).
The same form runs at every corpus size, up to the 3·10⁹-token bound of
its long rank key, under the session's own adaptive execution.
A per-shard DC3 in Arrow batches was considered and rejected: a
monolithic in-batch SA caps the corpus at one executor's memory, and
sharding it silently loses every cross-shard repeat — the doubling form
shuffles but is exact at any scale.  LCP then falls out of the SAME
per-round rank tables (the sparse-table descent: walk k from high to
low, extend by the table width — up to radix−1 times per level —
whenever rank_k matches at the current offset), so no suffix is ever
re-compared symbol by symbol.

Separators: each document is terminated by a per-doc UNIQUE negative
sentinel symbol, so no repeat can span a document boundary, while
repeats ACROSS documents (the corpus-dedup target) are found naturally.

Oracle: the identical computation as chained DuckDB CTEs with a FIXED
round count (16 ⇒ exact for corpora shorter than 65536 tokens, the
sf0.01 regime) — extra rounds past rank-uniqueness are fixpoint no-ops,
which is also why the Spark side may stop early without divergence.
Round CTEs are referenced four times each (next round + descent), so
they are AS MATERIALIZED (the CTE-inlining landmine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


#: serialized + spillable blocks for every checkpoint here: the rank
#: tables are corpus-sized and ALL retained for the LCP descent, so the
#: default deserialized storage exhausts the heap at the 100x corpus
#: (measured: 27.6M tokens x ~10 round tables OOM'd a 16g driver);
#: PySpark's MEMORY_AND_DISK is serialized-with-spill — memory-safe at
#: ~10x less footprint
_CKPT_LEVEL = StorageLevel.MEMORY_AND_DISK

from pigpen_spark import cache as _cache
from pigpen_spark.cache import checkpointed as _checkpointed
from pigpen_spark.cache import persisted as _persisted
from pigpen_spark.functions.dedup import token_hashes, token_hashes_sql
from pigpen_spark.operators.windows import partition_offsets

#: out-of-range sentinels for rank/symbol lookups past either end; two
#: DISTINCT values per side so a missing left neighbour never "equals" a
#: missing right neighbour (left-maximality at position 0)
_MISS_A, _MISS_B = -9_000_000_001, -9_000_000_002


def _int_div(x, d: int):
    """Block/bucket id ``x DIV d``: Spark's integral division, a long
    that truncates toward zero and stays exact at any long (a double
    ``(x - x % d) / d`` rounds past 2^53)."""
    return F.call_function("div", x, F.lit(d))


def pack_positions(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(pos, sym, doc_id, loc): the corpus as one global symbol sequence.

    Tokens carry the portable 32-bit md5 hash (dedup.token_hashes — the
    repo-wide hash contract, non-negative), each doc is closed by the
    unique negative sentinel ``-(doc_id) - 1``, and the doc's global
    offset is an EXCLUSIVE prefix sum of (n_tokens + 1) in doc_id order
    — computed two-phase (range repartition + per-partition offsets),
    never a one-partition global window."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.concat(
            token_hashes(F.col(text_col)),
            F.array((-F.col(id_col) - F.lit(1)).cast("bigint")),
        ).alias("syms"),
    ).withColumn("n", F.size("syms").cast("bigint")).transform(_persisted)
    # DERIVED doc_id buckets instead of a sampled range partition: the
    # id bounds come from ONE bounded min/max aggregation (satisfied
    # from parquet footer statistics when the id is a raw column —
    # aggregatePushdown is on), the bucket is monotone in doc_id by
    # construction, and the boundary-sampling pass disappears
    # (guide §2.4).  Per-bucket SIZE offsets (sum of n, not row counts —
    # the take_budget shape) stay a bounded driver-side vector.
    pid = "__sa_pid"
    bounds = docs.agg(F.min(F.col(id_col)).alias("lo"),
                      F.max(F.col(id_col)).alias("hi"),
                      F.count(F.lit(1)).alias("n")).collect()[0]
    lo = int(bounds["lo"]) if bounds["lo"] is not None else 0
    hi = int(bounds["hi"]) if bounds["hi"] is not None else 0
    n_docs = int(bounds["n"])
    n_buckets = max(8 * docs.sparkSession.sparkContext.defaultParallelism, 64)
    span = hi - lo + 1
    if span > max(1, n_docs) * 4096:
        # sparse/clustered ids: value-range buckets would land nearly all
        # docs in a handful of buckets (single-partition windows).  Fall
        # back to a SAMPLED range partition — the pid is frozen in a
        # checkpoint so the offsets pass and the window pass provably
        # read the same tagging (a persist alone can miss the cache under
        # self-join relation dedup and re-sample).
        # Registered with the session: the returned positions derive
        # from it, so it lives until clear_engine_caches.
        bucketed = (
            toks.repartitionByRange(n_buckets, F.col("doc_id"))
            .withColumn(pid, F.spark_partition_id())
            .transform(_checkpointed, eager=False, level=_CKPT_LEVEL))
    else:
        idc = F.col("doc_id").cast("long") - F.lit(lo)
        div = max(1, -(-span // n_buckets))
        bucketed = toks.withColumn(pid, _int_div(idc, div))
    off, _ = partition_offsets(bucketed, pid, F.sum("n"))
    from pyspark.sql import Window
    w = Window.partitionBy(pid).orderBy("doc_id") \
        .rowsBetween(Window.unboundedPreceding, -1)
    doc_off = (F.coalesce(F.sum("n").over(w), F.lit(0)) + off).alias("off")
    with_off = bucketed.select("doc_id", "syms", doc_off)
    return with_off.select(
        "doc_id", "off",
        F.posexplode("syms").alias("loc", "sym"),
    ).select(
        (F.col("off") + F.col("loc")).alias("pos"),
        F.col("sym").cast("bigint").alias("sym"),
        "doc_id",
        F.col("loc").cast("long").alias("loc"),
    )


def _dense_rank_bucketed(df: DataFrame, cols: list[str],
                         n_prev: int) -> tuple[DataFrame, int]:
    """Dense rank for construction rounds past the first, whose keys are
    PREVIOUS-ROUND dense ranks on [0, n_prev) (missing neighbours −1) —
    a two-phase in-place rank whose range partitioning is DERIVED, not
    sampled: the bucket is a monotone integer function of the (r0, r1)
    key prefix, so bucket order IS key order and equal keys co-locate by
    construction.  Two sequential job barriers per round, no more
    (guide §2.4 — remove shuffles/passes outright):

    - no ``repartitionByRange`` boundary-sampling pass (and therefore no
      persist of the round input to keep that pass from recomputing the
      round's pairing);
    - no separate ``countDistinct`` scan — each bucket's distinct-key
      count is read off the bucket's max local dense rank, collected
      from the already-checkpointed table (a bounded B-long vector).

    Bucketing on the (r0, r1) PAIR, not r0 alone, is what keeps the
    derived partitioning balanced: a hot first symbol (one r0 value —
    e.g. the corpus's most common token) can own a large share of all
    suffixes, and r0-only buckets would put every one of its tuples in
    one window partition (measured at sf0.1: 3 of 512 buckets held 60%
    of keys).  The pair key = prefix of length 2·width, whose hot mass
    shrinks geometrically with the round.  B = 16× parallelism distinct
    buckets hash-spread over the shuffle (guide §2.5's synthetic-key
    collision warning).  Returns the :func:`_dense_rank_via` contract —
    ((pos, rank), total distinct) — and the returned frame is already
    checkpoint-backed (lineage truncated; callers must not
    re-checkpoint)."""
    # composite key (r0+1)*(n_prev+2) + (r1+1): monotone in the
    # (r0, r1) lexicographic order, fits a long for any n_prev up to
    # _MAX_TOKENS (suffix_ranks refuses larger corpora); the bucket is
    # the key's integral DIV, exact at any long
    n_buckets = max(16 * df.sparkSession.sparkContext.defaultParallelism, 64)
    span = (n_prev + 2) * (n_prev + 2)
    div = max(1, -(-span // n_buckets))
    c1 = (F.col(cols[1]) if len(cols) > 1 else F.lit(-1)).cast("long")
    combined = ((F.col(cols[0]).cast("long") + 1) * F.lit(n_prev + 2)
                + (c1 + 1))
    return _dense_rank_via(df, cols, _int_div(combined, div))


def _dense_rank_sym(df: DataFrame) -> tuple[DataFrame, int]:
    """Bucketed dense rank for the FIRST round, keyed on the raw symbol:
    token symbols are 32-bit md5 hashes — uniform on [0, 2^32) by
    construction (dedup.token_hashes, the repo-wide hash contract) — so
    the bucket is derived by integer division, no sampling pass.  Doc
    sentinels (−doc_id−1) land in the negative buckets: one row per
    document, each a distinct key, so they add no meaningful skew."""
    n_buckets = max(16 * df.sparkSession.sparkContext.defaultParallelism, 64)
    div = max(1, -(-(1 << 32) // n_buckets))
    sym = F.col("sym").cast("long")
    return _dense_rank_via(df, ["sym"], _int_div(sym, div))


def _dense_rank_via(df: DataFrame, cols: list[str],
                    bucket) -> tuple[DataFrame, int]:
    """Shared two-phase machinery for the derived-bucket rank forms:
    window dense rank within each bucket (one exchange — the bucket
    expression is monotone in the sort key, so bucket order is key order
    and equal keys co-locate), checkpoint, then per-bucket distinct
    counts read off each bucket's max local rank (a bounded B-long
    collect on the checkpointed table) turn local ranks global via an
    O(1) array-indexed offset.

    The checkpoint is SLIMMED to (pos, __sab, __salr): an ExistingRDD
    scan cannot column-prune, so every later read of a rank table pays
    for every checkpointed column — the key columns are dead weight
    once the local rank exists.  Returns ((pos, rank), total distinct);
    the frame is checkpoint-backed (callers must not re-checkpoint)."""
    from pyspark.sql import Window

    w = Window.partitionBy("__sab").orderBy(*[F.col(c) for c in cols])
    pre = df.select("pos", *[F.col(c) for c in cols],
                    bucket.alias("__sab"))
    local = pre.select(
        "pos", "__sab",
        (F.dense_rank().over(w) - 1).cast("long").alias("__salr"))
    # NON-eager checkpoint: the offsets collect right below is the first
    # action, so ONE job both materializes the round table's blocks and
    # reads the per-bucket maxima off it — the eager form paid a separate
    # materialization job per round (fixed job latency, guide §1.2/§2.4)
    ck = local.transform(_checkpointed, eager=False, level=_CKPT_LEVEL)
    off, total = partition_offsets(ck, "__sab", F.max("__salr") + 1)
    out = ck.select("pos", (F.col("__salr") + off).cast("long").alias("rank"))
    return out, total


#: rank-table radix: each construction round ranks the tuple of RADIX
#: previous-round ranks at offsets 0, w, 2w, … (generalized prefix
#: doubling).  Radix 4 halves the round count of binary doubling; the
#: extra neighbours ride the same lead window, so a round still costs
#: one pairing exchange and one rank (sf0.1: 30.7 → 15.4 s at radix 4).
#: The FINAL ranks (the suffix array) are radix-invariant — the suffix
#: order is the same total order — so the binary fixed-round DuckDB
#: oracle matches hash-exactly, and the LCP descent reads each level's
#: extension count off the actual table widths.
_RADIX = 4

#: corpus-size bound (tokens): the round rank key
#: (r0+1)·(n+2) + (r1+1) of :func:`_dense_rank_bucketed` stays below
#: 2^63 − 1 up to ~3.03·10⁹ tokens; past that it would overflow a long
#: (an ANSI arithmetic error mid-construction), so suffix_ranks refuses
#: up front
_MAX_TOKENS = 3_000_000_000


def suffix_ranks(positions: DataFrame,
                 n: int | None = None) -> list[tuple[int, DataFrame]]:
    """Prefix-doubling rank tables: returns [(width, ranks)] where
    ``ranks`` maps pos → dense rank of the suffix's first ``width``
    symbols; the last table's ranks are UNIQUE (it IS the suffix
    array: rank == SA index).  Each round is one lead-window pairing
    exchange plus one derived-bucket dense rank; rounds stop as soon as
    ranks are unique (further widening is a fixpoint, so a fixed-round
    mirror — the oracle — computes identical final ranks).  Raises
    ``ValueError`` for corpora over :data:`_MAX_TOKENS` tokens before
    any construction job runs."""
    # localCheckpoint per round TRUNCATES THE LINEAGE — the canonical
    # posture for iterative DataFrame algorithms here (dedup_clusters,
    # pagerank, hits): with persist alone each round's plan nests the
    # previous round's, and by round ~8 plan construction itself
    # (AQE re-planning, tree stringification) dominates or overflows.
    # Memory discipline (the 100x OOM lesson): every round table is a
    # registered checkpoint, released by the caller's cache scope once
    # the LCP descent has read it.
    # corpus length up front (positions arrives persisted from
    # maximal_repeats): it sizes the pairing blocks and bounds the rank
    # key, and replaces the old post-round-0 r.count() job.  Callers
    # that already know the length pass it to skip the job.
    if n is None:
        n = positions.count()
    if n > _MAX_TOKENS:
        raise ValueError(
            f"suffix_ranks: {n} tokens exceeds the {_MAX_TOKENS} bound "
            "of the long round rank key")
    r, n_ranks = _dense_rank_sym(positions.select("pos", "sym"))
    out = [(1, r)]
    width = 1
    from pyspark.sql import Window

    par = positions.sparkSession.sparkContext.defaultParallelism
    # lead-window pairing blocks: pos is GLOBALLY DENSE (0..n−1, every
    # value present — pack_positions builds it as an exclusive prefix
    # sum), so the rank at pos+i·width is exactly lead(rank, i·width)
    # over pos order.  Partition the corpus into ~8·cores contiguous
    # pos-blocks; rows in the first (radix−1)·width positions of a block
    # are ALSO emitted to the previous block ("ghosts") so every real
    # row sees its full lead horizon inside its own partition.  A round
    # whose horizon outgrows the base block widens its block to the
    # horizon, so a ghost is only ever read by the ONE block before its
    # own.  One exchange replaces the radix−1 offset self-joins
    # (2·(radix−1) exchanges + sorts) per round (guide §2.4).
    base_block = max(-(-n // max(8 * par, 1)), 1)
    cols = [f"r{i}" for i in range(_RADIX)]
    while n_ranks != n:
        if width > _RADIX * n:  # safety: cannot exceed corpus length
            raise RuntimeError("suffix_ranks: doubling failed to converge")
        horizon = (_RADIX - 1) * width
        block = max(base_block, horizon)
        blk = _int_div(F.col("pos"), block)
        ghost = ((F.col("pos") % F.lit(block) < F.lit(horizon))
                 & (F.col("pos") >= F.lit(block)))
        tagged = r.select(
            "pos", "rank",
            F.explode(F.when(ghost, F.array(blk, blk - 1))
                      .otherwise(F.array(blk))).alias("__sablk"))
        wlead = Window.partitionBy("__sablk").orderBy("pos")
        sel = [F.col("pos"), F.col("rank").alias("r0")]
        for i in range(1, _RADIX):
            sel.append(F.coalesce(F.lead("rank", i * width).over(wlead),
                                  F.lit(-1)).alias(f"r{i}"))
        paired = (tagged.withColumn("__own", blk)
                  .select(*sel, "__own", "__sablk")
                  .filter(F.col("__own") == F.col("__sablk"))
                  .drop("__own", "__sablk"))
        # rounds past the first have a KNOWN-UNIFORM leading key
        # (r0 = previous round's dense rank, on [0, n_ranks)): the
        # bucketed rank derives its partitioning from the key and
        # arrives checkpoint-backed — two sequential job barriers per
        # round (rank+checkpoint, bounded per-bucket max collect)
        r, n_ranks = _dense_rank_bucketed(paired, cols, n_ranks)
        width *= _RADIX
        out.append((width, r))
    return out


def adjacent_lcp(rank_tables: list[tuple[int, DataFrame]],
                 n: int) -> DataFrame:
    """(pos_a, pos_b, lcp) for every ADJACENT suffix-array pair, via the
    sparse-rank descent: for k from the widest half-table down, extend
    the match by ``width`` whenever rank_k agrees at the current
    offset — up to (next_width/width)−1 times per level (the lcp
    remainder's digit in the tables' OWN radix, read off the width
    ratios so any construction radix works), the extensions CHAINED
    into one plan so each level costs one lineage-truncating checkpoint
    job.  Exact: the final table's uniqueness bounds every LCP below
    the last width, and after level k the remainder is < next_width, so
    (next_width/width)−1 tests at width cover every digit value.

    ``n`` is the corpus length.  The adjacent-pair step is a ``lead``
    window over rank-blocks (final ranks are dense and unique on
    [0, n), so the SA-adjacent suffix is literally the next row in rank
    order) — one derived-partition exchange instead of a rank+1
    self-join's two (guide §2.4)."""
    from pyspark.sql import Window

    final = rank_tables[-1][1]
    par = final.sparkSession.sparkContext.defaultParallelism
    block = max(-(-n // max(8 * par, 1)), 1)
    blk = _int_div(F.col("rank"), block)
    ghost = ((F.col("rank") % F.lit(block) == 0)
             & (F.col("rank") >= F.lit(block)))
    tagged = final.select(
        "pos", "rank",
        F.explode(F.when(ghost, F.array(blk, blk - 1))
                  .otherwise(F.array(blk))).alias("__lab"))
    wl = Window.partitionBy("__lab").orderBy("rank")
    adj = (tagged.withColumn("__nxt", F.lead("pos", 1).over(wl))
           .withColumn("__own", blk)
           .filter((F.col("__own") == F.col("__lab"))
                   & F.col("__nxt").isNotNull())
           .select(F.col("pos").alias("pos_a"),
                   F.col("__nxt").alias("pos_b")))
    # non-eager: the first descent level's eager checkpoint computes (and
    # thereby materializes) this frame in its own job — no separate
    # materialization job; free_ckpt(prev) runs only after that job.
    d = adj.withColumn("lcp", F.lit(0).cast("long")) \
        .localCheckpoint(eager=False, storageLevel=_CKPT_LEVEL)
    widths = [w for w, _ in rank_tables]
    levels = (list(range(len(rank_tables) - 1)) if len(rank_tables) > 1
              else [0])
    # checkpoint per level: each level's extension joins chain into one
    # plan, then one lineage-truncating checkpoint.  (A fused 2-levels-
    # per-checkpoint variant was tried this round and REVERTED: with
    # 12+ extension joins in one plan the planner launches every
    # broadcast build concurrently with no exchange reuse — measured
    # ~19 broadcast jobs per descent vs ~6 — and the builds contend
    # with each other; the per-level plan keeps the broadcast count at
    # the level's own 2·n_ext with reuse opportunities.)
    for li in reversed(levels):
        width, rk = rank_tables[li]
        n_ext = (widths[li + 1] // width - 1) if li + 1 < len(widths) else 1
        prev = d
        for i in range(n_ext):
            u = f"{li}_{i}"
            ra = rk.select(F.col("pos").alias(f"__pa{u}"),
                           F.col("rank").alias(f"__ra{u}"))
            rb = rk.select(F.col("pos").alias(f"__pb{u}"),
                           F.col("rank").alias(f"__rb{u}"))
            d = (d.join(ra, F.col(f"__pa{u}") == F.col("pos_a") + F.col("lcp"), "left")
                 .join(rb, F.col(f"__pb{u}") == F.col("pos_b") + F.col("lcp"), "left")
                 .select(
                     "pos_a", "pos_b",
                     (F.col("lcp") + F.when(
                         F.coalesce(f"__ra{u}", F.lit(_MISS_A))
                         == F.coalesce(f"__rb{u}", F.lit(_MISS_B)),
                         F.lit(width)).otherwise(F.lit(0))).alias("lcp")))
        d = d.localCheckpoint(eager=True, storageLevel=_CKPT_LEVEL)
        # superseded level's blocks die immediately — the frame is
        # checkpoint-backed, so unpersist() would be a no-op; free the
        # underlying RDD blocks directly
        _cache.free_ckpt(prev)
    return d


def maximal_repeats(docs: DataFrame, id_col: str, text_col: str,
                    min_len: int = 6) -> DataFrame:
    """Left-maximal repeated spans of EXACT maximal length ≥ min_len
    from the corpus suffix array: adjacent SA pairs with LCP ≥ min_len
    (right-maximal by LCP construction), kept only when the preceding
    symbols differ (left-maximal — extending left would break the
    match; document starts and position 0 count as distinct).  Returns
    (doc_a, off_a, doc_b, off_b, rep_len) with the lower corpus
    position first — token offsets into each doc's whitespace
    tokenization."""
    from pyspark.sql import Window

    positions = pack_positions(docs, id_col, text_col) \
        .transform(_persisted)
    n = positions.count()
    # the descent output is checkpointed, so the rank tables' blocks are
    # dead weight once it exists — they die with this scope (the 100x
    # OOM lesson: ~log(L) corpus-sized tables × multiple bench passes
    # otherwise accumulate until the heap gives out).  positions and the
    # descent output outlive it: the returned plan reads both.
    with _cache.scope():
        tables = suffix_ranks(positions, n=n)
        d_final = adjacent_lcp(tables, n=n)
    _cache.hold(d_final)
    d = d_final.filter(F.col("lcp") >= F.lit(min_len))
    d = d.select(
        F.least("pos_a", "pos_b").alias("p_lo"),
        F.greatest("pos_a", "pos_b").alias("p_hi"),
        F.col("lcp").alias("rep_len"),
    )
    # ONE pos-block lag window attaches each position's PRECEDING symbol
    # (pos is dense, so lag(sym) over pos order is the left neighbour;
    # doc starts see the previous doc's sentinel, position 0 sees null —
    # both "distinct" under the MISS_A/MISS_B coalesce, exactly the
    # semantics the old per-side pos−1 joins had).  The left-maximality
    # check and the (doc, loc) locate then share ONE join per side
    # instead of two (guide §2.4).
    par = positions.sparkSession.sparkContext.defaultParallelism
    block = max(-(-n // max(8 * par, 1)), 1)
    blk = _int_div(F.col("pos"), block)
    ghost = ((F.col("pos") % F.lit(block) == F.lit(block - 1))
             & (F.col("pos") < F.lit(n - 1)))
    tagged = positions.select(
        "pos", "sym", "doc_id", "loc",
        F.explode(F.when(ghost, F.array(blk, blk + 1))
                  .otherwise(F.array(blk))).alias("__lmb"))
    wl = Window.partitionBy("__lmb").orderBy("pos")
    aug = (tagged.withColumn("__prev", F.lag("sym", 1).over(wl))
           .withColumn("__own", blk)
           .filter(F.col("__own") == F.col("__lmb"))
           .select("pos", "doc_id", "loc", "__prev"))
    la = aug.select(F.col("pos").alias("p_lo"), F.col("doc_id").alias("doc_a"),
                    F.col("loc").alias("off_a"), F.col("__prev").alias("__sa"))
    lb = aug.select(F.col("pos").alias("p_hi"), F.col("doc_id").alias("doc_b"),
                    F.col("loc").alias("off_b"), F.col("__prev").alias("__sb"))
    return (d.join(la, on="p_lo").join(lb, on="p_hi")
            .filter(F.coalesce("__sa", F.lit(_MISS_A))
                    != F.coalesce("__sb", F.lit(_MISS_B)))
            .select("doc_a", "off_a", "doc_b", "off_b", "rep_len"))


def maximal_repeats_sql(table: str, id_col: str, text_col: str,
                        min_len: int = 6, rounds: int = 16) -> str:
    """DuckDB oracle for :func:`maximal_repeats`: the same packing,
    ``rounds`` fixed prefix-doubling rounds (exact while the corpus is
    shorter than 2^rounds — extra rounds are fixpoint no-ops), the same
    sparse-rank LCP descent and left-maximality filter.  Round CTEs are
    AS MATERIALIZED: each is referenced by the next round (twice) and
    by the descent (twice), and inlining would double the plan per
    round."""
    parts = [
        f"""__sa_toks AS (
      SELECT {id_col} AS doc_id,
             list_append({token_hashes_sql(text_col)}, -({id_col})::BIGINT - 1) AS syms
      FROM {table})""",
        """__sa_docs AS (
      SELECT doc_id, syms, len(syms)::BIGINT AS n FROM __sa_toks)""",
        """__sa_offs AS (
      SELECT doc_id, syms,
             (sum(n) OVER (ORDER BY doc_id) - n)::BIGINT AS off
      FROM __sa_docs)""",
        """__sa_pos AS MATERIALIZED (
      SELECT doc_id,
             (off + generate_subscripts(syms, 1) - 1)::BIGINT AS pos,
             unnest(syms)::BIGINT AS sym,
             (generate_subscripts(syms, 1) - 1)::BIGINT AS loc
      FROM __sa_offs)""",
        """__sa_r0 AS MATERIALIZED (
      SELECT pos, (dense_rank() OVER (ORDER BY sym) - 1)::BIGINT AS rank
      FROM __sa_pos)""",
    ]
    for j in range(rounds):
        width = 1 << j
        parts.append(f"""__sa_r{j + 1} AS MATERIALIZED (
      SELECT a.pos,
             (dense_rank() OVER (ORDER BY a.rank, coalesce(b.rank, -1)) - 1)::BIGINT AS rank
      FROM __sa_r{j} a LEFT JOIN __sa_r{j} b ON b.pos = a.pos + {width})""")
    parts.append(f"""__sa_adj AS (
      SELECT a.pos AS pos_a, b.pos AS pos_b
      FROM __sa_r{rounds} a JOIN __sa_r{rounds} b ON b.rank = a.rank + 1)""")
    parts.append("""__sa_d0 AS (
      SELECT pos_a, pos_b, 0::BIGINT AS lcp FROM __sa_adj)""")
    for t, j in enumerate(range(rounds - 1, -1, -1), start=1):
        width = 1 << j
        parts.append(f"""__sa_d{t} AS MATERIALIZED (
      SELECT d.pos_a, d.pos_b,
             (d.lcp + CASE WHEN coalesce(ra.rank, {_MISS_A})
                              = coalesce(rb.rank, {_MISS_B})
                           THEN {width} ELSE 0 END)::BIGINT AS lcp
      FROM __sa_d{t - 1} d
      LEFT JOIN __sa_r{j} ra ON ra.pos = d.pos_a + d.lcp
      LEFT JOIN __sa_r{j} rb ON rb.pos = d.pos_b + d.lcp)""")
    parts.append(f"""__sa_res AS (
      SELECT least(pos_a, pos_b) AS p_lo, greatest(pos_a, pos_b) AS p_hi,
             lcp AS rep_len
      FROM __sa_d{rounds} WHERE lcp >= {min_len})""")
    parts.append(f"""__sa_lmax AS (
      SELECT r.p_lo, r.p_hi, r.rep_len
      FROM __sa_res r
      LEFT JOIN __sa_pos pa ON pa.pos = r.p_lo - 1
      LEFT JOIN __sa_pos pb ON pb.pos = r.p_hi - 1
      WHERE coalesce(pa.sym, {_MISS_A}) <> coalesce(pb.sym, {_MISS_B}))""")
    return ("WITH " + ",\n    ".join(parts) + """
    SELECT la.doc_id AS doc_a, la.loc AS off_a,
           lb.doc_id AS doc_b, lb.loc AS off_b, m.rep_len
    FROM __sa_lmax m
    JOIN __sa_pos la ON la.pos = m.p_lo
    JOIN __sa_pos lb ON lb.pos = m.p_hi""")
