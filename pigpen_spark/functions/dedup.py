"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Core training-data-pipeline components (BASELINE.json north star).  Design
for 100 TB:

- **exact**: hash-groupBy on md5(content) — one shuffle keyed by digest,
  perfectly parallel; never a driver-side set.
- **MinHash+LSH**: signature computation is per-row (embarrassingly
  parallel, pure Catalyst HOFs, no UDF); candidate generation is an
  equi-join on (band_id, band_hash) — Spark's bread-and-butter shuffle
  join; verification runs only on candidates.  Data volume after banding
  is O(near-dups), not O(n²).
- **SimHash**: per-row fingerprint; candidates via chunk-equality
  equi-join (pigeonhole: hamming ≤ d ⇒ some chunk of d+1 equal chunks
  matches), then hamming verification on the candidate set.
- **n-gram Jaccard**: exact verify step — explode shingles, equi-join on
  shingle, per-pair overlap counts.  Quadratic only within identical
  shingles, so use after blocking/LSH at scale.

All hashing is md5 (engine-portable) so each operator carries an exact
DuckDB oracle.

Persist lifetime: the candidate-pair operators persist their hash columns
(required — Catalyst would re-inline the expression trees into every
lambda/join branch otherwise).  Caches are session-lived; loops over many
corpora should call :func:`pigpen_spark.tuning.clear_engine_caches`
between iterations.
"""

from __future__ import annotations

from collections.abc import Sequence

from pigpen_spark import cache as _cache
from pigpen_spark.cache import checkpointed as _checkpointed
from pigpen_spark.cache import persisted as _persisted
from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from pigpen_spark.functions.text import shingles, tokens
from pigpen_spark.relation import spread


# -- exact ------------------------------------------------------------------


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep one representative (min id) per exact content digest.

    Returns (digest, keep_id, n_copies) — join back on keep_id for rows.
    """
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("digest"))
        .agg(
            F.min(F.col(id_col)).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def exact_keep(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Surviving ROWS after exact dedup: the min-``id_col`` row per
    md5(content) digest, with all original columns.

    Unlike :func:`exact_dedup` (digest summary table, groupBy) this keeps
    whole rows in ONE shuffle: rank-1-per-digest compiles to Spark's
    WindowGroupLimit, which drops all but the best row per digest
    map-side BEFORE the exchange — the full text column never shuffles
    twice the way a groupBy + join-back formulation would."""
    from pyspark.sql import Window

    w = Window.partitionBy(F.md5(F.col(content_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__pp_rn", F.row_number().over(w))
        .filter(F.col("__pp_rn") == 1)
        .drop("__pp_rn")
    )


# -- MinHash + LSH ----------------------------------------------------------

#: Prime just above 2^32 — the universal-hash modulus.  Every hash value
#: stays < _P (< 2^33) and every multiplier stays < 2^30, so products are
#: < 2^62: safe in signed 64-bit on BOTH engines (Spark 4 ANSI mode throws
#: on bigint overflow, so this bound is load-bearing, not cosmetic).
_P = 4294967311


def _hconst(tag: str, i: int) -> int:
    """Deterministic pseudorandom multiplier/offset < 2^30 (never 0),
    derived from md5 so Spark exprs and generated oracle SQL bake in the
    same literals."""
    import hashlib

    return int(hashlib.md5(f"{tag}-{i}".encode()).hexdigest()[:8], 16) % (1 << 30) or 1


def token_hashes(col) -> Column:
    """Each whitespace token hashed ONCE to a 32-bit int (first 8 hex
    digits of md5).  The only md5-per-token work in the MinHash pipeline —
    everything downstream is modular arithmetic.  The tokens expression
    sits in the transform's COLLECTION slot (evaluated once per row), not
    in a lambda body (evaluated once per element)."""
    return F.transform(
        tokens(col), lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("bigint")
    )


def shingle_hashes(th: Column, n: int = 3) -> Column:
    """Word-n-gram shingle hashes from an ALREADY-MATERIALIZED token-hash
    array column: shingle i ≡ (Σ_j C_j·th[i+j]) mod P — order-sensitive
    positional combine, no string building.  Docs with fewer than n tokens
    yield one whole-doc hash (md5 of the joined token-hash list), matching
    :func:`pigpen_spark.functions.text.shingles` semantics.

    ``th`` is let-bound (text._let), so it may be an arbitrary expression:
    it evaluates once per row even though the comb lambda references it
    per shingle position (the classic HOF blowup — see module
    docstring)."""
    from pigpen_spark.functions.text import _let

    cs = [_hconst("shingle", j) for j in range(n)]

    def body(t: Column) -> Column:
        def comb(i: Column) -> Column:
            acc = None
            for j, c in enumerate(cs):
                term = F.lit(c) * F.element_at(t, i + j) % F.lit(_P)
                acc = term if acc is None else acc + term
            return acc % F.lit(_P)

        whole = F.conv(
            F.substring(F.md5(F.array_join(F.transform(t, lambda h: h.cast("string")), "|")), 1, 8),
            16, 10,
        ).cast("bigint")
        sz = F.size(t)
        return F.when(
            sz >= n, F.transform(F.sequence(F.lit(1), sz - n + 1), comb)
        ).otherwise(F.array(whole))

    return _let(th, body)


def minhash_from_hashes(hs: Column, k: int = 12) -> Column:
    """k-slot MinHash signature from a shingle-hash array: slot s is
    min over shingles of the universal hash (A_s·h + B_s) mod P.  Pure
    arithmetic — ~k·|shingles| multiply-adds per row, no md5.

    ``hs`` is let-bound: the k per-slot transforms each reference it, so
    an unbound expression would evaluate k× per row (and its own token
    md5 subtree with it)."""
    from pigpen_spark.functions.text import _let

    def perm(s: int):
        a, b = _hconst("perm-a", s), _hconst("perm-b", s)
        # one-param lambda, constants bound at build time — a two-param
        # `lambda h, s=s` would make transform pass (element, index) and
        # silently shadow s with the index column
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_P)

    return _let(hs, lambda h: F.array(
        *[F.array_min(F.transform(h, perm(s))) for s in range(k)]
    ))


def minhash_signature(col, k: int = 12, shingle_n: int = 3) -> Column:
    """k-permutation MinHash over word shingles, as ONE expression.

    Every stage let-binds its input, so tokenize+md5 → shingle combine →
    k permutations each evaluate exactly once per row — no persist
    barrier needed anywhere in the signature pipeline."""
    return minhash_from_hashes(shingle_hashes(token_hashes(col), shingle_n), k)


def token_hashes_sql(col: str) -> str:
    """DuckDB equivalent of :func:`token_hashes`."""
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    return f"[('0x' || substring(md5(t), 1, 8))::BIGINT for t in ({toks})]"


def shingle_hashes_sql(th: str, n: int = 3) -> str:
    """DuckDB equivalent of :func:`shingle_hashes` (``th`` a column name)."""
    cs = [_hconst("shingle", j) for j in range(n)]
    comb = " + ".join(f"{c} * {th}[i + {j}] % {_P}" for j, c in enumerate(cs))
    whole = (f"('0x' || substring(md5(array_to_string("
             f"[h::VARCHAR for h in {th}], '|')), 1, 8))::BIGINT")
    return f"""
      CASE WHEN len({th}) >= {n}
           THEN [({comb}) % {_P} for i in range(1, len({th}) - {n} + 2)]
           ELSE [{whole}] END
    """


def minhash_from_hashes_sql(hs: str, k: int = 12) -> str:
    """DuckDB equivalent of :func:`minhash_from_hashes` (``hs`` a column
    name)."""
    slots = ", ".join(
        f"list_min([({_hconst('perm-a', s)} * h + {_hconst('perm-b', s)}) % {_P} for h in {hs}])"
        for s in range(k)
    )
    return f"[{slots}]"


def minhash_sigs_cte_sql(table: str, id_col: str, content_col: str,
                         k: int = 12, shingle_n: int = 3) -> str:
    """DuckDB CTE chain computing (id, sig) per row of ``table`` — the
    oracle mirror of the first half of :func:`minhash_candidates`."""
    return f"""
      __th AS (SELECT {id_col} AS id, {token_hashes_sql(content_col)} AS th FROM {table}),
      __hs AS (SELECT id, ({shingle_hashes_sql('th', shingle_n)}) AS hs FROM __th),
      sigs AS (SELECT id, {minhash_from_hashes_sql('hs', k)} AS sig FROM __hs)
    """


def lsh_bands(sig_col: Column, bands: int, rows_per_band: int) -> Column:
    """Band the signature: band b's key is md5 of its ``rows_per_band``
    signature slots.  array of (band_id, band_hash) structs."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.slice(sig_col, b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                    "|",
                )
            ).alias("bhash"),
        ),
    )


def minhash_candidates(
    df: DataFrame, id_col: str, content_col: str,
    k: int = 12, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """LSH candidate pairs (id_a < id_b) with estimated Jaccard =
    fraction of matching signature slots.

    Plan shape: per-row signature (narrow) → explode bands (k/r rows per
    doc) → self-equi-join on (band, bhash) → distinct pairs → estimate on
    the two signatures.  The join key (band, bhash) is high-cardinality ⇒
    well-distributed shuffle; no cross product anywhere.

    Cost model: ONE md5 per token (token_hashes) + O(k·shingles)
    multiply-adds.  The naive form — md5(seed || shingle) per seed per
    shingle, shingle strings built by slicing the token expression inside
    a lambda (O(len²)) — measured 3-4× slower at sf0.1.

    Persist lifetime: __th and sigs (sigs is read by both sides of the
    self-join and the final estimate).  The let-bound one-expression form
    (:func:`minhash_signature`) is semantically identical but measured
    ~35% slower here — the _let wrappers keep correctness without a
    cache, the persisted two-step keeps the tokenize+md5 stage in its own
    fully-codegen'd pass; both are retained deliberately.  Persisted
    state is O(n_docs · tokens) ints — small next to the corpus,
    spill-to-disk safe at cluster scale."""
    if k % bands != 0:
        raise ValueError(
            f"minhash_candidates: k ({k}) must be a multiple of bands ({bands}) "
            "— a remainder would silently drop trailing signature slots and "
            "weaken LSH recall"
        )
    r = k // bands
    # spread first: signature compute is CPU-bound, and a small doc corpus
    # can sit in one scan partition (no-op on well-partitioned input).
    th_df = (
        spread(df)
        .select(F.col(id_col).alias("id"), token_hashes(F.col(content_col)).alias("__th"))
        .transform(_persisted)
    )
    sigs = th_df.select(
        "id", minhash_from_hashes(shingle_hashes(F.col("__th"), shingle_n), k).alias("sig")
    ).transform(_persisted)
    banded = sigs.select("id", "sig", F.explode(lsh_bands(F.col("sig"), bands, r)).alias("bh"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bh.band") == F.col("b.bh.band"))
            & (F.col("a.bh.bhash") == F.col("b.bh.bhash"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        .cast("double") / F.lit(float(k))
    )
    return pairs.select("id_a", "id_b", est.alias("est_jaccard"))


def minhash_index(df: DataFrame, id_col: str, content_col: str,
                  k: int = 12, shingle_n: int = 3) -> DataFrame:
    """(id, sig) MinHash signature INDEX of a corpus — the write-once
    artifact incremental dedup joins future batches against (store with
    ``Relation.store_parquet``; ``k``/``shingle_n`` must match at query
    time).  One linear pass over the text, k ints per document out; no
    persist (single consumer — typically a parquet write)."""
    return spread(df).select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col(content_col), k, shingle_n).alias("sig"),
    )


def minhash_candidates_against(
    new_df: DataFrame, index: DataFrame, id_col: str, content_col: str,
    k: int = 12, bands: int = 4, shingle_n: int = 3,
) -> DataFrame:
    """Near-dup candidates between a NEW batch and an existing signature
    index — the incremental form of :func:`minhash_candidates`: dedup a
    fresh crawl against a 100 TB corpus WITHOUT re-reading the corpus
    text (only its k-int signatures, ~50 bytes/doc).

    Plan shape: batch signatures computed in one pass; both sides explode
    to (band, bhash) keys; cross-corpus equi-join (no self-join, no
    ``id <`` ordering — the sides are distinct corpora; ids common to
    both sides will pair with themselves, callers filter if unwanted).
    The index side is pure stored-column arithmetic, and an eval-sized
    batch broadcasts under AQE.

    ``index`` must be (id, sig) as produced by :func:`minhash_index` with
    the same k/shingle_n.  Returns (new_id, corpus_id, est_jaccard).
    """
    if k % bands != 0:
        raise ValueError(
            f"minhash_candidates_against: k ({k}) must be a multiple of "
            f"bands ({bands})"
        )
    r = k // bands
    new_sigs = minhash_index(new_df, id_col, content_col, k, shingle_n).transform(_persisted)
    nb = new_sigs.select("id", "sig", F.explode(lsh_bands(F.col("sig"), bands, r)).alias("bh"))
    ib = index.select("id", "sig", F.explode(lsh_bands(F.col("sig"), bands, r)).alias("bh"))
    pairs = (
        nb.alias("a").join(
            ib.alias("b"),
            (F.col("a.bh.band") == F.col("b.bh.band"))
            & (F.col("a.bh.bhash") == F.col("b.bh.bhash")),
        )
        .select(
            F.col("a.id").alias("new_id"), F.col("b.id").alias("corpus_id"),
            F.col("a.sig").alias("sig_a"), F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda m: m))
        .cast("double") / F.lit(float(k))
    )
    return pairs.select("new_id", "corpus_id", est.alias("est_jaccard"))


# -- n-gram Jaccard (exact verify) ------------------------------------------


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, content_col: str,
    shingle_n: int = 3, threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for every pair sharing ≥1 shingle.

    |A∩B| via explode+equi-join on shingle, |A∪B| = |A|+|B|−|A∪B|'s
    complement = |A|+|B|−|A∩B|.  Shuffle is keyed by shingle — at corpus
    scale either run on LSH candidates only (the intended composition) or
    pass ``max_df``: shingles appearing in more than ``max_df`` documents
    (stop-shingles — boilerplate, headers) are dropped from the JOIN side
    before the pair explosion, capping per-key fan-out at max_df² while
    |A| / |B| still count every shingle, so Jaccard stays a true LOWER
    bound (a stop-shingle-only near-dup pair can fall below ``threshold``
    — that's the documented recall trade for killing the hottest keys).
    The doc-frequency pass is one map-side-combining count over the same
    exploded frame."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(shingles(F.col(content_col), shingle_n))).alias("sh"),
    )
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n"))
    if max_df is not None:
        if max_df < 1:
            raise ValueError(f"ngram_jaccard_pairs: max_df must be >= 1, got {max_df}")
        keep = (
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df).select("sh")
        )
        sh = sh.join(keep, on="sh")
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
    jac = F.col("common").cast("double") / (F.col("na") + F.col("nb") - F.col("common")).cast("double")
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# -- SimHash ----------------------------------------------------------------

_HEX = "0123456789abcdef"


def simhash_from_tokens(toks: Column, bits: int = 32) -> Column:
    """SimHash from an already-materialized token array column (see
    :func:`shingle_hashes` for why materialization matters: the
    token expression would otherwise re-evaluate in each bit lambda).

    Bits beyond 32 draw from extended digests ``md5(token || '#1')``,
    ``md5(token || '#2')``, … every 32 bits, since one md5 has only 32
    hex digits."""
    n = F.size(toks)

    def hexdigit(t: Column, i: Column) -> Column:
        # digest index = (i-1) // 32, position within digest = (i-1) % 32 + 1
        digest = F.md5(
            F.concat(t, F.when((i - 1) / 32 < 1, F.lit("")).otherwise(
                F.concat(F.lit("#"), F.floor((i - 1) / 32).cast("string"))
            ))
        )
        pos = ((i - 1) % 32) + 1
        return F.conv(F.substring(digest, pos, 1), 16, 10).cast("bigint")

    def bit(i: Column) -> Column:
        s = F.aggregate(
            toks,
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + hexdigit(t, i),
        )
        return F.when(s * 2 >= n.cast("bigint") * 15, F.lit("1")).otherwise(F.lit("0"))

    return F.array_join(F.transform(F.sequence(F.lit(1), F.lit(bits)), bit), "")


def simhash(col, bits: int = 32) -> Column:
    """32-bit SimHash as a '0'/'1' string.

    Bit i is the sign of Σ_tokens (hexdigit_i(md5(token)) − 7.5): documents
    sharing most tokens land within small hamming distance.  Uses md5's 32
    hex digits as 32 independent 4-bit hash values — portable everywhere."""
    return simhash_from_tokens(tokens(col), bits)


def simhash_sql(col: str, bits: int = 32) -> str:
    """DuckDB equivalent of :func:`simhash` — including the >32-bit
    extended-digest scheme and the empty-token-list case (Spark's
    aggregate over an empty array returns the 0 accumulator → all-'1'
    fingerprint; DuckDB list_sum([]) is NULL, hence the coalesce)."""
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    digest = ("md5(t || CASE WHEN (i - 1) // 32 = 0 THEN '' "
              "ELSE '#' || ((i - 1) // 32)::varchar END)")
    pos = "((i - 1) % 32) + 1"
    return f"""
      array_to_string([
        CASE WHEN coalesce(list_sum([strpos('{_HEX}', substr({digest}, {pos}, 1)) - 1
                                     for t in ({toks})]), 0) * 2
                  >= len({toks}) * 15
             THEN '1' ELSE '0' END
        for i in range(1, {bits + 1})], '')
    """


def hamming(a: Column, b: Column, bits: int = 32) -> Column:
    """Hamming distance between two equal-length bit strings."""
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(bits)),
        F.lit(0),
        lambda acc, i: acc + F.when(F.substring(a, i, 1) == F.substring(b, i, 1), 0).otherwise(1),
    )


def simhash_candidates(
    df: DataFrame, id_col: str, content_col: str,
    bits: int = 64, chunks: int = 4, max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on any equal ``bits/chunks``-bit
    chunk (pigeonhole guarantees recall for hamming ≤ chunks−1), verify
    hamming ≤ ``max_hamming`` on candidates only.

    Default 64 bits: 32-bit fingerprints collide heavily on
    shared-vocabulary corpora (observed 187k candidate pairs on 5k
    synthetic docs at 32-bit)."""
    w = bits // chunks
    tok_df = (
        spread(df)
        .select(F.col(id_col).alias("id"), tokens(F.col(content_col)).alias("__t"))
        .transform(_persisted)
    )
    sh = tok_df.select("id", simhash_from_tokens(F.col("__t"), bits).alias("sh")).transform(_persisted)
    chunked = sh.select(
        "id", "sh",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(chunks - 1)),
                lambda c: F.struct(c.alias("c"), F.substring("sh", c * w + 1, w).alias("piece")),
            )
        ).alias("ch"),
    )
    a, b = chunked.alias("a"), chunked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ch.c") == F.col("b.ch.c"))
            & (F.col("a.ch.piece") == F.col("b.ch.piece"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.sh").alias("sh_a"), F.col("b.sh").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.withColumn("dist", hamming(F.col("sh_a"), F.col("sh_b"), bits))
        .filter(F.col("dist") <= max_hamming)
        .select("id_a", "id_b", "dist")
    )


# -- duplicate clusters (connected components) -------------------------------


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   max_iter: int = 20, local_threshold: int = 1_000_000) -> DataFrame:
    """Duplicate-CLUSTER labeling over candidate pairs: treats the pairs
    as an undirected graph and gives every member the MIN id of its
    connected component — the canonical-representative step real dedup
    pipelines run after LSH/SimHash candidate generation (keep one doc per
    cluster, drop the rest).

    Algorithm: iterative min-label propagation (the DataFrame form of
    small-star WCC).  Labels start as each node's own id; every round each
    node takes the min of its label and its neighbors' labels — ONE
    shuffle per round (union + groupBy node).  Convergence needs
    O(component diameter) rounds, and near-dup clusters are
    small-diameter by construction (every member collided with a shared
    band hash), so the default bound is generous; a graph that has not
    converged by ``max_iter`` raises rather than returning wrong labels.
    Each round ``localCheckpoint``s its label table, so the LINEAGE stays
    O(1) across rounds — persist alone leaves the analyzed plan doubling
    every round (the union references the previous round twice), which
    goes exponential past ~10 rounds.

    Convergence test: labels are monotone non-increasing per node, so the
    label SUM strictly decreases iff any label changed — one scalar
    aggregate per round (it doubles as the action that materializes the
    round's persist), replacing a join + isEmpty pass.  The sum runs in
    decimal(38,0): 10^10 nodes × 10^10 ids overflows int64, which ANSI
    mode turns into a mid-job error.

    Adaptive small-graph path: the pair set is O(near-dups) — orders of
    magnitude smaller than the corpus — and when one count shows it fits
    (``local_threshold`` edges, default 10^6 ≈ tens of MB), union-find on
    the driver replaces the 2-jobs-per-round distributed loop: measured
    6 s → <0.5 s on a 267-edge graph, identical labels.  Above the
    threshold (10^8+ pairs at 100 TB dup rates) the distributed loop
    runs; pass ``local_threshold=0`` to force it.

    Returns (id, cluster) for every id appearing in ≥1 pair; cluster is
    the component's min id (rows with id == cluster are the keepers).

    Non-SQL-expressible in one query? No — the DuckDB oracle mirrors this
    exactly with a recursive CTE (transitive reachability → min reachable
    id), so the catalog query is fully hash-checked.
    """
    slim = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst")).transform(_persisted)
    if local_threshold > 0:
        # limit(n+1).count() bounds the probe itself: it never scans past
        # threshold+1 rows even when the pair set is huge
        small = slim.limit(local_threshold + 1).count() <= local_threshold
        if small:
            try:
                return _union_find_local(slim, pairs.schema[id_a].dataType)
            finally:
                slim.unpersist()
    edges = (
        slim
        .union(slim.select(F.col("dst"), F.col("src")))
        .distinct()
        .transform(_persisted)
    )
    # localCheckpoint per round TRUNCATES THE LINEAGE — with persist alone
    # the analyzed plan doubles every round (union references the previous
    # round twice) and plan processing goes exponential past ~10 rounds.
    # Lineage truncation is the canonical posture for iterative DataFrame
    # algorithms; on a real cluster prefer reliable checkpoint(dir) if
    # executor loss during the loop must be survivable.
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("label", F.col("id"))
        .transform(_checkpointed)
    )
    prev_sum = object()  # sentinel ≠ any sum (incl. the empty-graph None)
    try:
        for _ in range(max_iter):
            msgs = (
                edges.join(labels.withColumnRenamed("id", "src"), on="src")
                .select(F.col("dst").alias("id"), F.col("label"))
            )
            new_labels = (
                labels.select("id", "label").union(msgs)
                .groupBy("id").agg(F.min("label").alias("label"))
                .transform(_checkpointed)
            )
            _cache.free_ckpt(labels)
            cur_sum = new_labels.agg(
                F.sum(F.col("label").cast("decimal(38,0)"))
            ).first()[0]
            done = cur_sum == prev_sum
            prev_sum = cur_sum
            labels = new_labels
            if done:
                return labels.select("id", F.col("label").alias("cluster"))
        raise RuntimeError(
            f"dedup_clusters: not converged after {max_iter} rounds — "
            "component diameter exceeds the bound; raise max_iter"
        )
    finally:
        slim.unpersist()
        edges.unpersist()


def _union_find_local(edges: DataFrame, id_type) -> DataFrame:
    """Driver-side union-find over a bounded edge list (the
    :func:`dedup_clusters` small-graph path).  Path-compressed,
    union-by-min so every component labels to its MIN id — byte-identical
    to the distributed min-label loop."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    rows = edges.collect()
    for r in rows:
        a, b = r["src"], r["dst"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by MIN: the smaller id becomes the root
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    out = [(x, find(x)) for x in parent]
    spark = edges.sparkSession
    schema = StructType([
        StructField("id", id_type, True), StructField("cluster", id_type, True),
    ])
    return spark.createDataFrame(out, schema)


def dedup_clusters_star(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                        max_iter: int = 25, stats: dict | None = None) -> DataFrame:
    """Connected components via alternating large-star / small-star
    rounds (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — the O(log n)-round sibling of :func:`dedup_clusters`'s
    min-label propagation, which needs O(component diameter) rounds.

    LSH near-dup clusters are small-diameter, so min-label is the right
    default THERE; this variant is for high-diameter duplicate graphs —
    chained paraphrase edits, crawl-snapshot chains, span-overlap graphs —
    where a 10⁴-long path costs min-label 10⁴ shuffles but star ~log₂
    rounds (each round halves attachment depth by pointer doubling).

    Per round, both stars are pure relational ops with NO neighbor-list
    collection (high-degree nodes never materialize a bag — the min over
    neighbors partial-aggregates map-side, and the emit is a join back on
    the grouping key, which AQE skew-splits for celebrity nodes):

    - **large-star**: every node's strictly-larger neighbors re-attach to
      its minimum neighbor (or itself) — ``m(u) = min(u, min N(u))``;
      emit (v, m(u)) for v ∈ N(u), v > u.
    - **small-star**: in the resulting parent-pointing graph, every
      node's parents collapse onto the minimum — emit (u, m(u)) and
      (v, m(u)) for the non-min parents v.

    Fixpoint = the directed edge set is STABLE (exact set equality via
    exceptAll + count probes, not a checksum); at fixpoint the graph is a
    disjoint union of stars rooted at each component's min id, so labels
    are byte-identical to :func:`dedup_clusters` (property-tested).
    ``localCheckpoint`` per round truncates lineage exactly as the
    min-label loop does.

    Returns (id, cluster) with the same contract as :func:`dedup_clusters`;
    pass ``stats={}`` to receive {'rounds': n} — the empirical O(log n)
    evidence (see the round-count pytest).
    """
    slim = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    # drop self-loops; bidirectional edges for the first large-star
    edges = (
        slim.where(F.col("src") != F.col("dst"))
        .union(slim.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                   .where(F.col("src") != F.col("dst")))
        .distinct()
        .transform(_checkpointed)
    )
    isolated = slim.where(F.col("src") == F.col("dst")).select("src").distinct()

    def _mins(d: DataFrame) -> DataFrame:
        # m(u) = min(u, min over N(u)) — partial-aggregating, no bags
        return d.groupBy("src").agg(
            F.least(F.min("dst"), F.col("src")).alias("m")
        )

    def large_star(d: DataFrame) -> DataFrame:
        # large-star consumes the UNDIRECTED neighborhood: symmetrize the
        # (by then parent-pointing) edge set first — without the reverse
        # edges a parent chain is a false fixpoint (no pointer doubling).
        d = d.union(d.select(F.col("dst").alias("src"), F.col("src").alias("dst"))).distinct()
        m = _mins(d)
        out = (
            d.join(m, on="src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        # keep u→m(u) so roots stay reachable even when u has no larger nbr
        return out.union(m.select(F.col("src"), F.col("m").alias("dst"))) \
                  .where(F.col("src") != F.col("dst")).distinct()

    def small_star(d: DataFrame) -> DataFrame:
        m = _mins(d)
        reattach = (
            d.join(m, on="src")
            .where(F.col("dst") != F.col("m"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        )
        out = reattach.union(m.select(F.col("src"), F.col("m").alias("dst")))
        return out.where(F.col("src") != F.col("dst")).distinct()

    prev = edges
    cnt_prev = edges.count()
    for rounds in range(1, max_iter + 1):
        nxt = small_star(large_star(prev)).transform(_checkpointed)
        # exact set-equality fixpoint: counts equal AND no row differs.
        # prev's count is last round's nxt count — carry it instead of
        # re-running the job (one count + one exceptAll probe per round).
        cnt_nxt = nxt.count()
        done = (cnt_nxt == cnt_prev
                and nxt.exceptAll(prev).limit(1).count() == 0)
        _cache.free_ckpt(prev)  # superseded round: its blocks die now
        prev, cnt_prev = nxt, cnt_nxt
        if done:
            if stats is not None:
                stats["rounds"] = rounds
            break
    else:
        raise RuntimeError(
            f"dedup_clusters_star: not converged after {max_iter} rounds"
        )
    # stars point child → root(min); roots + isolated nodes label themselves
    members = prev.select(F.col("src").alias("id"), F.col("dst").alias("cluster"))
    ids_seen = members.select("id")
    roots = (
        prev.select(F.col("dst").alias("id"))
        .union(isolated.select(F.col("src").alias("id")))
        .distinct()
        .join(ids_seen, on="id", how="left_anti")
        .select("id", F.col("id").alias("cluster"))
    )
    return members.union(roots)


def dedup_keep(df: DataFrame, pairs: DataFrame, id_col: str,
               cluster_col: str = "cluster", keep_col: str = "kept",
               keep_by: "Sequence | None" = None) -> DataFrame:
    """End-to-end dedup decision: label every row of ``df`` with its
    duplicate-cluster id and whether it is the KEPT canonical copy.

    Composes :func:`dedup_clusters` (min-label WCC over candidate
    ``pairs``) with one broadcast-friendly left join back to the corpus:
    the cluster table is O(docs that appear in ≥1 pair) — tiny next to
    the corpus, since near-dup rates are single-digit percent at 100 TB —
    so Catalyst broadcasts it and the corpus is never shuffled.  Rows in
    no pair keep their own id as cluster.

    Keep rule: default ``id == cluster`` (the component's min id, the
    :func:`exact_dedup` convention).  ``keep_by`` keeps the cluster's
    best row instead — first under (``keep_by``…, id): pass e.g.
    ``[token_count("text").desc()]`` for the keep-the-longest policy
    curation stacks use.  The ranking runs ONLY over rows that appear in
    a pair (same tiny set as the cluster table) and the winners broadcast
    back — one bounded extra shuffle, corpus still unshuffled.

    Returns ``df``'s rows + (cluster, kept); filter ``kept`` for the
    surviving corpus, negate for the removal list.
    """
    clusters = dedup_clusters(pairs).select(
        F.col("id").alias(id_col), F.col("cluster").alias("__pp_cl")
    )
    joined = df.join(F.broadcast(clusters), on=id_col, how="left")
    cluster = F.coalesce(F.col("__pp_cl"), F.col(id_col))
    if not keep_by:
        return (
            joined.withColumn(cluster_col, cluster)
            .withColumn(keep_col, F.col(cluster_col) == F.col(id_col))
            .drop("__pp_cl")
        )
    labeled = joined.withColumn(cluster_col, cluster)
    slim = labeled.filter(F.col("__pp_cl").isNotNull())
    w = Window.partitionBy(cluster_col).orderBy(*list(keep_by), F.col(id_col))
    winners = (
        slim.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col(cluster_col), F.col(id_col).alias("__pp_win"))
    )
    return (
        labeled.join(F.broadcast(winners), on=cluster_col, how="left")
        .withColumn(
            keep_col, F.col(id_col) == F.coalesce(F.col("__pp_win"), F.col(id_col))
        )
        .drop("__pp_cl", "__pp_win")
    )


# -- benchmark decontamination ---------------------------------------------


def decontaminate(train: DataFrame, test: DataFrame, id_col: str,
                  content_col: str, n: int = 5, threshold: int = 1) -> DataFrame:
    """Benchmark decontamination: flag train docs sharing ≥ ``threshold``
    distinct word ``n``-grams with ANY test/eval doc (the standard
    n-gram-collision rule used to scrub eval sets out of pretraining
    corpora).

    Plan shape at 100 TB: both sides explode to DISTINCT n-grams
    (per-row HOFs, linear); the join is an equi-join keyed on the gram
    string — high-cardinality, well-distributed shuffle; the per-doc
    overlap count partial-aggregates map-side.  The test side is
    deduplicated to one row per gram first, so join fan-out is bounded by
    real collisions, and an eval-sized test set (≪ train) broadcasts
    under AQE.  Docs shorter than ``n`` tokens have no n-grams and are
    never flagged.

    Returns (id, n_shared, contaminated) for every train row.
    """
    from pigpen_spark.functions.text import _ngrams

    test_grams = (
        test.select(F.explode(F.array_distinct(_ngrams(F.col(content_col), n))).alias("gram"))
        .distinct()
    )
    train_grams = train.select(
        F.col(id_col),
        F.explode(F.array_distinct(_ngrams(F.col(content_col), n))).alias("gram"),
    )
    hits = (
        train_grams.join(test_grams, on="gram")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.join(hits, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) >= threshold).alias("contaminated"),
        )
    )


_ALL_PAIRS_CAP = 100_000


def exact_jaccard_pairs(df: DataFrame, id_col: str, content_col: str,
                        threshold_permille: int, shingle_n: int = 3,
                        allow_all_pairs: bool = False) -> DataFrame:
    """ALL-PAIRS exact shingle Jaccard at/above a permille threshold —
    the ground truth for evaluating candidate blocking, O(n²) BY DESIGN:
    run it on a labeled SAMPLE (eval sets are thousands of docs, not the
    corpus), never at corpus scale — that is precisely what the LSH
    operators it grades exist to avoid.  REFUSES above
    :data:`_ALL_PAIRS_CAP` rows unless ``allow_all_pairs=True`` (the
    ``_FULL_FIT_CAP`` guard pattern — one count(*) probe, never a
    silent n² job on a full corpus).

    Integer cross-multiplication (``inter·1000 ≥ thr·union``) instead of
    a float Jaccard keeps the comparison bit-free of division.

    Returns (id_a, id_b) with id_a < id_b."""
    if not allow_all_pairs:
        n = df.count()
        if n > _ALL_PAIRS_CAP:
            raise ValueError(
                f"exact_jaccard_pairs: all-pairs ground truth over {n} rows "
                f"(> {_ALL_PAIRS_CAP}) is an n-squared job — sample the eval "
                "set first (this operator grades blocking on labeled "
                "samples), or pass allow_all_pairs=True to force it"
            )
    hs = F.array_distinct(shingle_hashes(token_hashes(F.col(content_col)), shingle_n))
    docs = df.select(F.col(id_col).alias("id"), hs.alias("hs")).transform(_persisted)
    a = docs.select(F.col("id").alias("id_a"), F.col("hs").alias("__ha"))
    b = docs.select(F.col("id").alias("id_b"), F.col("hs").alias("__hb"))
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    uni = F.size(F.col("__ha")) + F.size(F.col("__hb")) - inter
    return (
        a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        .where(inter * 1000 >= F.lit(int(threshold_permille)) * uni)
        .select("id_a", "id_b")
    )


def minhash_eval(df: DataFrame, id_col: str, content_col: str,
                 threshold_permille: int = 500, k: int = 12, bands: int = 4,
                 shingle_n: int = 3) -> DataFrame:
    """Blocking-quality report: precision/recall of MinHash-LSH candidate
    pairs against exact Jaccard ground truth on the SAME (sample) corpus
    — the measure-don't-guess harness for choosing (k, bands) before a
    100 TB run.  One row: (n_true, n_candidates, n_hits, precision_ppm,
    recall_ppm) — integer ppm, division-free via bigint ``div``.

    Recall here is recall of the BLOCKING step (does a true pair share a
    band bucket), the quantity the S-curve 1-(1-s^r)^b predicts; a
    downstream est-Jaccard filter can only lower precision's numerator
    and is graded separately (``minhash_candidates`` carries
    est_jaccard)."""
    truth = exact_jaccard_pairs(df, id_col, content_col,
                                threshold_permille, shingle_n)
    cand = minhash_candidates(df, id_col, content_col, k, bands, shingle_n)
    return blocking_eval(truth, cand)


def blocking_eval(truth: DataFrame, candidates: DataFrame,
                  id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Grade ANY candidate-pair generator (MinHash bands, SimHash chunks,
    hyperplane buckets — anything emitting (id_a, id_b)) against a
    ground-truth pair set: (n_true, n_candidates, n_hits, precision_ppm,
    recall_ppm) as one integer row.  Both inputs are distinct'd and
    persisted here (each feeds two consumers: its count and the hit
    join); the crossJoins combine three 1-row aggregates — scalar
    assembly, not data joins."""
    truth = truth.select(id_a, id_b).distinct().transform(_persisted)
    cand = candidates.select(id_a, id_b).distinct().transform(_persisted)
    hits = truth.join(cand, on=[id_a, id_b])
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_candidates")))
        .crossJoin(hits.agg(F.count(F.lit(1)).alias("n_hits")))
    )
    return counts.select(
        "n_true", "n_candidates", "n_hits",
        F.when(F.col("n_candidates") > 0,
               F.expr("n_hits * 1000000 DIV n_candidates")).alias("precision_ppm"),
        F.when(F.col("n_true") > 0,
               F.expr("n_hits * 1000000 DIV n_true")).alias("recall_ppm"),
    )


def triangle_counts(pairs: DataFrame, id_a: str = "id_a",
                    id_b: str = "id_b") -> DataFrame:
    """Per-node triangle counts over an undirected pair graph — the
    compact-forward MapReduce formulation (Suri & Vassilvitskii 2011,
    "Counting Triangles and the Curse of the Last Reducer"): canonicalize
    edges u<v, self-join on the low endpoint to enumerate wedges
    (u,v,w with v<w), then one equi-join probes whether the closing edge
    (v,w) exists.  Two shuffle equi-joins total, never an all-pairs
    product; the wedge fan-out is Σ deg(u)² ON THE CANONICAL ORIENTATION,
    which bounds hub blowup by ordering (the curse-of-the-last-reducer
    fix — a hub's wedges split across its LOWER neighbors).

    For near-dup candidate graphs this is the clique-ness diagnostic:
    true duplicate groups are cliques (every member pairs with every
    other), so candidate components with triangle-free spans are chains
    of borderline matches worth a stricter verify threshold.

    Returns (id, n_triangles) for every node in ≥1 triangle."""
    e = (
        pairs.select(F.least(F.col(id_a), F.col(id_b)).alias("u"),
                     F.greatest(F.col(id_a), F.col(id_b)).alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .transform(_persisted)
    )
    wedges = (
        e.alias("e1").join(e.alias("e2"), on=F.col("e1.u") == F.col("e2.u"))
        .where(F.col("e1.v") < F.col("e2.v"))
        .select(F.col("e1.u").alias("a"), F.col("e1.v").alias("b"),
                F.col("e2.v").alias("c"))
    )
    tris = wedges.join(
        e.select(F.col("u").alias("b"), F.col("v").alias("c")), on=["b", "c"])
    nodes = tris.select(F.explode(F.array("a", "b", "c")).alias("id"))
    return nodes.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))


def sorted_neighborhood_pairs(df: DataFrame, id_col: str, key,
                              window: int = 3) -> DataFrame:
    """Sorted-neighborhood candidate generation (SNM, Hernández & Stolfo
    1995 "The merge/purge problem" — the third classic blocking family
    next to LSH bands and SimHash chunks): sort the corpus by a blocking
    key, slide a ``window``-record neighborhood, and emit every pair
    within it.  Catches near-duplicates whose keys sort adjacently even
    when no exact block key collides (typo'd prefixes, zero-padded ids).

    Plan shape: the global sort rank comes from the two-phase scale-safe
    :func:`pigpen_spark.operators.windows.ranked` (range repartition +
    per-partition offsets — no single-partition window), and the
    neighborhood is an EQUI-join on rank: each record probes ranks
    r+1..r+window−1 via one bounded explode, shuffle keyed by rank.
    O(n·window) candidate rows, never all-pairs; ties in the key are made
    total by the id tiebreak, so ranks (and pairs) are deterministic.

    Returns (id_a, id_b, rank_dist, key_a, key_b) with rank_a < rank_b.
    Compose with an exact verifier (n-gram Jaccard / edit distance) the
    same way LSH candidates do."""
    from pigpen_spark.operators.windows import ranked
    from pigpen_spark.relation import _to_col as _c

    if window < 2:
        raise ValueError(f"sorted_neighborhood_pairs: window must be >= 2, got {window}")
    base = df.select(_c(id_col).alias("id"), _c(key).alias("__snk"))
    rk = ranked(base, order_by=[F.col("__snk"), F.col("id")],
                index_col="__snr")
    a = rk.select(F.col("id").alias("id_a"), F.col("__snk").alias("key_a"),
                  F.col("__snr").alias("__ra"))
    probes = (
        a.withColumn("rank_dist",
                     F.explode(F.sequence(F.lit(1), F.lit(window - 1))))
        .withColumn("__rb", F.col("__ra") + F.col("rank_dist"))
    )
    b = rk.select(F.col("id").alias("id_b"), F.col("__snk").alias("key_b"),
                  F.col("__snr").alias("__rb"))
    return (
        probes.join(b, on="__rb")
        .select("id_a", "id_b", F.col("rank_dist").cast("int").alias("rank_dist"),
                "key_a", "key_b")
    )


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             iterations: int = 3, scale: int = 10**12,
             checkpoint_every: int = 5) -> DataFrame:
    """Integer-exact PageRank over a directed edge list — fixed
    ``iterations`` of the power method with damping 0.85, computed
    entirely in BIGINT arithmetic so the result is bit-identical across
    engines (the first *iterative* catalog algorithm with a hash-exact
    oracle; k-means/PCA/BPE training stay rows-only because float
    iteration is not portable).

    Arithmetic contract (mirrored verbatim by :func:`pagerank_cte_sql`):
    ranks live on an integer grid of ``scale`` units of total mass;
    ``r0 = scale DIV n`` for every node; each step sends
    ``rank DIV outdeg`` along every out-edge and sets
    ``r' = (15·(scale DIV n)) DIV 100 + (85·Σ contrib) DIV 100``.
    All operands are non-negative, so Spark ``DIV`` (truncate) and
    DuckDB ``//`` (floor) agree.  Truncation loss is ≤1 unit per
    edge/node per step — at ``scale=1e12`` that is relative error
    <1e-6 for graphs under ~1e6 edges, and the POINT is exactness of
    the fixed computation, not convergence to the real-valued limit.

    Semantics: the node set is src ∪ dst; dangling nodes (no
    out-edges) receive rank but redistribute nothing (their mass
    decays — the standard "no dangling redistribution" variant, stated
    so the oracle can mirror it).  Nodes with no in-edges hold the
    teleport term only.

    Scale: per iteration ONE shuffle aggregation keyed by ``dst`` plus
    one equi-join of the O(V)-row rank table against the edge list on
    ``src``; edges+degrees are persisted once (hash-partitioned by
    ``src``, so the per-iteration join re-shuffles only the slim rank
    side).  Lineage is truncated by an eager ``localCheckpoint`` every
    ``checkpoint_every`` iterations (like :func:`dedup_clusters_star`)
    rather than every step: plan growth per iteration is one join+agg,
    so short loops skip the materialization entirely (measured 6× at 3
    iterations) while long loops stay analysis-bounded.  Never an
    all-pairs form; driver state is the two scalars (n, teleport).

    Use-case in the training-data pipeline: link-authority ranking of
    crawl domains (the CommonCrawl-style harmonic/PageRank domain
    prioritisation) before fetch/quality budgeting.

    Returns (node, rank) — one row per node in src ∪ dst.
    """
    if iterations < 1:
        raise ValueError(f"pagerank: iterations must be >= 1, got {iterations}")
    if checkpoint_every < 1:
        raise ValueError(
            f"pagerank: checkpoint_every must be >= 1, got {checkpoint_every}")
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition("src")
        .transform(_persisted)
    )
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # nodes and the per-edge fan-out table are PERSISTED AND CHECKPOINTED:
    # both re-enter every iteration's plan, and with a persist alone the
    # ANALYZED plan still inlines the whole upstream edge construction
    # per iteration — for the declared queries (edges from a distinct'd
    # fact-fact join / an LSH candidate generator) that compounded to a
    # 2k-line final plan whose analysis/AQE re-planning dominated driver
    # time (guide §5 localCheckpoint to truncate lineage; §7.3 planning
    # cost).  The eager checkpoint truncates the lineage; the
    # session-lived persist UNDER it keeps repeated constructions cheap —
    # a re-built query's structurally identical persist plan-matches the
    # CacheManager entry, so the fresh checkpoint re-materializes from
    # the cache instead of re-running the edge build (checkpoint RDDs
    # themselves can never be shared across constructions).  e stays
    # session-lived for the same reason (released by clear_engine_caches
    # like every engine persist).
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .transform(_persisted)
        .transform(_checkpointed)
    )
    # slim per-edge fan-out table, partitioned by src like e
    ed = e.join(deg, on="src").transform(_persisted) \
        .transform(_checkpointed)
    n = nodes.count()
    if n == 0:
        raise ValueError("pagerank: edge list is empty (no nodes)")
    base = scale // n          # r0 for every node
    teleport = (15 * base) // 100
    ranks = nodes.select("node", F.lit(base).cast("long").alias("rank"))
    for i in range(iterations):
        contrib = (
            ed.join(ranks, ed["src"] == ranks["node"])
            .select(F.col("dst").alias("node"),
                    F.expr("rank DIV outdeg").alias("c"))
        )
        sums = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = (
            nodes.join(sums, on="node", how="left")
            .select("node",
                    (F.lit(teleport).cast("long")
                     + F.expr("(85 * coalesce(s, 0)) DIV 100")).alias("rank"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            ranks = ranks.transform(_checkpointed)
    return ranks


def pagerank_cte_sql(edges_cte: str, iterations: int = 3,
                     scale: int = 10**12) -> str:
    """DuckDB CTE chain replaying :func:`pagerank` exactly: the fixed
    iteration count unrolls to ``r0..r{iterations}`` CTEs (DuckDB
    disallows aggregates in recursive CTE members, so unrolling IS the
    portable form).  ``edges_cte`` must define ``edges(src, dst)``
    already distinct."""
    parts = [
        edges_cte,
        "deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY src)",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*)::BIGINT AS n FROM nodes)",
        f"r0 AS (SELECT node, ({scale} // (SELECT n FROM nn))::BIGINT AS rank FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""r{i} AS (
      SELECT n.node,
             ((15 * ({scale} // (SELECT n FROM nn))) // 100
              + (85 * coalesce(s.sum_c, 0)) // 100)::BIGINT AS rank
      FROM nodes n LEFT JOIN (
        SELECT e.dst AS node, sum(r.rank // d.outdeg)::BIGINT AS sum_c
        FROM edges e JOIN r{i - 1} r ON e.src = r.node
        JOIN deg d ON e.src = d.src
        GROUP BY e.dst) s ON n.node = s.node)""")
    return "WITH " + ",\n    ".join(parts) + f"\n    SELECT node, rank FROM r{iterations}"


def hits(edges: DataFrame, src: str = "src", dst: str = "dst",
         iterations: int = 2, scale: int = 10**9) -> DataFrame:
    """Integer-exact HITS (Kleinberg 1999) over a directed edge list —
    hubs point at good authorities, authorities are pointed at by good
    hubs — completing the graph family next to :func:`pagerank` (global
    stationary authority), :func:`label_propagation` (communities) and
    :func:`kcore` (density).  Training-data use: on a crawl link graph,
    authority ranks the fetch-worthy content domains while hub ranks
    the directory/aggregator pages whose outlinks seed discovery — the
    two-sided complement of PageRank's one number.

    Arithmetic contract (mirrored verbatim by :func:`hits_cte_sql`):
    hubs start at ``scale`` units; each iteration computes raw
    authority ``a_raw(v) = Σ_{u→v} h(u)``, renormalizes with PURE
    INTEGER ops as ``a = a_raw DIV greatest(1, T_a DIV scale)``
    (T_a = Σ a_raw — a division by a precomputed integer, never a
    product, so nothing can overflow int64 and no decimal rounding
    seam exists), then the same for hubs from the new authorities.
    All operands non-negative ⇒ Spark DIV (truncate) and DuckDB //
    (floor) agree bit-for-bit.  Like pagerank, the POINT is exactness
    of the fixed computation, not convergence to the real-valued
    eigenvector.

    Scale: per half-iteration one slim-score equi-join against the
    persisted edge list and one groupBy, materialized by ONE eager
    local checkpoint whose job also delivers the level's total through
    an ``Observation`` — the divisor is then a driver scalar (like
    pagerank's ``n``), so no total aggregate, broadcast or node-table
    join enters the plan.  A level holds only the nodes on its side
    (authorities: dst, hubs: src); an absent node scores 0, which is
    exactly what it adds to the next level's sum.  ext_hits (2
    iterations) runs 17 Spark jobs per build plus write.

    Returns (node, hub, authority) — one row per node in src ∪ dst."""
    if iterations < 1:
        raise ValueError(f"hits: iterations must be >= 1, got {iterations}")
    # localCheckpoint OVER a session-lived persist: in-run reads come
    # from the checkpoint blocks (the r8 eviction regime — a
    # persisted-but-evicted edge table silently re-ran the upstream
    # distinct/join for EVERY reuse, measured 6× on the bench suite —
    # cannot recur, reads never depend on the cache), while the persist
    # underneath lets a REPEATED construction re-materialize the edge
    # table from the plan-matched cache instead of re-running the
    # orders⋈lineitem distinct — the dominant cost of this operator
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .transform(_persisted)
        .transform(_checkpointed)
    )

    def _level(raw: DataFrame) -> tuple[DataFrame, int]:
        # the eager checkpoint's job delivers the Observation whatever
        # the AQE setting, so ``obs.get`` never waits on a later action
        obs = Observation()
        lvl = _checkpointed(raw.observe(obs, F.sum("raw").alias("t")))
        return lvl, max(1, (obs.get["t"] or 0) // scale)

    def _propagate(lvl: DataFrame, d: int, on: str, to: str) -> DataFrame:
        return (
            e.join(lvl, e[on] == lvl["node"])
            .groupBy(e[to].alias("node"))
            .agg(F.sum(F.expr(f"raw DIV {d}")).alias("raw"))
        )

    auth, da = _level(e.groupBy(F.col("dst").alias("node"))
                      .agg(F.sum(F.lit(scale).cast("long")).alias("raw")))
    hub, dh = _level(_propagate(auth, da, "dst", "src"))
    for _ in range(iterations - 1):
        auth, da = _level(_propagate(hub, dh, "src", "dst"))
        hub, dh = _level(_propagate(auth, da, "dst", "src"))
    zero = F.lit(0).cast("long")
    return (
        hub.select("node", F.expr(f"raw DIV {dh}").alias("hub"),
                   zero.alias("authority"))
        .unionByName(auth.select("node", zero.alias("hub"),
                                 F.expr(f"raw DIV {da}").alias("authority")))
        .groupBy("node")
        .agg(F.sum("hub").alias("hub"), F.sum("authority").alias("authority"))
    )


def hits_cte_sql(edges_cte: str, iterations: int = 2,
                 scale: int = 10**9) -> str:
    """DuckDB CTE chain replaying :func:`hits` exactly — fixed
    iterations unroll (the pagerank doctrine); every sum casts
    ``::BIGINT`` before reaching arithmetic (DuckDB sums to HUGEINT).
    ``edges_cte`` must define ``edges(src, dst)`` already distinct."""
    parts = [
        edges_cte,
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        f"h0 AS (SELECT node, {scale}::BIGINT AS h FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""araw{i} AS (
      SELECT e.dst AS node, sum(h.h)::BIGINT AS raw
      FROM edges e JOIN h{i - 1} h ON e.src = h.node GROUP BY e.dst)""")
        parts.append(f"ta{i} AS (SELECT sum(raw)::BIGINT AS t FROM araw{i})")
        parts.append(f"""a{i} AS (
      SELECT n.node,
             (coalesce(r.raw, 0)
              // greatest(1, (SELECT t FROM ta{i}) // {scale}))::BIGINT AS a
      FROM nodes n LEFT JOIN araw{i} r ON n.node = r.node)""")
        parts.append(f"""hraw{i} AS (
      SELECT e.src AS node, sum(a.a)::BIGINT AS raw
      FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src)""")
        parts.append(f"th{i} AS (SELECT sum(raw)::BIGINT AS t FROM hraw{i})")
        parts.append(f"""h{i} AS (
      SELECT n.node,
             (coalesce(r.raw, 0)
              // greatest(1, (SELECT t FROM th{i}) // {scale}))::BIGINT AS h
      FROM nodes n LEFT JOIN hraw{i} r ON n.node = r.node)""")
    return ("WITH " + ",\n    ".join(parts)
            + f"\n    SELECT h.node, h.h AS hub, a.a AS authority"
            f"\n    FROM h{iterations} h JOIN a{iterations} a ON h.node = a.node")


def winnow_fingerprints(hs: Column, w: int = 4) -> Column:
    """FULL winnowing (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    algorithm), upgrading :func:`~pigpen_spark.functions.text.
    shingle_fingerprint`'s single global min: slide a ``w``-window over
    the shingle-hash array and keep each window's minimum, dedup'd.
    Guarantee (the paper's): any shared token run spanning ≥ w + n − 1
    tokens (n = shingle size) contributes at least one COMMON
    fingerprint to both documents — so quote-level partial overlap is
    detectable from fingerprint sets a ~2/(w+1) fraction of the shingle
    count.  Docs shorter than one window keep their single min.  Pure
    HOF expression; ``hs`` is referenced by several lambdas, so pass a
    let-bound/materialized column (same contract as shingle_hashes)."""
    n_win = F.size(hs) - w + 1
    return F.array_distinct(
        F.when(
            F.size(hs) >= w,
            F.transform(F.sequence(F.lit(1), n_win),
                        lambda i: F.array_min(F.slice(hs, i, w))),
        ).otherwise(F.array(F.array_min(hs)))
    )


def winnow_fingerprints_sql(hs: str, w: int = 4) -> str:
    """DuckDB equivalent of :func:`winnow_fingerprints`."""
    return f"""
      CASE WHEN len({hs}) >= {w}
           THEN list_distinct([list_min({hs}[i : i + {w - 1}])
                               for i in range(1, len({hs}) - {w} + 2)])
           ELSE [list_min({hs})] END
    """


def winnow_overlap_pairs(df: DataFrame, id_col: str, content_col: str,
                         shingle_n: int = 3, w: int = 4,
                         min_shared: int = 2,
                         max_df: int | None = None) -> DataFrame:
    """Partial-overlap candidate pairs from winnowed fingerprints — the
    detector for QUOTE-LEVEL reuse that whole-doc MinHash misses (a
    paragraph lifted into an otherwise-different document moves Jaccard
    barely, but its fingerprints collide exactly).  Pipeline: shingle
    hashes → winnow → explode (id, fp) distinct → self-join on fp →
    per-pair shared count ≥ ``min_shared``; containment is shared over
    the SMALLER doc's fingerprint count (integer ppm).

    Scale: the join is an equi-join on fingerprint value — O(Σ df(fp)²)
    pair rows, so over-common fingerprints (site boilerplate) are the
    hub risk; ``max_df`` drops fingerprints appearing in more than that
    many docs BEFORE the self-join (MOSS's own over-common cut), making
    the worst key cost max_df².  Returns (id_a, id_b, shared,
    containment_ppm)."""
    from pigpen_spark.functions.text import _let

    if w < 2:
        raise ValueError(f"winnow_overlap_pairs: w must be >= 2, got {w}")
    th = df.select(F.col(id_col).alias("id"),
                   token_hashes(F.col(content_col)).alias("th"))
    hs = th.select("id", shingle_hashes(F.col("th"), shingle_n).alias("hs"))
    fp = (
        hs.select("id", F.explode(winnow_fingerprints(F.col("hs"), w)).alias("fp"))
        .distinct()
    )
    if max_df is not None:
        # df cut as a COUNT WINDOW over the fp partitioning instead of a
        # groupBy + join-back: one exchange establishes hash(fp) and the
        # self-join below reuses it (no per-side re-exchange), where the
        # join-back form re-executed the shingle scan + distinct once per
        # consumer of the cut output (the r10 plan showed the subtree
        # inlined 7x).  count(*) over (partition by fp) == the groupBy
        # count, so survivors are identical.
        fp = (
            fp.withColumn("__df", F.count(F.lit(1))
                          .over(Window.partitionBy("fp")))
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    # persisted AFTER the cut: three consumers (sizes + both self-join
    # sides) read the final fingerprint set
    fp = fp.transform(_persisted)
    sizes = fp.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = fp.select(F.col("id").alias("id_a"), "fp")
    b = fp.select(F.col("id").alias("id_b"), "fp")
    pairs = (
        a.join(b, on="fp").filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        pairs
        .join(sizes.withColumnsRenamed({"id": "id_a", "n_fp": "n_a"}), on="id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "n_fp": "n_b"}), on="id_b")
        .select("id_a", "id_b", "shared",
                F.expr("shared * 1000000 DIV least(n_a, n_b)")
                 .alias("containment_ppm"))
    )


def novelty_scores(corpus: DataFrame, reference: DataFrame, id_col: str,
                   content_col: str, n: int = 5) -> DataFrame:
    """Per-document NOVELTY against a reference corpus — the soft form
    of :func:`decontaminate` (which flags at a threshold): for every
    corpus doc, the fraction of its distinct word n-grams ALSO present
    in the reference, in integer ppm.  High overlap_ppm = likely quote,
    boilerplate, or memorization risk (the Lee et al. 2022 eval-audit
    measure); novelty = 1e6 − overlap.

    Same plan as decontaminate: both sides explode to distinct grams,
    one well-distributed equi-join on the gram string, per-doc counts
    partial-aggregate map-side.  Docs shorter than ``n`` tokens have no
    grams: n_grams=0, NULL overlap (no evidence ≠ novel).

    Returns (id, n_grams, n_shared, overlap_ppm)."""
    from pigpen_spark.functions.text import _ngrams

    ref_grams = (
        reference.select(F.explode(F.array_distinct(
            _ngrams(F.col(content_col), n))).alias("g"))
        .distinct()
        .transform(_persisted)
    )
    doc_grams = corpus.select(
        F.col(id_col).alias("__id"),
        F.explode(F.array_distinct(_ngrams(F.col(content_col), n)))
        .alias("g"))
    shared = (doc_grams.join(ref_grams, on="g", how="left_semi")
              .groupBy("__id").agg(F.count(F.lit(1)).alias("n_shared")))
    totals = doc_grams.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_grams"))
    return (
        corpus.select(F.col(id_col).alias("__id"))
        .join(totals, on="__id", how="left")
        .join(shared, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_shared", F.lit(0)).cast("bigint").alias("n_shared"),
            F.expr("CASE WHEN coalesce(n_grams, 0) > 0 THEN "
                   "coalesce(n_shared, 0) * 1000000 DIV n_grams END")
             .cast("bigint").alias("overlap_ppm"),
        )
    )


def label_propagation(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                      iterations: int = 2,
                      checkpoint_every: int = 5) -> DataFrame:
    """Deterministic synchronous label propagation (Raghavan et al. LPA)
    over an undirected candidate-pair graph — COMMUNITY detection, the
    denser-than-connectivity grouping next to :func:`dedup_clusters`
    (WCC labels everything reachable; LPA splits a connected blob into
    locally-dense communities, the granularity wanted for template
    families / topical clusters inside one giant near-dup component).

    Determinism contract (mirrored verbatim by
    :func:`label_propagation_cte_sql`): ``label0(v) = v``; each
    synchronous round every node adopts the label that is MOST FREQUENT
    among its neighbors' previous-round labels, ties broken by the
    SMALLEST label.  A fixed ``iterations`` count (no convergence test)
    keeps the computation a pure function of the edge set, so the
    DuckDB oracle replays it exactly — same policy as :func:`pagerank`.

    Scale: per iteration ONE groupBy((node, label)) count + one struct
    argmax per node — both keyed shuffles on the node id; the
    both-direction edge list is hash-partitioned by ``src`` and
    persisted once, so each round re-shuffles only the O(V) label
    table.  Lineage truncated via localCheckpoint every
    ``checkpoint_every`` rounds.  Never all-pairs; no driver state.

    Returns (node, community) — one row per node appearing in pairs.
    """
    if iterations < 1:
        raise ValueError(
            f"label_propagation: iterations must be >= 1, got {iterations}")
    # eager checkpoint OVER a session-lived persist: the edge list
    # re-enters every round's plan twice (votes join + argmax), and the
    # declared query feeds an LSH candidate generator whose plan is
    # large — persisted alone, the ANALYZED plan still inlined that base
    # per round (1.7k plan lines at 2 rounds); the ExistingRDD truncates
    # it once.  The persist underneath keeps REPEATED constructions
    # cheap (a re-built query's identical persist plan-matches the
    # CacheManager entry, so the fresh checkpoint re-materializes from
    # cache — checkpoint RDDs can't be shared across constructions).
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b), F.col(id_a)))
        .distinct()
        .repartition("src")
        .transform(_persisted)
        .transform(_checkpointed)
    )
    labels = e.select(F.col("src").alias("node")).distinct() \
        .select("node", F.col("node").alias("community"))
    for i in range(iterations):
        votes = (
            e.join(labels, e["dst"] == labels["node"])
            .groupBy(F.col("src"), F.col("community").alias("lbl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        # argmax by (count desc, label asc) without negating the label
        # (negation would silently NULL non-numeric node ids): min_by
        # over the lexicographic struct (-cnt, lbl) — cnt is always a
        # BIGINT count, so only IT is negated; the label keeps its own
        # type and ordering, matching the oracle's ORDER BY community
        # ASC for strings as well as ints.
        labels = (
            votes.groupBy(F.col("src").alias("node"))
            .agg(F.expr("min_by(lbl, struct(-cnt, lbl))").alias("community"))
        )
        if (i + 1) % checkpoint_every == 0 and i + 1 < iterations:
            labels = labels.transform(_checkpointed)
    return labels


def label_propagation_cte_sql(pairs_cte: str, iterations: int = 2) -> str:
    """DuckDB CTE chain replaying :func:`label_propagation` exactly —
    the fixed round count unrolls to ``l0..l{iterations}`` (aggregates
    are not allowed in recursive CTE members, so unrolling IS the
    portable form, same as :func:`pagerank_cte_sql`).  ``pairs_cte``
    must define ``pairs(id_a, id_b)``; the tie policy (max count, then
    min label) is expressed as a row_number over the vote counts."""
    parts = [
        pairs_cte,
        """edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs)""",
        "l0 AS (SELECT DISTINCT src AS node, src AS community FROM edges)",
    ]
    for i in range(1, iterations + 1):
        parts.append(f"""l{i} AS (
      SELECT src AS node, lbl AS community FROM (
        SELECT e.src, l.community AS lbl, count(*) AS cnt,
               row_number() OVER (
                 PARTITION BY e.src
                 ORDER BY count(*) DESC, l.community ASC) AS rn
        FROM edges e JOIN l{i - 1} l ON e.dst = l.node
        GROUP BY e.src, l.community) v
      WHERE rn = 1)""")
    # community keeps the node id's own type (no ::BIGINT — the Spark
    # side's min_by does the same, so string node ids round-trip too)
    return ("WITH " + ",\n    ".join(parts)
            + f"\n    SELECT node, community FROM l{iterations}")


def common_neighbor_pairs(pairs: DataFrame, id_a: str = "id_a",
                          id_b: str = "id_b", min_common: int = 2,
                          max_degree: int = 64) -> DataFrame:
    """LINK PREDICTION over an undirected pair graph: non-adjacent node
    pairs ranked by common-neighbor count and neighborhood Jaccard —
    "these two documents were never emitted as a candidate pair, but
    they share k near-dup neighbors", the second-pass recall recovery
    on top of any blocked candidate generator (LSH misses a pair; its
    shared neighborhood finds it).  Also the classic triadic-closure
    feature for record linkage.

    Semantics (mirrored by :func:`common_neighbor_cte_sql`): wedges are
    enumerated through CENTER nodes with degree ≤ ``max_degree`` (the
    hub cut — a super-connector center contributes deg² wedges and
    pair-bombs the plan; cutting it is the same explicit approximation
    as ``winnow_overlap_pairs``'s max_df, applied identically on both
    engines).  Degrees in the Jaccard denominator are TRUE degrees
    (computed before the cut), but the ``common`` NUMERATOR counts only
    centers that survived the cut — so when a hub (degree >
    ``max_degree``) is itself a shared neighbor of a pair, ``common``
    and hence ``jacc_ppm`` UNDERESTIMATE relative to the full graph
    (the score is exact w.r.t. small centers only).  Pairs already
    adjacent are anti-joined out; survivors need ``common >=
    min_common`` surviving centers.

    jacc_ppm = common·10⁶ DIV (deg_a + deg_b − common) — integer, so
    the oracle is hash-exact.

    Scale: degree table is O(V); the wedge self-join is keyed on the
    center node with the hub cut bounding the worst key at
    max_degree²; the common-count groupBy is the only wide shuffle.
    Returns (id_a, id_b, common, deg_a, deg_b, jacc_ppm), id_a < id_b.
    """
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b), F.col(id_a)))
        .distinct()
        .repartition("src")
        .transform(_persisted)
    )
    deg = e.groupBy(F.col("src").alias("node")) \
        .agg(F.count(F.lit(1)).alias("deg")).transform(_persisted)
    # persisted: BOTH wedge self-join sides read this, and it inherits
    # e's src hash-partitioning through the broadcast degree join, so
    # the self-join on src needs no exchange at all
    small = e.join(deg.filter(F.col("deg") <= max_degree),
                   e["src"] == F.col("node")).select("src", "dst") \
        .transform(_persisted)
    x, y = small.alias("x"), small.alias("y")
    wedges = (
        x.join(y, (F.col("x.src") == F.col("y.src"))
               & (F.col("x.dst") < F.col("y.dst")))
        .select(F.col("x.dst").alias("a"), F.col("y.dst").alias("b"))
    )
    common = wedges.groupBy("a", "b").agg(F.count(F.lit(1)).alias("common"))
    # adjacency for the anti-join comes from the PERSISTED symmetric edge
    # list, not from `pairs`: e = distinct(pairs ∪ reversed(pairs)), so
    # e filtered to src < dst IS the canonical (least, greatest) distinct
    # pair set — reading it off the cache drops a full re-execution of
    # the upstream candidate generator plus its distinct exchange (the
    # generator subtree was inlined a second time in the plan).  Any
    # self-loop in `pairs` is dropped here, but a self-loop can never
    # match a wedge pair (those are strictly a < b), so the anti-join
    # result is unchanged.
    adj = e.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b"))
    cand = common.join(adj, on=["a", "b"], how="left_anti") \
        .filter(F.col("common") >= min_common)
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    return (
        cand.join(da, on="a").join(db, on="b")
        .select(F.col("a").alias(id_a), F.col("b").alias(id_b),
                F.col("common").cast("long").alias("common"),
                F.col("deg_a").cast("long").alias("deg_a"),
                F.col("deg_b").cast("long").alias("deg_b"),
                F.expr("common * 1000000 DIV (deg_a + deg_b - common)")
                 .cast("long").alias("jacc_ppm"))
    )


def common_neighbor_cte_sql(pairs_cte: str, min_common: int = 2,
                            max_degree: int = 64) -> str:
    """DuckDB mirror of :func:`common_neighbor_pairs`; ``pairs_cte``
    must define ``pairs(id_a, id_b)``."""
    return f"""WITH {pairs_cte},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    deg AS (SELECT src AS node, count(*)::BIGINT AS deg FROM edges GROUP BY src),
    small AS (
      SELECT e.src, e.dst FROM edges e
      JOIN deg d ON e.src = d.node AND d.deg <= {max_degree}),
    common AS (
      SELECT x.dst AS a, y.dst AS b, count(*)::BIGINT AS common
      FROM small x JOIN small y ON x.src = y.src AND x.dst < y.dst
      GROUP BY x.dst, y.dst),
    adj AS (
      SELECT DISTINCT least(id_a, id_b) AS a, greatest(id_a, id_b) AS b
      FROM pairs)
    SELECT c.a AS id_a, c.b AS id_b, c.common,
           da.deg AS deg_a, db.deg AS deg_b,
           (c.common * 1000000 // (da.deg + db.deg - c.common))::BIGINT
             AS jacc_ppm
    FROM common c
    JOIN deg da ON c.a = da.node
    JOIN deg db ON c.b = db.node
    LEFT JOIN adj ON c.a = adj.a AND c.b = adj.b
    WHERE adj.a IS NULL AND c.common >= {min_common}"""


def kcore(pairs: DataFrame, k: int, id_a: str = "id_a", id_b: str = "id_b",
          rounds: int = 8, checkpoint_every: int = 4) -> DataFrame:
    """k-CORE decomposition of an undirected candidate-pair graph by
    synchronous peeling: each round deletes every node whose degree in
    the SURVIVING subgraph is < ``k``, until the fixed round budget is
    spent — the density diagnostic between WCC (any connectivity) and
    :func:`label_propagation` (local majorities): the k-core is the
    maximal subgraph where every member has ≥ k surviving neighbors,
    i.e. the template families / botnets / mirror farms inside a
    near-dup graph, with the stragglers peeled away.

    Determinism contract (mirrored by :func:`kcore_cte_sql`): a FIXED
    ``rounds`` count, so the result is a pure function of the edge set
    and the oracle replays it exactly (the pagerank/LPA doctrine).
    Peeling converges in ≤ rounds(graph) rounds — for near-dup graphs
    (dense cores, shallow tendrils) a handful suffices; a path graph
    peels one layer per round, so callers wanting the true fixpoint on
    adversarial shapes raise ``rounds`` (membership shrinks
    monotonically, so extra rounds are idempotent after convergence).

    Scale: per round one degree groupBy over the surviving edges + two
    semi-joins to filter the edge list — all keyed on node ids, no
    driver state, never all-pairs; lineage truncated via
    localCheckpoint every ``checkpoint_every`` rounds.

    Returns (node, degree) — degree within the surviving subgraph —
    for every node still standing after ``rounds`` peels.
    """
    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    if rounds < 1:
        raise ValueError(f"kcore: rounds must be >= 1, got {rounds}")
    # Per-round EAGER CHECKPOINTS instead of persist + sparse
    # checkpoint_every: each round references the surviving edge list
    # THREE times (degree agg + two semi-joins), so a lazily-persisted
    # loop tripled the analyzed plan per round over the (large) LSH
    # candidate-generator base — 14.6k plan lines at 8 rounds, with
    # analysis + AQE re-planning re-paid at every convergence count
    # (guide §5 lineage truncation; §7.3 planning cost).  The eager
    # checkpoint is not extra execution: the convergence count
    # materialized each round anyway; counting the checkpointed RDD is
    # free by comparison.  Superseded rounds' blocks are freed
    # immediately (unpersist() would be a no-op on checkpoint frames).
    e = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b), F.col(id_a)))
        .distinct()
        .repartition("src")
        # persist under the checkpoint: repeated constructions
        # re-materialize the base from the plan-matched cache instead of
        # re-running the candidate generator (see label_propagation)
        .transform(_persisted)
        .transform(_checkpointed)
    )
    prev_edges: int | None = None
    for i in range(rounds):
        deg = e.groupBy(F.col("src").alias("node")) \
            .agg(F.count(F.lit(1)).alias("degree"))
        keep = deg.filter(F.col("degree") >= k).select("node")
        prev = e
        e = (
            e.join(keep.withColumnRenamed("node", "src"), on="src",
                   how="left_semi")
            .join(keep.withColumnRenamed("node", "dst"), on="dst",
                  how="left_semi")
        ).transform(_checkpointed)
        _cache.free_ckpt(prev)
        # convergence probe: peeling is idempotent once no edge drops,
        # so breaking early returns EXACTLY the fixed-round result the
        # oracle computes — a pure plan optimization, not a semantics
        # fork (the scalar count is the only driver state)
        n_edges = e.count()
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    return (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )


def kcore_cte_sql(pairs_cte: str, k: int, rounds: int = 8) -> str:
    """DuckDB CTE chain replaying :func:`kcore` exactly — the fixed
    round count unrolls to ``e0..e{rounds}`` (same portable form as
    pagerank_cte_sql).  ``pairs_cte`` must define ``pairs(id_a,
    id_b)``.

    The edge CTEs are MATERIALIZED: each round references e{i-1}
    TWICE (once to derive the surviving nodes, once to filter the
    edges), so DuckDB's default CTE inlining would expand the chain
    into 2^rounds copies of the base scan — measured as "too many open
    files" at rounds=8 before the plan even runs."""
    parts = [
        pairs_cte,
        """e0 AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs)""",
    ]
    for i in range(1, rounds + 1):
        parts.append(f"""n{i} AS (
      SELECT src AS node FROM e{i - 1} GROUP BY src
      HAVING count(*) >= {k})""")
        parts.append(f"""e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN n{i} a ON e.src = a.node
      JOIN n{i} b ON e.dst = b.node)""")
    return ("WITH " + ",\n    ".join(parts)
            + f"\n    SELECT src AS node, count(*)::BIGINT AS degree "
              f"FROM e{rounds} GROUP BY src")
