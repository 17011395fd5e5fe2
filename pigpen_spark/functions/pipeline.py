"""Training-corpus pipeline operators: deterministic splits, sequence
packing, reproducible shuffling, stratified sampling.

Extension surface (BASELINE.json north star) — the corpus-management layer
a 100 TB LLM data pipeline needs AROUND dedup/similarity/quality:

- **split_by_hash** — train/val/test assignment by salted content hash.
  Pure per-row expression: no shuffle, no state, stable under reruns and
  corpus growth (a doc's split never changes when other docs arrive) —
  exactly why production pipelines hash-split instead of random-split.
- **stratified_sample_by_hash** — per-stratum rate control with the same
  hash trick; a FILTER, not a sampler: deterministic, exactly
  reproducible, and pushdown-friendly.
- **pack_chunks** — concat-and-chunk sequence packing: cumulative token
  budget over a deterministic order assigns each doc a chunk id.  One
  window per shard; ALWAYS partition at scale (a global window is a
  single-reducer funnel — same caveat as windows.ranked).
- **shuffle_deterministic** — reproducible global "random" order: sort by
  salted hash.  Range-partitioned total sort, so it scales like any
  Spark sort; changing the salt reshuffles, keeping the salt reproduces
  byte-identical epochs.

Every operator is hash-based on md5, so each carries an exact DuckDB
oracle (the ``*_sql`` helpers build the same expressions in SQL).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pigpen_spark.cache import persisted as _persisted
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pigpen_spark.relation import _to_col as _c

_HASH_SPACE = float(1 << 32)


def hash_unit(col, salt: str) -> Column:
    """Deterministic uniform-[0,1) value per row: first 8 hex digits of
    md5(value || '|' || salt) scaled by 2^-32.  Exactly reproducible in
    DuckDB (:func:`hash_unit_sql`)."""
    h = F.md5(F.concat(_c(col).cast("string"), F.lit("|" + salt)))
    return (
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") / F.lit(_HASH_SPACE)
    )


def sql_str(value: str) -> str:
    """Render a Python string as a single-quoted SQL literal, doubling
    embedded quotes — group/stratum names are DATA, and an unescaped
    quote would break (or in principle inject into) the oracle SQL."""
    return "'" + str(value).replace("'", "''") + "'"


def hash_unit_sql(col: str, salt: str) -> str:
    """DuckDB equivalent of :func:`hash_unit`."""
    return (
        f"(('0x' || substring(md5({col}::VARCHAR || "
        f"{sql_str('|' + salt)}), 1, 8))::BIGINT"
        f" / {_HASH_SPACE!r})"
    )


def split_by_hash(df: DataFrame, id_col: str, splits: Mapping[str, float],
                  salt: str = "split", split_col: str = "split") -> DataFrame:
    """Assign every row to a named split by salted id-hash.

    ``splits`` maps name → fraction (must sum to ~1; the LAST split
    absorbs the remainder, so float dust can't leave rows unassigned).
    Assignment is a pure projection — no shuffle, no sampling state — and
    each row's split depends only on (id, salt): stable across reruns,
    re-partitioning, and corpus growth."""
    fracs = list(splits.items())
    if not fracs:
        raise ValueError("split_by_hash: need at least one split")
    total = sum(f for _, f in fracs)
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split_by_hash: fractions sum to {total}, expected 1")
    u = hash_unit(id_col, salt)
    expr = F.lit(fracs[-1][0])  # last split absorbs the remainder
    cum = 0.0
    branches = []
    for name, frac in fracs[:-1]:
        cum += frac
        branches.append((cum, name))
    for cum, name in reversed(branches):
        expr = F.when(u < F.lit(cum), F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def split_by_hash_sql(id_col: str, splits: Mapping[str, float],
                      salt: str = "split") -> str:
    """DuckDB CASE expression equivalent of :func:`split_by_hash`."""
    fracs = list(splits.items())
    if not fracs:
        raise ValueError("split_by_hash_sql: need at least one split")
    if len(fracs) == 1:  # zero-WHEN CASE is a SQL syntax error
        return sql_str(fracs[0][0])
    u = hash_unit_sql(id_col, salt)
    cases, cum = [], 0.0
    for name, frac in fracs[:-1]:
        cum += frac
        cases.append(f"WHEN {u} < {cum!r} THEN {sql_str(name)}")
    return "CASE " + " ".join(cases) + f" ELSE {sql_str(fracs[-1][0])} END"


def stratified_sample_by_hash(df: DataFrame, strata_col: str,
                              fractions: Mapping[str, float], id_col: str,
                              default: float = 0.0,
                              salt: str = "strata") -> DataFrame:
    """Deterministic stratified sampling: keep a row iff its salted
    id-hash falls below its stratum's fraction.  A pure FILTER — exactly
    reproducible (same rows every run), no sampler state, and e.g. a 1%
    stratum yields 1% ± binomial noise exactly like sampleBy, but
    auditable.  Unlisted strata use ``default`` (0 = drop)."""
    u = hash_unit(id_col, salt)
    frac = F.lit(float(default))
    for name, f in fractions.items():
        frac = F.when(_c(strata_col) == F.lit(name), F.lit(float(f))).otherwise(frac)
    return df.filter(u < frac)


def stratified_sample_by_hash_sql(strata_col: str, fractions: Mapping[str, float],
                                  id_col: str, default: float = 0.0,
                                  salt: str = "strata") -> str:
    """DuckDB WHERE-clause equivalent of :func:`stratified_sample_by_hash`."""
    u = hash_unit_sql(id_col, salt)
    if not fractions:  # zero-WHEN CASE is a SQL syntax error
        return f"{u} < {float(default)!r}"
    cases = " ".join(
        f"WHEN {strata_col} = {sql_str(n)} THEN {float(f)!r}"
        for n, f in fractions.items()
    )
    return f"{u} < (CASE {cases} ELSE {float(default)!r} END)"


def mix_by_weight(df: DataFrame, group_col: str, id_col: str,
                  weights: Mapping[str, float], default: float = 1.0,
                  salt: str = "mix", copy_col: str = "copy") -> DataFrame:
    """Domain/source reweighting with FRACTIONAL up- and down-sampling —
    the corpus-mixing step (Pile/Dolma-style source weights) that turns
    per-domain epoch counts like {"books": 2.5, "web": 0.3} into rows.

    Weight w emits ⌊w⌋ guaranteed copies of each row plus one more with
    probability frac(w), decided by the salted id-hash — deterministic,
    reproducible, and stable under corpus growth exactly like
    :func:`split_by_hash` (a doc's copy count never changes when other
    docs arrive).  Pure per-row expressions: build the candidate copy
    list, filter it, explode — no shuffle, no state, no sampler RNG.
    Groups absent from ``weights`` get ``default`` (1.0 = pass-through,
    0.0 = drop).  Output adds ``copy_col`` (0-based copy index) so
    downstream shuffles/packing can keep replicas apart."""
    for g, w in weights.items():
        if w < 0:
            raise ValueError(f"mix_by_weight: negative weight {w} for {g!r}")
    if default < 0:
        raise ValueError(f"mix_by_weight: negative default weight {default}")

    def cases(f) -> Column:
        expr = F.lit(f(default))
        for g, w in weights.items():
            expr = F.when(_c(group_col) == g, F.lit(f(w))).otherwise(expr)
        return expr

    nf = cases(lambda w: int(w))            # guaranteed copies
    frac = cases(lambda w: float(w) - int(w))
    u = hash_unit(_c(id_col), salt)
    kept = F.filter(
        F.sequence(F.lit(0), nf),
        lambda c: (c < nf) | (u < frac),
    )
    return df.withColumn(copy_col, F.explode(kept))


def mix_by_weight_sql(group_col: str, id_col: str,
                      weights: Mapping[str, float], default: float = 1.0,
                      salt: str = "mix") -> str:
    """DuckDB equivalent of :func:`mix_by_weight`'s kept-copy LIST (the
    caller unnests it as the copy column)."""
    def case(f) -> str:
        arms = " ".join(
            f"WHEN {group_col} = {sql_str(g)} THEN {f(w)!r}"
            for g, w in weights.items()
        )
        return f"(CASE {arms} ELSE {f(default)!r} END)"

    nf = case(lambda w: int(w))
    frac = case(lambda w: float(w) - int(w))
    u = hash_unit_sql(id_col, salt)
    return (
        f"[c for c in range(0, {nf} + 1) "
        f"if c < {nf} or {u} < {frac}]"
    )


def mix_plan(df: DataFrame, source_col: str, text_col: str,
             targets: Mapping[str, int], budget_tokens: int,
             max_epochs_ppm: int = 2_000_000) -> DataFrame:
    """Mixture PLANNING — the step upstream of :func:`mix_by_weight`:
    given a target token mixture (source → share in ppm), a total token
    budget, and an epoch cap, derive each source's sampling rate and
    report what the plan actually achieves (the Pile/Dolma "how many
    epochs of each source" worksheet as one aggregate).

    Integer arithmetic end to end (hash-exact oracle): per source,
    ``want = budget · share DIV 1e6``; ``rate_ppm = least(cap,
    want · 1e6 DIV have)`` (an empty source rates 0);
    ``achieved = have · rate_ppm DIV 1e6``; ``deficit = want −
    achieved`` > 0 exactly when the epoch cap binds (or the source is
    missing) — the signal to renegotiate the mixture or raise the cap.
    Sources present in the corpus but absent from ``targets`` get
    want 0 / rate 0 (an explicit drop, matching mix_by_weight's
    ``default=0`` posture for planned mixes); targeted sources missing
    from the corpus emit a row with have 0.

    One token-count groupBy (map-side partials) + a broadcast join
    against the ≤|targets|-row plan table — nothing corpus-sized moves.
    ``rate_ppm / 1e6`` feeds :func:`mix_by_weight` as the source's
    weight.  Returns (source, have_tokens, want_tokens, rate_ppm,
    achieved_tokens, deficit_tokens) ordered-insensitive."""
    from pigpen_spark.functions.text import tokens

    if budget_tokens < 0:
        raise ValueError(f"mix_plan: negative budget {budget_tokens}")
    if budget_tokens > 9_000_000_000_000:
        # rate_ppm computes want·1e6 DIV have; want ≤ budget, so budgets
        # past 9.2e12 would overflow BIGINT silently inside the DIV.
        raise ValueError(
            f"mix_plan: budget {budget_tokens} > 9e12 tokens — "
            "want_tokens * 1e6 would overflow int64; plan in shards")
    if max_epochs_ppm < 0:
        raise ValueError(f"mix_plan: negative epoch cap {max_epochs_ppm}")
    tot = 0
    for s, ppm in targets.items():
        if ppm < 0:
            raise ValueError(f"mix_plan: negative target share for {s!r}")
        tot += ppm
    if tot > 1_000_000:
        raise ValueError(
            f"mix_plan: target shares sum to {tot} ppm > 1e6 — a mixture "
            "cannot over-allocate the budget")
    # coalesce NULL text to '' BEFORE tokenizing: with legacy sizeOfNull,
    # size(tokens(NULL)) is -1 and would SUBTRACT a token where the
    # DuckDB oracle's sum simply skips the NULL — a latent hash mismatch
    # on dirty corpora.
    have = (
        df.select(_c(source_col).alias("source"),
                  F.size(tokens(F.coalesce(_c(text_col), F.lit(""))))
                  .cast("long").alias("__n"))
        .groupBy("source").agg(F.sum("__n").alias("have_tokens"))
    )
    return mix_plan_from_have(have, targets, budget_tokens, max_epochs_ppm,
                              _validated=True)


def mix_plan_from_have(have: DataFrame, targets: Mapping[str, int],
                       budget_tokens: int, max_epochs_ppm: int = 2_000_000,
                       _validated: bool = False) -> DataFrame:
    """:func:`mix_plan`'s worksheet computed from a PRE-AGGREGATED
    (source, have_tokens) table instead of the raw corpus — the piece
    that makes mixture planning LIVE: maintain the token counts as a
    streaming incremental rollup (:func:`pigpen_spark.streaming.core.
    rollup_stream` with one sum) and re-derive the plan off the store
    at any time, without ever re-scanning the corpus.  Identical
    integer arithmetic to :func:`mix_plan` (which now delegates here),
    so streamed-rollup planning == batch planning row for row."""
    if not _validated:
        if budget_tokens < 0:
            raise ValueError(f"mix_plan: negative budget {budget_tokens}")
        if budget_tokens > 9_000_000_000_000:
            raise ValueError(
                f"mix_plan: budget {budget_tokens} > 9e12 tokens — "
                "want_tokens * 1e6 would overflow int64; plan in shards")
        if max_epochs_ppm < 0:
            raise ValueError(f"mix_plan: negative epoch cap {max_epochs_ppm}")
        tot = 0
        for s, ppm in targets.items():
            if ppm < 0:
                raise ValueError(f"mix_plan: negative target share for {s!r}")
            tot += ppm
        if tot > 1_000_000:
            raise ValueError(
                f"mix_plan: target shares sum to {tot} ppm > 1e6 — a mixture "
                "cannot over-allocate the budget")
    spark = have.sparkSession
    have = have.select(F.col("source"),
                       F.col("have_tokens").cast("long").alias("have_tokens"))
    tgt = spark.createDataFrame(
        [(s, int(ppm)) for s, ppm in sorted(targets.items())] or
        [("__none__", 0)],
        "source string, share_ppm long",
    ).filter(F.col("source") != "__none__")
    joined = have.join(tgt, on="source", how="full_outer")
    want = F.expr(f"coalesce(share_ppm, 0) * {int(budget_tokens)} DIV 1000000")
    h = F.coalesce(F.col("have_tokens"), F.lit(0)).cast("long")
    # integer DIV throughout (Spark DIV truncates; operands non-negative,
    # so it agrees bit-for-bit with DuckDB's floor `//`)
    return joined.select(
        "source",
        h.alias("have_tokens"),
        want.cast("long").alias("want_tokens"),
    ).withColumn(
        "rate_ppm",
        F.expr(f"CASE WHEN have_tokens > 0 THEN least(CAST({int(max_epochs_ppm)} AS BIGINT), "
               "want_tokens * 1000000 DIV have_tokens) ELSE 0 END").cast("long"),
    ).withColumn(
        "achieved_tokens",
        F.expr("have_tokens * rate_ppm DIV 1000000").cast("long"),
    ).withColumn(
        "deficit_tokens",
        (F.col("want_tokens") - F.col("achieved_tokens")).cast("long"),
    )


def mix_plan_sql(table: str, source_col: str, text_col: str,
                 targets: Mapping[str, int], budget_tokens: int,
                 max_epochs_ppm: int = 2_000_000) -> str:
    """DuckDB oracle for :func:`mix_plan` (same integer DIVs — all
    operands non-negative, so `//` floor == Spark DIV truncate; NULL
    text coalesced to '' on both sides)."""
    toks = (f"list_filter(string_split(lower(coalesce({text_col}, '')), ' '), "
            "t -> t <> '')")
    vals = ", ".join(f"({sql_str(s)}, {int(p)}::BIGINT)"
                     for s, p in sorted(targets.items()))
    return f"""
    WITH have AS (
      SELECT {source_col} AS source, sum(len({toks}))::BIGINT AS have_tokens
      FROM {table} GROUP BY {source_col}
    ),
    tgt (source, share_ppm) AS (VALUES {vals}),
    j AS (
      SELECT coalesce(h.source, t.source) AS source,
             coalesce(h.have_tokens, 0)::BIGINT AS have_tokens,
             (coalesce(t.share_ppm, 0) * {int(budget_tokens)} // 1000000)::BIGINT
               AS want_tokens
      FROM have h FULL OUTER JOIN tgt t ON h.source = t.source
    )
    SELECT source, have_tokens, want_tokens,
           (CASE WHEN have_tokens > 0
                 THEN least({int(max_epochs_ppm)}::BIGINT,
                            want_tokens * 1000000 // have_tokens)
                 ELSE 0 END)::BIGINT AS rate_ppm,
           (have_tokens * (CASE WHEN have_tokens > 0
                 THEN least({int(max_epochs_ppm)}::BIGINT,
                            want_tokens * 1000000 // have_tokens)
                 ELSE 0 END) // 1000000)::BIGINT AS achieved_tokens,
           (want_tokens - (have_tokens * (CASE WHEN have_tokens > 0
                 THEN least({int(max_epochs_ppm)}::BIGINT,
                            want_tokens * 1000000 // have_tokens)
                 ELSE 0 END) // 1000000))::BIGINT AS deficit_tokens
    FROM j
    """


def temperature_plan(df: DataFrame, source_col: str, text_col: str,
                     tau: int = 2) -> DataFrame:
    """Temperature-scaled mixture targets — the multilingual sampling
    trick (mBERT / XLM-R): source shares ∝ have_tokens^(1/τ), which
    up-weights small sources relative to proportional sampling (τ=1 is
    proportional; τ→∞ is uniform).  The output (source, have_tokens,
    share_ppm) worksheet feeds :func:`mix_plan` / :func:`mix_plan_fill`
    / :func:`blend_by_weight` as the target mixture.

    τ is restricted to POWERS OF TWO so have^(1/τ) is repeated
    ``sqrt`` — an IEEE-exact operation in every engine (a general
    ``pow`` is implementation-defined in its last ulp and would break
    the hash-exact oracle).  The normalization Σ is computed in sorted
    source order (left fold — same association in DuckDB's list_sum and
    the Python loop) and shares floor to integer ppm; rounding leaves
    ≤ |sources| ppm unassigned, never silently redistributed.

    One token-count groupBy; the normalization is driver-side over the
    collected ≤|sources|-row worksheet (bounded-artifact doctrine)."""
    import math

    from pigpen_spark.functions.text import tokens

    if tau < 1 or (tau & (tau - 1)) != 0:
        raise ValueError(
            f"temperature_plan: tau must be a power of two (got {tau}) — "
            "have^(1/tau) is computed as repeated sqrt for IEEE-exact "
            "cross-engine arithmetic")
    spark = df.sparkSession
    have_rows = (
        df.select(_c(source_col).alias("source"),
                  F.size(tokens(F.coalesce(_c(text_col), F.lit(""))))
                  .cast("long").alias("__n"))
        .groupBy("source").agg(F.sum("__n").alias("have_tokens"))
        .collect()  # bounded: one row per source
    )
    have = {r["source"]: int(r["have_tokens"]) for r in have_rows}
    j = tau.bit_length() - 1  # tau = 2^j
    w = {}
    for s in sorted(have):
        x = float(have[s])
        for _ in range(j):
            x = math.sqrt(x)
        w[s] = x
    tot = 0.0
    for s in sorted(w):   # left fold in sorted order — matches list_sum
        tot += w[s]
    out = [(s, have[s], int(w[s] * 1_000_000 / tot) if tot > 0 else 0)
           for s in sorted(have)]
    return spark.createDataFrame(
        out, "source string, have_tokens long, share_ppm long")


def temperature_plan_sql(table: str, source_col: str, text_col: str,
                         tau: int = 2) -> str:
    """DuckDB oracle for :func:`temperature_plan`: the same repeated-
    sqrt weights with the normalizer as a list_sum over sources in
    sorted order (sequential left fold — bit-matches the Python loop)."""
    if tau < 1 or (tau & (tau - 1)) != 0:
        raise ValueError(f"temperature_plan_sql: tau must be a power of two "
                         f"(got {tau})")
    toks = (f"list_filter(string_split(lower(coalesce({text_col}, '')), ' '), "
            "t -> t <> '')")
    j = tau.bit_length() - 1
    wexpr = "have_tokens::DOUBLE"
    for _ in range(j):
        wexpr = f"sqrt({wexpr})"
    return f"""
    WITH have AS (
      SELECT {source_col} AS source, sum(len({toks}))::BIGINT AS have_tokens
      FROM {table} GROUP BY {source_col}
    ),
    w AS (SELECT source, have_tokens, {wexpr} AS wt FROM have),
    tot AS (
      SELECT list_sum(list(wt ORDER BY source)) AS t FROM w
    )
    SELECT source, have_tokens,
           (CASE WHEN tot.t > 0 THEN floor(wt * 1000000 / tot.t)
                 ELSE 0 END)::BIGINT AS share_ppm
    FROM w, tot
    """


def mix_plan_fill(df: DataFrame, source_col: str, text_col: str,
                  targets: Mapping[str, int], budget_tokens: int,
                  max_epochs_ppm: int = 2_000_000) -> DataFrame:
    """Budget-FILLING mixture planning — :func:`mix_plan` reports a
    deficit when a source's epoch cap binds; this variant REASSIGNS that
    unfilled budget to the uncapped sources (proportional to their
    target shares) until the allocation is stable: integer water-filling,
    the step a real data recipe does by hand when "2 epochs of books"
    can't absorb books' planned share.

    Fixpoint (all non-negative integer DIV, hash-exact): capped set C
    starts empty; each round computes the remaining budget
    ``R = B − Σ_{c∈C} cap_c`` and allocates ``R·share_s DIV Σ_{s∉C}
    share`` to each uncapped source, capping every source whose
    allocation reaches ``cap_s = have_s·max_epochs_ppm DIV 1e6``; C
    only grows, so ≤ |targets| rounds converge and extra rounds are
    idempotent.  Targeted-but-missing sources cap at 0; corpus sources
    absent from ``targets`` keep share 0 (take 0, the planned-mix drop
    posture).  Rounding leaves ≤ |sources| tokens unassigned — reported
    in ``take_tokens``, never silently re-added.

    The corpus side is one token-count groupBy (map-side partials); the
    fixpoint runs driver-side on the collected ≤|sources|-row worksheet
    (the bounded-artifact doctrine — planning tables are not
    corpus-sized).  Returns (source, have_tokens, cap_tokens,
    take_tokens, rate_ppm, capped) where ``rate_ppm`` feeds
    :func:`mix_by_weight` / :func:`mix_select` directly."""
    from pigpen_spark.functions.text import tokens

    if budget_tokens < 0:
        raise ValueError(f"mix_plan_fill: negative budget {budget_tokens}")
    if budget_tokens > 9_000_000_000_000:
        raise ValueError(
            f"mix_plan_fill: budget {budget_tokens} > 9e12 tokens — "
            "allocation * 1e6 would overflow int64; plan in shards")
    if max_epochs_ppm < 0:
        raise ValueError(f"mix_plan_fill: negative epoch cap {max_epochs_ppm}")
    if not targets:
        raise ValueError("mix_plan_fill: targets is empty — nothing to fill")
    tot = 0
    for s, ppm in targets.items():
        if ppm < 0:
            raise ValueError(f"mix_plan_fill: negative target share for {s!r}")
        tot += ppm
    if tot > 1_000_000:
        raise ValueError(
            f"mix_plan_fill: target shares sum to {tot} ppm > 1e6 — a "
            "mixture cannot over-allocate the budget")
    spark = df.sparkSession
    have_rows = (
        df.select(_c(source_col).alias("source"),
                  F.size(tokens(F.coalesce(_c(text_col), F.lit(""))))
                  .cast("long").alias("__n"))
        .groupBy("source").agg(F.sum("__n").alias("have_tokens"))
        .collect()  # bounded: one row per source
    )
    have = {r["source"]: int(r["have_tokens"]) for r in have_rows}
    sources = sorted(set(have) | set(targets))
    share = {s: int(targets.get(s, 0)) for s in sources}
    hv = {s: have.get(s, 0) for s in sources}
    cap = {s: hv[s] * int(max_epochs_ppm) // 1_000_000 for s in sources}
    B = int(budget_tokens)

    capped: set = set()
    for _ in range(max(1, len(targets))):
        r_budget = B - sum(cap[c] for c in capped)
        s_share = sum(share[s] for s in sources if s not in capped)
        newly = {s for s in sources if s not in capped
                 and (r_budget * share[s] // s_share if s_share > 0 else 0)
                 >= cap[s]}
        if not newly:
            break
        capped |= newly
    r_budget = B - sum(cap[c] for c in capped)
    s_share = sum(share[s] for s in sources if s not in capped)
    out = []
    for s in sources:
        take = cap[s] if s in capped else (
            r_budget * share[s] // s_share if s_share > 0 else 0)
        rate = take * 1_000_000 // hv[s] if hv[s] > 0 else 0
        out.append((s, hv[s], cap[s], take, rate, s in capped))
    return spark.createDataFrame(
        out, "source string, have_tokens long, cap_tokens long, "
             "take_tokens long, rate_ppm long, capped boolean")


def mix_plan_fill_sql(table: str, source_col: str, text_col: str,
                      targets: Mapping[str, int], budget_tokens: int,
                      max_epochs_ppm: int = 2_000_000) -> str:
    """DuckDB oracle for :func:`mix_plan_fill`: the water-filling
    fixpoint unrolled ``|targets|`` times as chained CTEs (the capped
    set only grows, so that many rounds always converge; extra rounds
    are idempotent) — an INDEPENDENT replica of the driver-side loop,
    window sums over the ≤|sources|-row worksheet per round."""
    toks = (f"list_filter(string_split(lower(coalesce({text_col}, '')), ' '), "
            "t -> t <> '')")
    vals = ", ".join(f"({sql_str(s)}, {int(p)}::BIGINT)"
                     for s, p in sorted(targets.items()))
    B = int(budget_tokens)
    k = max(1, len(targets))
    step = """
    step{i} AS (
      SELECT source, have_tokens, cap_tokens, share,
             capped OR (share > 0 OR cap_tokens = 0) AND
             (CASE WHEN sum(CASE WHEN NOT capped THEN share ELSE 0 END) OVER () > 0
                   THEN ({B} - sum(CASE WHEN capped THEN cap_tokens ELSE 0 END) OVER ())
                        * share
                        // sum(CASE WHEN NOT capped THEN share ELSE 0 END) OVER ()
                   ELSE 0 END) >= cap_tokens AS capped
      FROM step{j}
    )"""
    steps = ",".join(
        step.format(i=i + 1, j=i, B=B) for i in range(k))
    return f"""
    WITH have AS (
      SELECT {source_col} AS source, sum(len({toks}))::BIGINT AS have_tokens
      FROM {table} GROUP BY {source_col}
    ),
    tgt (source, share) AS (VALUES {vals}),
    step0 AS (
      SELECT coalesce(h.source, t.source) AS source,
             coalesce(h.have_tokens, 0)::BIGINT AS have_tokens,
             (coalesce(h.have_tokens, 0) * {int(max_epochs_ppm)} // 1000000)::BIGINT
               AS cap_tokens,
             coalesce(t.share, 0)::BIGINT AS share,
             false AS capped
      FROM have h FULL OUTER JOIN tgt t ON h.source = t.source
    ),
    {steps},
    final AS (
      SELECT *,
             sum(CASE WHEN capped THEN cap_tokens ELSE 0 END) OVER () AS cap_sum,
             sum(CASE WHEN NOT capped THEN share ELSE 0 END) OVER () AS share_sum
      FROM step{k}
    )
    SELECT source, have_tokens, cap_tokens,
           (CASE WHEN capped THEN cap_tokens
                 WHEN share_sum > 0 THEN ({B} - cap_sum) * share // share_sum
                 ELSE 0 END)::BIGINT AS take_tokens,
           (CASE WHEN have_tokens > 0 THEN
              (CASE WHEN capped THEN cap_tokens
                    WHEN share_sum > 0 THEN ({B} - cap_sum) * share // share_sum
                    ELSE 0 END) * 1000000 // have_tokens
              ELSE 0 END)::BIGINT AS rate_ppm,
           capped
    FROM final
    """


def mix_select(df: DataFrame, source_col: str, text_col: str, id_col: str,
               targets: Mapping[str, int], budget_tokens: int,
               max_epochs_ppm: int = 2_000_000, chunk_budget: int = 512,
               salt: str = "mix") -> DataFrame:
    """END-TO-END mixture selection — :func:`mix_plan`'s worksheet wired
    straight into the data path: the plan's integer-ppm rates drive
    deterministic :func:`mix_by_weight`-style fractional sampling, the
    sampled copies are budget-cut by a two-phase global token cumsum
    (:func:`pigpen_spark.operators.windows.take_budget`), and chunk ids
    fall out of the SAME cumsum (``chunk_id = exclusive-cum DIV
    chunk_budget`` — the :func:`pack_chunks` layout with no extra
    window).  One pipeline, one plan: plan → sample → cut → pack.

    The rates JOIN the corpus as a broadcast ≤|sources|-row table — no
    driver collect of the plan, so the composition is exactly what a
    100 TB selection run executes.  Sources absent from ``targets``
    rate 0 and vanish in the copy explode (an explicit drop); the
    selection order is the total (source, id, copy) — swap in a quality
    key upstream if the recipe ranks within the budget.

    Returns (source, ``id_col``, copy, n_tokens, cum_tokens, chunk_id)
    for the selected copies."""
    if chunk_budget < 1:
        raise ValueError(
            f"mix_select: chunk_budget must be >= 1, got {chunk_budget}")
    from pigpen_spark.operators.windows import take_budget

    plan = mix_plan(df, source_col, text_col, targets, budget_tokens,
                    max_epochs_ppm)
    rates = plan.select("source", "rate_ppm")
    from pigpen_spark.functions.text import tokens
    base = df.select(
        _c(source_col).alias("source"),
        _c(id_col).alias(id_col),
        F.size(tokens(F.coalesce(_c(text_col), F.lit(""))))
        .cast("long").alias("n_tokens"),
    ).join(F.broadcast(rates), on="source")
    nf = F.expr("CAST(rate_ppm DIV 1000000 AS INT)")
    frac = (F.col("rate_ppm") % 1_000_000) / F.lit(1_000_000.0)
    u = hash_unit(F.col(id_col), salt)
    sampled = base.withColumn(
        "copy",
        F.explode(F.filter(F.sequence(F.lit(0), nf),
                           lambda c: (c < nf) | (u < frac))),
    ).select("source", id_col, "copy", "n_tokens")
    cut = take_budget(
        sampled, [F.col("source"), F.col(id_col), F.col("copy")],
        "n_tokens", budget=budget_tokens, cum_col="cum_tokens")
    return cut.select(
        "source", id_col, "copy", "n_tokens", "cum_tokens",
        F.expr(f"(cum_tokens - n_tokens) DIV {int(chunk_budget)}")
        .cast("long").alias("chunk_id"),
    )


def mix_select_sql(table: str, source_col: str, text_col: str, id_col: str,
                   targets: Mapping[str, int], budget_tokens: int,
                   max_epochs_ppm: int = 2_000_000, chunk_budget: int = 512,
                   salt: str = "mix") -> str:
    """DuckDB oracle for :func:`mix_select` — the full plan → sample →
    cut → pack composition as chained CTEs (plan arithmetic identical
    to :func:`mix_plan_sql`; sampling identical to
    :func:`mix_by_weight_sql` with rates read from the plan; the
    single-partition ordered cumsum is exactly what the Spark side's
    two-phase form avoids)."""
    toks = (f"list_filter(string_split(lower(coalesce({text_col}, '')), ' '), "
            "t -> t <> '')")
    vals = ", ".join(f"({sql_str(s)}, {int(p)}::BIGINT)"
                     for s, p in sorted(targets.items()))
    u = hash_unit_sql(id_col, salt)
    return f"""
    WITH have AS (
      SELECT {source_col} AS source, sum(len({toks}))::BIGINT AS have_tokens
      FROM {table} GROUP BY {source_col}
    ),
    tgt (source, share_ppm) AS (VALUES {vals}),
    plan AS (
      SELECT coalesce(h.source, t.source) AS source,
             coalesce(h.have_tokens, 0)::BIGINT AS have_tokens,
             (coalesce(t.share_ppm, 0) * {int(budget_tokens)} // 1000000)::BIGINT
               AS want_tokens
      FROM have h FULL OUTER JOIN tgt t ON h.source = t.source
    ),
    rates AS (
      SELECT source,
             (CASE WHEN have_tokens > 0
                   THEN least({int(max_epochs_ppm)}::BIGINT,
                              want_tokens * 1000000 // have_tokens)
                   ELSE 0 END)::BIGINT AS rate_ppm
      FROM plan
    ),
    base AS (
      SELECT d.{source_col} AS source, d.{id_col} AS {id_col},
             len({toks})::BIGINT AS n_tokens, r.rate_ppm
      FROM {table} d JOIN rates r ON d.{source_col} = r.source
    ),
    copies AS (
      SELECT source, {id_col}, n_tokens,
             unnest([c for c in range(0, (rate_ppm // 1000000)::INT + 1)
                     if c < rate_ppm // 1000000
                        or {u} < (rate_ppm % 1000000) / 1000000.0]) AS copy
      FROM base
    ),
    cum AS (
      SELECT source, {id_col}, copy, n_tokens,
             sum(n_tokens) OVER (
               ORDER BY source, {id_col}, copy
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )::BIGINT AS cum_tokens
      FROM copies
    )
    SELECT source, {id_col}, copy::BIGINT AS copy, n_tokens, cum_tokens,
           ((cum_tokens - n_tokens) // {int(chunk_budget)})::BIGINT AS chunk_id
    FROM cum WHERE cum_tokens - n_tokens < {int(budget_tokens)}
    """


def pack_chunks(df: DataFrame, size_col, order_by: Sequence, budget: int,
                partition_by: Sequence = (), chunk_col: str = "chunk_id") -> DataFrame:
    """Concat-and-chunk sequence packing: rows are laid out in
    ``order_by`` order and cut into chunks of ``budget`` size units —
    chunk id = floor(exclusive-cumulative-size / budget), the standard
    pack-then-split layout LLM training uses (documents straddle chunk
    boundaries; the budget governs where cuts land).

    One window computation; ``partition_by`` shards it (chunk ids are
    per-shard).  At scale ALWAYS pass a shard key — an unpartitioned
    window is a single-reducer funnel."""
    if budget <= 0:  # ANSI mode would raise DIVIDE_BY_ZERO mid-job for 0
        raise ValueError(f"pack_chunks: budget must be positive, got {budget}")
    w = Window.orderBy(*[_c(c) for c in order_by])
    if partition_by:
        w = Window.partitionBy(*[_c(c) for c in partition_by]).orderBy(*[_c(c) for c in order_by])
    cum_excl = F.coalesce(
        F.sum(_c(size_col)).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    return df.withColumn(chunk_col, F.floor(cum_excl / F.lit(budget)).cast("long"))


def pack_greedy(df: DataFrame, size_col: str, order_by: Sequence[str],
                capacity: int, partition_by: Sequence[str],
                chunk_col: str = "chunk_id") -> DataFrame:
    """Greedy NO-SPLIT sequence packing ("sample packing"): walk rows in
    ``order_by`` order within each shard and open a new chunk whenever
    the next document would overflow ``capacity`` — documents NEVER
    straddle chunk boundaries, the layout SFT/eval pipelines use when a
    truncated document is a corrupted example (:func:`pack_chunks` is
    the split-at-boundary sibling for pretraining, where straddling is
    fine and chunks are exactly full).  A document larger than
    ``capacity`` gets a chunk of its own (loud in the fill, never
    dropped, never split).

    The walk is sequential BY NATURE (each decision depends on the
    running fill, which cumsum cannot express through resets), so it
    runs as one Arrow pass per shard (applyInPandas) — which is why
    ``partition_by`` is REQUIRED: the shard key bounds the sequential
    span exactly like tokenize_pack's sharded layout; chunk ids are
    per-shard.  ``order_by`` must be a total order within the shard
    (add a unique id tiebreak) for determinism.

    Returns the input columns + ``chunk_col`` (0-based per shard)."""
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"pack_greedy: capacity must be >= 1, got {capacity}")
    if not partition_by:
        raise ValueError(
            "pack_greedy: partition_by is required — the greedy walk is "
            "sequential per shard; an unsharded walk is one task at any "
            "corpus size")
    if not order_by:
        raise ValueError("pack_greedy: order_by must be a total order "
                         "within the shard")
    order_names = [str(c) for c in order_by]
    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType: .add() MUTATES (and returns) the df's cached
    # schema object, which would poison df.columns with the new field
    out_schema = StructType(
        list(df.schema.fields) + [StructField(chunk_col, LongType())])
    cap = int(capacity)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_names, kind="mergesort").reset_index(drop=True)
        chunks = []
        chunk, fill = -1, cap + 1  # first row ALWAYS opens chunk 0 (even size 0)
        for sz in pdf[size_col]:
            s = int(sz)
            if fill + s > cap:
                chunk += 1
                fill = s
            else:
                fill += s
            chunks.append(chunk)
        pdf[chunk_col] = pd.Series(chunks, dtype="int64")
        return pdf

    return df.groupBy(*[_c(c) for c in partition_by]).applyInPandas(
        walk, schema=out_schema)


def pack_greedy_sql(table: str, size_expr: str, id_col: str,
                    shard_col: str, capacity: int) -> str:
    """DuckDB oracle for :func:`pack_greedy` (order = (``id_col``)
    within ``shard_col``): the same greedy walk as a recursive CTE —
    one recursion step per row rank, shards advanced in lockstep."""
    return f"""
    WITH RECURSIVE ordered AS (
      SELECT {shard_col} AS shard, {id_col} AS id, {size_expr}::BIGINT AS sz,
             row_number() OVER (PARTITION BY {shard_col} ORDER BY {id_col}) AS rn
      FROM {table}
    ),
    walk (shard, id, sz, rn, fill, chunk) AS (
      SELECT shard, id, sz, rn, sz, 0 FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.id, o.sz, o.rn,
             CASE WHEN w.fill + o.sz > {int(capacity)} THEN o.sz
                  ELSE w.fill + o.sz END,
             CASE WHEN w.fill + o.sz > {int(capacity)} THEN w.chunk + 1
                  ELSE w.chunk END
      FROM walk w JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1
    )
    SELECT shard AS {shard_col}, id AS {id_col}, sz AS n_tokens,
           chunk::BIGINT AS chunk_id
    FROM walk
    """


def pack_ffd(df: DataFrame, size_col: str, capacity: int,
             partition_by: Sequence[str], id_col: str = None,
             chunk_col: str = "chunk_id") -> DataFrame:
    """First-Fit-Decreasing NO-SPLIT bin packing: within each shard,
    documents are walked in (size DESC, id) order and each is placed in
    the FIRST already-open chunk it fits, opening a new chunk only when
    none fits — the classic FFD heuristic (≤ 11/9·OPT + 1 bins), which
    wastes markedly less capacity than :func:`pack_greedy`'s
    sequential walk when sizes vary (greedy closes a chunk the moment
    one doc overflows; FFD back-fills small docs into earlier gaps).
    Use it when chunk COUNT (padding waste) matters more than
    preserving an input order — SFT batch layout, eval sharding;
    :func:`pack_greedy` is the order-preserving sibling.  An oversize
    doc (> ``capacity``) opens a chunk of its own, never dropped.

    Like every no-split pack the walk is sequential per shard (each
    placement depends on all open-chunk fills), so it runs as one Arrow
    pass per shard — ``partition_by`` is REQUIRED and bounds both the
    walk length and the open-chunk list (O(rows·chunks) worst case per
    shard; shard so chunks stay ≤ ~10⁴).  ``id_col`` (default: first
    ``partition_by``-excluded tiebreak needed → required) makes the
    size-DESC order total, hence deterministic.

    Returns the input columns + ``chunk_col`` (0-based per shard, in
    chunk-open order)."""
    import pandas as pd

    if capacity < 1:
        raise ValueError(f"pack_ffd: capacity must be >= 1, got {capacity}")
    if not partition_by:
        raise ValueError(
            "pack_ffd: partition_by is required — the first-fit walk is "
            "sequential per shard; an unsharded walk is one task at any "
            "corpus size")
    if not id_col:
        raise ValueError("pack_ffd: id_col is required — the size-DESC "
                         "order needs a unique tiebreak for determinism")
    from pyspark.sql.types import LongType, StructField, StructType

    # fresh StructType: .add() MUTATES the df's cached schema object
    out_schema = StructType(
        list(df.schema.fields) + [StructField(chunk_col, LongType())])
    cap = int(capacity)

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([size_col, id_col], ascending=[False, True],
                              kind="mergesort").reset_index(drop=True)
        n = len(pdf)
        # leftmost-fit via a max-segment-tree over REMAINING capacities:
        # the naive open-bin scan is O(rows·bins) per shard — measurably
        # quadratic by 10× corpus (4.6× time at 10× data) — the tree
        # keeps exact FFD semantics at O(rows·log bins)
        size = 1
        while size < max(n, 1):
            size *= 2
        # -1 marks unusable slots (unopened, or oversize bins whose
        # remaining is negative): a size-0 doc must NOT land in either
        # (load + 0 <= cap is false for an oversize bin), and s >= 0
        # never matches -1
        tree = [-1] * (2 * size)  # max remaining capacity per segment
        chunks = []
        n_bins = 0

        def update(i: int, val: int) -> None:
            i += size
            tree[i] = val
            i //= 2
            while i:
                tree[i] = tree[2 * i] if tree[2 * i] >= tree[2 * i + 1] \
                    else tree[2 * i + 1]
                i //= 2

        for sz in pdf[size_col]:
            s = int(sz)
            if n_bins and tree[1] >= s:
                i = 1            # descend to the LEFTMOST bin with room
                while i < size:
                    i = 2 * i if tree[2 * i] >= s else 2 * i + 1
                placed = i - size
                update(placed, tree[i] - s)
            else:
                placed = n_bins
                n_bins += 1
                update(placed, cap - s)  # negative for oversize: stays closed
            chunks.append(placed)
        pdf[chunk_col] = pd.Series(chunks, dtype="int64")
        return pdf

    return df.groupBy(*[_c(c) for c in partition_by]).applyInPandas(
        walk, schema=out_schema)


def pack_ffd_sql(table: str, size_expr: str, id_col: str,
                 shard_col: str, capacity: int) -> str:
    """DuckDB oracle for :func:`pack_ffd`: the identical first-fit-
    decreasing walk as a recursive CTE whose state is the LIST of open-
    chunk fills — ``list_position(list_transform(loads, x -> x+sz<=cap),
    true)`` finds the first fit (0 = none in DuckDB), and the list is
    spliced in place.  Shards advance in lockstep, one step per rank."""
    cap = int(capacity)
    return f"""
    WITH RECURSIVE ordered AS (
      SELECT {shard_col} AS shard, {id_col} AS id, {size_expr}::BIGINT AS sz,
             row_number() OVER (PARTITION BY {shard_col}
                                ORDER BY {size_expr}::BIGINT DESC, {id_col}) AS rn
      FROM {table}
    ),
    walk (shard, id, sz, rn, loads, chunk) AS (
      SELECT shard, id, sz, rn, [sz], 0::BIGINT FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.shard, o.id, o.sz, o.rn,
             CASE WHEN fit.idx = 0 THEN list_append(w.loads, o.sz)
                  ELSE list_slice(w.loads, 1, fit.idx - 1)
                       || [w.loads[fit.idx] + o.sz]
                       || list_slice(w.loads, fit.idx + 1, len(w.loads)) END,
             CASE WHEN fit.idx = 0 THEN len(w.loads)::BIGINT
                  ELSE (fit.idx - 1)::BIGINT END
      FROM walk w
      JOIN ordered o ON o.shard = w.shard AND o.rn = w.rn + 1
      CROSS JOIN LATERAL (SELECT list_position(
          list_transform(w.loads, x -> x + o.sz <= {cap}), true) AS idx) fit
    )
    SELECT shard AS {shard_col}, id AS {id_col}, sz AS n_tokens,
           chunk AS chunk_id
    FROM walk
    """


def blend_by_weight(df: DataFrame, source_col: str, id_col: str,
                    weights_ppm: Mapping[str, int], salt: str = "epoch0",
                    pos_col: str = "blend_pos") -> DataFrame:
    """Deterministic source-BLENDED epoch ordering — the data-loader
    interleave schedule (Dolma/Megatron-style blend): each source's
    rows are laid out on a virtual timeline at intervals inversely
    proportional to its weight, so reading in ``pos_col`` order yields
    sources interleaved at their target ratios from the very first
    batch (a plain concat front-loads one source; a random shuffle only
    hits the ratio in expectation — this hits it by construction,
    deficit-round-robin style).

    Integer-exact: per-source rank r (salted-hash order within the
    source — a new ``salt`` is a fresh epoch permutation) maps to
    virtual time ``vt = (r+1)·1e6 DIV weight_ppm``; the global order is
    (vt, source, r) — hash-exact in any SQL engine, no floats.
    Sources absent from ``weights_ppm`` are DROPPED (the mix_by_weight
    ``default=0`` posture for planned mixes); weights must be positive.

    Scale: the per-source rank is a natively-partitioned window (one
    shuffle on source); the global position is the two-phase
    :func:`pigpen_spark.operators.windows.ranked` — never a
    one-partition window.  Returns the input columns +
    (``src_rank``, ``vt``, ``pos_col``)."""
    from pigpen_spark.operators.windows import ranked

    if not weights_ppm:
        raise ValueError("blend_by_weight: weights_ppm is empty")
    for s, w in weights_ppm.items():
        if w <= 0:
            raise ValueError(
                f"blend_by_weight: weight for {s!r} must be positive ppm, "
                f"got {w} (drop sources by omitting them)")
    spark = df.sparkSession
    wdf = F.broadcast(spark.createDataFrame(
        [(s, int(w)) for s, w in sorted(weights_ppm.items())],
        f"{source_col} string, __w_ppm long"))
    h = F.md5(F.concat(_c(id_col).cast("string"), F.lit("|" + salt)))
    tagged = (
        df.join(wdf, on=source_col)   # inner: unplanned sources drop
        .withColumn("__bh", h)
    )
    tagged = ranked(tagged, order_by=[F.col("__bh"), _c(id_col)],
                    index_col="src_rank", partition_by=[source_col])
    vt = F.expr("(src_rank + 1) * 1000000 DIV __w_ppm").cast("long")
    tagged = tagged.withColumn("vt", vt).drop("__bh", "__w_ppm")
    return ranked(tagged,
                  order_by=[F.col("vt"), _c(source_col), F.col("src_rank")],
                  index_col=pos_col)


def blend_by_weight_sql(table: str, source_col: str, id_col: str,
                        weights_ppm: Mapping[str, int],
                        salt: str = "epoch0") -> str:
    """DuckDB oracle for :func:`blend_by_weight` (single-window replica
    of the two-phase ranks — same integer virtual-time arithmetic)."""
    vals = ", ".join(f"({sql_str(s)}, {int(w)}::BIGINT)"
                     for s, w in sorted(weights_ppm.items()))
    return f"""
    WITH w (src, w_ppm) AS (VALUES {vals}),
    ranked AS (
      SELECT d.*, w.w_ppm,
             (row_number() OVER (
                PARTITION BY d.{source_col}
                ORDER BY md5(d.{id_col}::VARCHAR || {sql_str('|' + salt)}),
                         d.{id_col}) - 1)::BIGINT AS src_rank
      FROM {table} d JOIN w ON d.{source_col} = w.src
    ),
    vts AS (
      SELECT *, ((src_rank + 1) * 1000000 // w_ppm)::BIGINT AS vt FROM ranked
    )
    SELECT {source_col}, {id_col}, src_rank, vt,
           (row_number() OVER (ORDER BY vt, {source_col}, src_rank) - 1)::BIGINT
             AS blend_pos
    FROM vts
    """


def curriculum_blend(df: DataFrame, id_col: str, difficulty_col,
                     n_stages: int = 4, salt: str = "epoch0",
                     pos_col: str = "curr_pos") -> DataFrame:
    """Difficulty-PACED curriculum ordering (competence-based curriculum,
    Platanios et al. 2019 made deterministic): the corpus is split into
    ``n_stages`` equal difficulty buckets (bucket 0 = easiest) and laid
    out in staged epochs so that

    - stage 0 is PURE bucket 0 (training opens on the easiest slice),
    - a bucket-``b`` row never appears before stage ``b`` (the
      competence ramp — hard material unlocks late), and
    - within a stage every unlocked bucket interleaves evenly (no
      distribution cliff at stage boundaries — bucket ``b``'s rows land
      on an even integer virtual-time grid across the stage).

    Construction (all integer DIV arithmetic — hash-exact in any SQL
    engine): global difficulty rank → bucket ``drank·K DIV N``;
    bucket ``b``'s salted in-bucket rank ``r`` goes to stage
    ``b + r·(K−b) DIV N_b`` (even spread over the stages where it is
    unlocked); within (stage, bucket) the ``q``-th row gets virtual
    time ``(q+1)·1e6 DIV M_sb``; the global order is
    (stage, vt, bucket, q).  A new ``salt`` reshuffles within buckets
    (a fresh epoch) without moving the difficulty pacing.

    Scale: the global difficulty rank and final position use the
    two-phase :func:`~pigpen_spark.operators.windows.ranked` (never a
    one-partition window); per-bucket/per-stage ranks and counts are
    natively-partitioned windows; N is one ``count()`` scalar (the
    1-row-broadcast-total doctrine).  Returns the input columns +
    (``bucket``, ``stage``, ``vt``, ``pos_col``)."""
    from pigpen_spark.operators.windows import ranked

    if n_stages < 1:
        raise ValueError(f"curriculum_blend: n_stages must be >= 1, got {n_stages}")
    K = int(n_stages)
    n = df.count()  # bounded: one scalar; injected as a literal below
    if n == 0:  # ANSI DIV by zero would throw mid-plan
        from pyspark.sql.types import LongType, StructField, StructType
        empty_schema = StructType(
            list(df.schema.fields)
            + [StructField(c, LongType()) for c in ("bucket", "stage", "vt", pos_col)])
        return df.sparkSession.createDataFrame([], empty_schema)

    ranked_diff = ranked(df, order_by=[_c(difficulty_col), _c(id_col)],
                         index_col="__drank")
    bucketed = ranked_diff.withColumn(
        "bucket", F.expr(f"__drank * {K} DIV {n}").cast("long")).drop("__drank")

    h = F.md5(F.concat(_c(id_col).cast("string"), F.lit("|" + salt)))
    wb = Window.partitionBy("bucket").orderBy(h, _c(id_col))
    # ranks cast to LONG at creation: row_number() is INT, and the ANSI
    # products below ((q+1)·1e6, rb·(K−b)) overflow INT32 the moment a
    # cell passes ~2k rows — caught by the 10× scale run, invisible at
    # oracle SF
    staged = (
        bucketed
        .withColumn("__rb", (F.row_number().over(wb) - F.lit(1)).cast("long"))
        .withColumn("__nb", F.count(F.lit(1)).over(Window.partitionBy("bucket")))
        .withColumn("stage",
                    F.expr(f"bucket + __rb * ({K} - bucket) DIV __nb").cast("long"))
    )
    wsb = Window.partitionBy("stage", "bucket").orderBy(F.col("__rb"))
    timed = (
        staged
        .withColumn("__q", (F.row_number().over(wsb) - F.lit(1)).cast("long"))
        .withColumn("__msb",
                    F.count(F.lit(1)).over(Window.partitionBy("stage", "bucket")))
        .withColumn("vt", F.expr("(__q + 1) * 1000000 DIV __msb").cast("long"))
    )
    out = ranked(timed,
                 order_by=[F.col("stage"), F.col("vt"), F.col("bucket"),
                           F.col("__q")],
                 index_col=pos_col)
    return out.drop("__rb", "__nb", "__q", "__msb")


def curriculum_blend_sql(table: str, id_col: str, difficulty_expr: str,
                         n_stages: int = 4, salt: str = "epoch0") -> str:
    """DuckDB oracle for :func:`curriculum_blend` — the same integer
    staging arithmetic with single-window replicas of the two-phase
    ranks."""
    K = int(n_stages)
    s = sql_str("|" + salt)
    return f"""
    WITH diff AS (
      SELECT {id_col} AS id, {difficulty_expr}::BIGINT AS difficulty,
             (row_number() OVER (ORDER BY {difficulty_expr}::BIGINT, {id_col}) - 1)::BIGINT AS drank,
             count(*) OVER ()::BIGINT AS n
      FROM {table}
    ),
    bucketed AS (
      SELECT id, difficulty, (drank * {K} // n)::BIGINT AS bucket FROM diff
    ),
    staged AS (
      SELECT *, (row_number() OVER (
               PARTITION BY bucket
               ORDER BY md5(id::VARCHAR || {s}), id) - 1)::BIGINT AS rb,
             count(*) OVER (PARTITION BY bucket)::BIGINT AS nb
      FROM bucketed
    ),
    st2 AS (
      SELECT id, difficulty, bucket,
             (bucket + rb * ({K} - bucket) // nb)::BIGINT AS stage
      FROM staged
    ),
    timed AS (
      SELECT *, (row_number() OVER (
               PARTITION BY stage, bucket
               ORDER BY md5(id::VARCHAR || {s}), id) - 1)::BIGINT AS q,
             count(*) OVER (PARTITION BY stage, bucket)::BIGINT AS msb
      FROM st2
    )
    SELECT id AS {id_col}, difficulty, bucket, stage,
           ((q + 1) * 1000000 // msb)::BIGINT AS vt,
           (row_number() OVER (
              ORDER BY stage, (q + 1) * 1000000 // msb, bucket, q) - 1)::BIGINT
             AS curr_pos
    FROM timed
    """


def shuffle_deterministic(df: DataFrame, id_col: str, salt: str = "epoch0",
                          pos_col: str | None = None) -> DataFrame:
    """Reproducible corpus shuffle: total order by md5(id || salt) with id
    tie-break.  Spark range-partitions the sort (no single reducer); a new
    salt is a fresh epoch permutation, the same salt replays the exact
    order.  ``pos_col`` additionally materializes the 0-based position
    (scale-safe two-phase rank via windows.ranked)."""
    h = F.md5(F.concat(_c(id_col).cast("string"), F.lit("|" + salt)))
    if pos_col is None:
        return df.orderBy(h, _c(id_col))
    from pigpen_spark.operators.windows import ranked

    tagged = df.withColumn("__sh", h)
    out = ranked(tagged, order_by=[F.col("__sh"), _c(id_col)], index_col=pos_col)
    return out.drop("__sh")


def sample_per_group(df: DataFrame, strata_col, id_col, k: int,
                     salt: str = "persample", rank_col: str | None = None) -> DataFrame:
    """Deterministic k-per-stratum sample: within each stratum keep the
    ``k`` rows with the smallest salted id-hash (a reproducible
    "random" k, unlike :func:`stratified_sample_by_hash`'s rate filter —
    use this when each group needs an exact COUNT, e.g. per-language
    caps or per-source eval slices).

    Scale shape: rank ≤ k over a window is rewritten by Spark's
    WindowGroupLimit rule into a map-side partial top-k per task BEFORE
    the shuffle — so a billion-row stratum moves only ~k rows per task,
    not the whole group, and a handful of huge strata don't funnel into
    single reducers.  Determinism: the order key is md5(id || salt) with
    an id tie-break; same salt → byte-identical sample across reruns and
    engines.
    """
    if k <= 0:
        raise ValueError(f"sample_per_group: k must be positive, got {k}")
    w = Window.partitionBy(_c(strata_col)).orderBy(
        F.md5(F.concat(_c(id_col).cast("string"), F.lit("|" + salt))), _c(id_col)
    )
    rn = F.row_number().over(w)
    if rank_col is not None:
        return df.withColumn(rank_col, rn.cast("long")).filter(F.col(rank_col) <= k)
    tmp = "__pp_rn"
    return df.withColumn(tmp, rn).filter(F.col(tmp) <= k).drop(tmp)


def weighted_sample_per_group(df: DataFrame, strata_col, id_col, weight_ppm,
                              k: int, salt: str = "wsample") -> DataFrame:
    """Deterministic WEIGHT-BIASED k-per-stratum sample — the curation
    stage between uniform caps (:func:`sample_per_group`) and hard
    quality pruning (prune_by_quantile): keep exactly ``k`` rows per
    stratum with inclusion odds scaling with a per-row weight (quality
    score, dedup-cluster size, source trust).

    Discretized priority sampling (the integer form of the
    Efraimidis-Spirakis u^(1/w) trick, which needs transcendentals both
    engines would round differently): priority = u · 10⁶ DIV w where u
    is the salted 32-bit id-hash and w the integer-ppm weight — doubling
    w halves a row's priority, pushing it into the kept bottom-k;
    ordering is all-integer so the DuckDB oracle is hash-exact.  Rows
    with w ≤ 0 can never be sampled and are filtered up front (also what
    keeps ANSI division happy).

    Scale shape: identical to sample_per_group — the rank-≤-k window is
    rewritten to WindowGroupLimit (map-side partial top-k before the
    shuffle), so billion-row strata move ~k rows per task.  Determinism:
    (id, salt) fully decide u; same salt → byte-identical sample across
    reruns, partitionings, and engines."""
    if k <= 0:
        raise ValueError(f"weighted_sample_per_group: k must be positive, got {k}")
    u = F.conv(
        F.substring(F.md5(F.concat(_c(id_col).cast("string"), F.lit("|" + salt))), 1, 8),
        16, 10,
    ).cast("bigint")
    tmp_u, tmp_w, tmp_p, tmp_r = "__pp_u", "__pp_w", "__pp_pri", "__pp_rn"
    based = (
        df.withColumn(tmp_w, _c(weight_ppm).cast("bigint"))
        .filter(F.col(tmp_w) > 0)
        .withColumn(tmp_u, u)
        .withColumn(tmp_p, F.expr(f"({tmp_u} * 1000000) DIV {tmp_w}"))
    )
    w = Window.partitionBy(_c(strata_col)).orderBy(F.col(tmp_p), _c(id_col))
    return (
        based.withColumn(tmp_r, F.row_number().over(w))
        .filter(F.col(tmp_r) <= k)
        .drop(tmp_u, tmp_w, tmp_p, tmp_r)
    )


def weighted_sample_per_group_sql(table: str, strata_col: str, id_col: str,
                                  weight_ppm_sql: str, k: int,
                                  salt: str = "wsample") -> str:
    """DuckDB oracle for :func:`weighted_sample_per_group` (same integer
    priority; BIGINT throughout per the big-int rule)."""
    return f"""
    SELECT * EXCLUDE (__w, __pri, __rn) FROM (
      SELECT *, row_number() OVER (
        PARTITION BY {strata_col} ORDER BY __pri, {id_col}
      ) AS __rn FROM (
        SELECT *, (('0x' || substring(md5({id_col}::VARCHAR || '|{salt}'), 1, 8))::BIGINT
                   * 1000000 // __w)::BIGINT AS __pri
        FROM (SELECT *, ({weight_ppm_sql})::BIGINT AS __w FROM {table})
        WHERE __w > 0
      )
    ) WHERE __rn <= {k}
    """


def token_chunks(col, chunk: int) -> Column:
    """Consecutive ``chunk``-token blocks of a document, each re-joined
    with single spaces; the trailing partial block is kept.  The span
    unit for :func:`dedup_spans` — the fixed-width analog of the
    line/paragraph split C4-style pipelines use (this corpus has no
    newlines, so the chunk width is the configurable unit).

    Token array is let-bound (text._let) so tokenization runs once per
    row, not once per chunk."""
    from pigpen_spark.functions.text import _let, tokens

    if chunk <= 0:
        raise ValueError(f"token_chunks: chunk must be positive, got {chunk}")
    return _let(tokens(col), lambda toks: F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.ceil(F.size(toks) / F.lit(float(chunk))).cast("int") - 1,
            ),
            lambda i: F.array_join(F.slice(toks, i * chunk + 1, chunk), " "),
        ),
    ).otherwise(F.array().cast("array<string>")))


def token_chunks_sql(col: str, chunk: int) -> str:
    """DuckDB equivalent of :func:`token_chunks`."""
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    return f"""
      CASE WHEN len({toks}) > 0
           THEN [array_to_string(({toks})[(i * {chunk}) + 1 : (i + 1) * {chunk}], ' ')
                 for i in range(0, cast(ceil(len({toks}) / {float(chunk)}) as int))]
           ELSE []::VARCHAR[] END
    """


def dedup_spans(df: DataFrame, id_col: str, text_col: str, chunk: int = 3,
                out_col: str = "clean_text") -> DataFrame:
    """Corpus-level exact span dedup with document reassembly (the
    C4/RefinedWeb "drop duplicate lines/paragraphs across the corpus,
    keep the first occurrence" gate, on fixed token chunks).

    Every document is split into ``chunk``-token spans; a span that
    appears at multiple (doc, position) sites survives only at its
    GLOBAL first occurrence — min (id, pos) — and is removed everywhere
    else; each document is then reassembled from its surviving spans in
    original order.  Docs whose every span was dropped come back with an
    empty string (they remain governable rows, mirroring the reference's
    empty-relation semantics, pigpen-core filter handling).

    Plan shape at 100 TB: explode is linear; the winner is a
    groupBy(span).min(struct(id, pos)) — partial map-side min, so a
    boilerplate span duplicated 10^9 times combines to one row per map
    task BEFORE the shuffle (a row_number window over the span key would
    funnel exactly those mega-dup keys through single reducers — the
    skew-safe agg+join form is deliberate).  Reassembly is one
    groupBy(id) collect+sort, bounded by document length.
    """
    src = df.select(_c(id_col).alias("__id"),
                    token_chunks(_c(text_col), chunk).alias("__chunks"))
    ex = src.select("__id", F.posexplode("__chunks").alias("__pos", "__chunk"))
    winners = (
        ex.groupBy("__chunk")
        .agg(F.min(F.struct("__id", "__pos")).alias("__w"))
        .select("__chunk", F.col("__w.__id").alias("__wid"),
                F.col("__w.__pos").alias("__wpos"))
    )
    keep = (
        ex.join(winners, on="__chunk")
        .filter((F.col("__id") == F.col("__wid")) & (F.col("__pos") == F.col("__wpos")))
    )
    re = keep.groupBy("__id").agg(
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("__pos", "__chunk"))),
                        lambda s: s["__chunk"]),
            " ",
        ).alias("__clean"),
        F.count(F.lit(1)).alias("__kept"),
    )
    base = src.select("__id", F.size("__chunks").alias("__total"))
    return (
        base.join(re, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("__clean"), F.lit("")).alias(out_col),
            (F.col("__total") - F.coalesce(F.col("__kept"), F.lit(0)))
            .cast("long").alias("n_dropped"),
        )
    )


def dedup_spans_sql(table: str, id_col: str, text_col: str, chunk: int = 3,
                    out_col: str = "clean_text") -> str:
    """DuckDB oracle for :func:`dedup_spans` (row_number form — the oracle
    runs at sf0.01, where reducer skew is irrelevant)."""
    return f"""
    WITH ch AS (
      SELECT {id_col} AS id,
             generate_subscripts(chunks, 1) - 1 AS pos,
             unnest(chunks) AS chunk
      FROM (SELECT {id_col}, {token_chunks_sql(text_col, chunk)} AS chunks
            FROM {table})
    ),
    keep AS (
      SELECT id, pos, chunk FROM (
        SELECT *, row_number() OVER (PARTITION BY chunk ORDER BY id, pos) AS rn
        FROM ch
      ) WHERE rn = 1
    ),
    re AS (
      SELECT id, string_agg(chunk, ' ' ORDER BY pos) AS clean, count(*) AS kept
      FROM keep GROUP BY id
    ),
    tot AS (
      SELECT {id_col} AS id, len({token_chunks_sql(text_col, chunk)}) AS total
      FROM {table}
    )
    SELECT t.id AS {id_col}, coalesce(re.clean, '') AS {out_col},
           (t.total - coalesce(re.kept, 0))::BIGINT AS n_dropped
    FROM tot t LEFT JOIN re USING (id)
    """


def dedup_substrings(df: DataFrame, id_col: str, text_col: str, n: int = 4,
                     out_col: str = "clean_text") -> DataFrame:
    """Sliding-window exact substring dedup — the finer-grained sibling of
    :func:`dedup_spans` and the distributed approximation of ExactSubstr
    dedup (Lee et al. 2021, arXiv:2107.06499, which removes repeated
    ≥50-token substrings via suffix arrays; here the unit is any ``n``-token
    window, so duplicated passages are caught at EVERY alignment, not just
    chunk boundaries).

    Any ``n``-token window whose text occurred earlier in the corpus
    (global (id, pos) order, min-wins) marks its token range [pos, pos+n)
    for removal; overlapping duplicated windows merge naturally because
    coverage is evaluated per token.  The first occurrence keeps its
    tokens; within-doc repeats lose every site but the first.

    Plan shape: sliding grams are a per-row HOF explode (linear, ~1 row
    per token); the winner table is groupBy(gram).min(struct(id, pos)) —
    partial map-side min, so boilerplate repeated 10⁹× combines before
    the shuffle; the duplicated-window starts come back to each doc as
    ONE collected array (bounded by doc length), and token filtering is
    a per-row exists() over that array — the corpus token stream itself
    is never exploded or shuffled."""
    from pigpen_spark.functions.text import _let, tokens

    if n <= 0:
        raise ValueError(f"dedup_substrings: n must be positive, got {n}")
    src = df.select(_c(id_col).alias("__id"),
                    tokens(_c(text_col)).alias("__toks")).transform(_persisted)
    # grams persists too: both the winner aggregate AND the dup-site join
    # read it, and the per-token slice+array_join string build is the
    # dominant map-side cost of the whole operator — without the barrier
    # it executes twice (lesson: persist at the fan-out point, not one
    # level above it).
    grams = src.select(
        "__id",
        F.posexplode(
            F.when(
                F.size("__toks") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - n + 1),
                    lambda i: F.array_join(F.slice("__toks", i, n), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__pos", "__gram"),
    ).transform(_persisted)
    winners = (
        grams.groupBy("__gram")
        .agg(F.min(F.struct("__id", "__pos")).alias("__w"))
        .select("__gram", F.col("__w.__id").alias("__wid"),
                F.col("__w.__pos").alias("__wpos"))
    )
    dup_starts = (
        grams.join(winners, on="__gram")
        .filter((F.col("__id") != F.col("__wid")) | (F.col("__pos") != F.col("__wpos")))
        .groupBy("__id")
        .agg(F.array_sort(F.collect_list("__pos")).alias("__starts"))
    )
    covered = lambda i, starts: F.exists(  # noqa: E731
        starts, lambda s: (s <= i) & (i < s + n)
    )
    clean_toks = F.filter(
        F.col("__toks"),
        lambda t, i: ~covered(i, F.coalesce(F.col("__starts"), F.array().cast("array<int>"))),
    )
    return (
        src.join(dup_starts, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.array_join(clean_toks, " ").alias(out_col),
            (F.size("__toks") - F.size(clean_toks)).cast("long").alias("n_dropped_tokens"),
        )
    )


def dedup_substrings_sql(table: str, id_col: str, text_col: str, n: int = 4,
                         out_col: str = "clean_text") -> str:
    """DuckDB oracle for :func:`dedup_substrings` (row_number winner form;
    0-based token index i maps to the 1-based list index i+1)."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    return f"""
    WITH tk AS (SELECT {id_col} AS id, {toks} AS toks FROM {table}),
    grams AS (
      SELECT id, unnest(generate_series(0, len(toks) - {n})) AS pos,
             unnest([array_to_string(toks[i + 1 : i + {n}], ' ')
                     for i in range(0, len(toks) - {n} + 1)]) AS gram
      FROM tk WHERE len(toks) >= {n}
    ),
    winners AS (
      SELECT gram, id AS wid, pos AS wpos FROM (
        SELECT *, row_number() OVER (PARTITION BY gram ORDER BY id, pos) AS rn
        FROM grams
      ) WHERE rn = 1
    ),
    dups AS (
      SELECT g.id, list_sort(list(g.pos)) AS starts
      FROM grams g JOIN winners w ON g.gram = w.gram
      WHERE g.id <> w.wid OR g.pos <> w.wpos
      GROUP BY g.id
    )
    SELECT tk.id AS {id_col},
           coalesce(array_to_string(
             [tk.toks[i + 1] for i in range(0, len(tk.toks))
              if len(list_filter(coalesce(d.starts, []),
                                 s -> s <= i AND i < s + {n})) = 0],
             ' '), '') AS {out_col},
           (len(tk.toks) - len(
             [tk.toks[i + 1] for i in range(0, len(tk.toks))
              if len(list_filter(coalesce(d.starts, []),
                                 s -> s <= i AND i < s + {n})) = 0]
           ))::BIGINT AS n_dropped_tokens
    FROM tk LEFT JOIN dups d ON tk.id = d.id
    """


def build_vocab(df: DataFrame, text_col: str, min_count: int = 1) -> DataFrame:
    """Frequency-ranked token vocabulary: (token, n, token_id) with ids
    dense from 1 by (count DESC, token ASC) — the induction step before
    id-mapping a corpus (word-level here; a trained BPE vocab loads the
    same (token, token_id) shape from parquet).

    One groupBy(token) with map-side partials; the ranking is the
    TWO-PHASE scale-safe form (:func:`~pigpen_spark.operators.windows.ranked`:
    range-repartition on the sort key + per-partition row_number + driver
    offset vector) — the round-8 form ranked the type table through ONE
    global window partition, the superlinear term behind
    ext_tokenize_pack's α = 1.20 (SCALE.md round-8 finding 3); type
    tables are vocabulary-sized but still millions of rows at corpus
    scale.  Ranks are identical (same total order), so the oracle and
    every consumer hash unchanged.  ``min_count`` prunes the long tail
    before the rank."""
    from pigpen_spark.functions.text import tokens
    from pigpen_spark.operators.windows import ranked

    counts = (
        df.select(F.explode(tokens(_c(text_col))).alias("token"))
        .groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )
    return ranked(
        counts, order_by=[F.col("n").desc(), F.col("token")],
        index_col="__vr",
    ).select("token", "n", (F.col("__vr") + 1).cast("long").alias("token_id"))


def build_vocab_sql(table: str, text_col: str, min_count: int = 1) -> str:
    """DuckDB equivalent of :func:`build_vocab` (CTE body named vocab)."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    return f"""
      vocab AS (
        SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS token_id
        FROM (
          SELECT t AS token, count(*)::BIGINT AS n
          FROM (SELECT unnest({toks}) AS t FROM {table})
          GROUP BY t
        ) WHERE n >= {min_count}
      )
    """


def vocab_coverage(df: DataFrame, text_col: str,
                   sizes: Sequence[int] = (64, 256, 1024)) -> DataFrame:
    """Vocabulary coverage curve — the tokenizer-planning sweep: what
    fraction of the corpus TOKEN STREAM would a top-V word vocabulary
    cover, for each candidate V?  (The budget question behind choosing a
    vocab size / OOV-rate target before committing to a tokenizer.)

    One :func:`build_vocab` pass (groupBy token, global rank over TYPES
    not tokens), then a SINGLE aggregate computes every size's covered
    count as a conditional sum — the curve costs one extra reduction of
    the vocabulary regardless of how many sizes are probed.  Exact
    integer arithmetic (coverage in ppm via DIV), so the DuckDB oracle
    is hash-exact.

    Returns one row per size: (vocab_size, n_types, covered_tokens,
    total_tokens, coverage_ppm)."""
    if not sizes or any(v < 1 for v in sizes):
        raise ValueError(f"vocab_coverage: sizes must be positive, got {sizes!r}")
    vocab = build_vocab(df, text_col)
    one = vocab.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("__total"),
        F.count(F.lit(1)).cast("long").alias("__types"),
        *[
            F.coalesce(
                F.sum(F.when(F.col("token_id") <= int(v), F.col("n"))
                      .otherwise(F.lit(0))), F.lit(0))
            .cast("long").alias(f"__c{v}")
            for v in sizes
        ],
    )
    per_size = one.select(
        F.explode(F.array(*[
            F.struct(F.lit(int(v)).cast("long").alias("vocab_size"),
                     F.col(f"__c{v}").alias("covered_tokens"))
            for v in sizes
        ])).alias("s"),
        "__types", "__total",
    )
    return per_size.select(
        F.col("s.vocab_size").alias("vocab_size"),
        F.col("__types").alias("n_types"),
        F.col("s.covered_tokens").alias("covered_tokens"),
        F.col("__total").alias("total_tokens"),
        F.expr("CASE WHEN __total > 0 THEN s.covered_tokens * 1000000 DIV __total END")
        .cast("long").alias("coverage_ppm"),
    )


def vocab_coverage_sql(table: str, text_col: str,
                       sizes: Sequence[int] = (64, 256, 1024)) -> str:
    """DuckDB oracle for :func:`vocab_coverage` (same rank + conditional
    sums; windowed/CASE sums cast ::BIGINT per the big-int rule)."""
    lits = ", ".join(str(int(v)) for v in sizes)
    return f"""
    WITH {build_vocab_sql(table, text_col)},
    tot AS (
      SELECT coalesce(sum(n), 0)::BIGINT AS total, count(*)::BIGINT AS n_types
      FROM vocab
    ),
    per AS (
      SELECT v.size AS vocab_size,
             coalesce(sum(CASE WHEN token_id <= v.size THEN n ELSE 0 END), 0)::BIGINT
               AS covered
      FROM (SELECT unnest([{lits}]) AS size) v
      LEFT JOIN vocab ON TRUE
      GROUP BY v.size
    )
    SELECT vocab_size::BIGINT AS vocab_size, n_types,
           covered AS covered_tokens, total AS total_tokens,
           (CASE WHEN total > 0 THEN covered * 1000000 // total END)::BIGINT
             AS coverage_ppm
    FROM per, tot
    """


def tokenize_pack(df: DataFrame, id_col: str, text_col: str,
                  seq_len: int, shards: int = 8,
                  vocab: DataFrame | None = None) -> DataFrame:
    """Last-mile training prep: map every token to its vocabulary id and
    pack the id stream into fixed-``seq_len`` sequences (context-window
    filling) — the step that turns a curated corpus into model-ready
    rows.

    Documents are deterministically sharded (id-hash mod ``shards``) and
    concatenated in id order WITHIN each shard; sequence s of a shard is
    tokens [s·L, (s+1)·L) of that shard's stream (trailing partial kept,
    its length visible in n_tokens).  Sharding is what makes this scale:
    the doc-offset cumsum and the per-sequence grouping partition by
    shard, so no global single-reducer window exists anywhere — at 100 TB
    raise ``shards`` until a shard's docs fit a task (the same posture as
    pack_chunks, which packs whole docs; this packs the token stream).

    ``vocab`` defaults to :func:`build_vocab` of the input (broadcast at
    query time; a trained vocab passes in as any (token, token_id)
    frame).  Returns (shard, seq_no, token_ids, n_tokens)."""
    from pigpen_spark.functions.text import tokens

    if seq_len <= 0:
        raise ValueError(f"tokenize_pack: seq_len must be positive, got {seq_len}")
    if vocab is None:
        vocab = build_vocab(df, text_col)
    base = df.select(
        _c(id_col).alias("__id"),
        (F.conv(F.substring(F.md5(_c(id_col).cast("string")), 1, 8), 16, 10)
         .cast("bigint") % shards).alias("__shard"),
        tokens(_c(text_col)).alias("__toks"),
    )
    doclen = base.select("__id", "__shard", F.size("__toks").alias("__len"))
    w_off = (
        Window.partitionBy("__shard").orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = doclen.withColumn("__off", F.sum("__len").over(w_off) - F.col("__len"))
    tok = base.select(
        "__id", "__shard",
        F.posexplode("__toks").alias("__pos", "__tok"),
    )
    ids = (
        tok.join(F.broadcast(vocab.select(F.col("token").alias("__tok"),
                                          F.col("token_id").alias("__tid"))),
                 on="__tok", how="left")
        .select("__id", "__shard", "__pos", F.coalesce("__tid", F.lit(0)).alias("__tid"))
    )
    placed = (
        ids.join(offsets.select("__id", "__off"), on="__id")
        .withColumn("__gpos", F.col("__off") + F.col("__pos"))
        # integer DIV (not float floor): exact past 2^53 tokens/shard,
        # matching the oracle's `//`
        .withColumn("__seq", F.expr(f"__gpos DIV {int(seq_len)}").cast("long"))
    )
    return (
        placed.groupBy(F.col("__shard").alias("shard"), F.col("__seq").alias("seq_no"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__gpos", "__tid"))),
                lambda s: s["__tid"],
            ).alias("token_ids"),
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
        )
    )


def pack_doc_spans(df: DataFrame, id_col: str, text_col: str,
                   seq_len: int, shards: int = 8) -> DataFrame:
    """Document-boundary map of the packed token stream — the attention
    contract next to :func:`tokenize_pack`'s token ids: for every packed
    sequence, WHERE each document starts inside it (``doc_spans`` =
    ``start:doc_id`` comma-joined by position; start 0 with a doc that
    also appears in the previous sequence = a continuation).  Training
    loaders need this to reset attention masks at document boundaries
    within packed sequences.

    Same sharding/offset arithmetic as tokenize_pack (id-hash shard +
    per-shard id-order length cumsum — a differential test pins the two
    operators agree), but computed WITHOUT exploding tokens: document
    occupancy is pure offset arithmetic (doc occupies global
    [off, off+len); it touches sequences off DIV L .. (off+len-1) DIV L,
    starting at max(off − s·L, 0) in sequence s), so the fan-out is one
    row per (doc, touched sequence) — O(docs + sequences), not
    O(tokens).  Run it NEXT TO tokenize_pack and join on
    (shard, seq_no); re-deriving boundaries from the token stream would
    re-pay the token explode for information the offsets already carry.

    Returns (shard, seq_no, n_docs, doc_spans); empty documents occupy
    no positions and are absent."""
    from pigpen_spark.functions.text import tokens

    if seq_len <= 0:
        raise ValueError(f"pack_doc_spans: seq_len must be positive, got {seq_len}")
    doclen = df.select(
        _c(id_col).alias("__id"),
        (F.conv(F.substring(F.md5(_c(id_col).cast("string")), 1, 8), 16, 10)
         .cast("bigint") % shards).alias("__shard"),
        F.size(tokens(_c(text_col))).cast("bigint").alias("__len"),
    )
    w_off = (
        Window.partitionBy("__shard").orderBy("__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = doclen.withColumn("__off", F.sum("__len").over(w_off) - F.col("__len"))
    L = int(seq_len)
    spans = (
        offsets.filter(F.col("__len") > 0)
        .withColumn("__seq", F.explode(F.sequence(
            F.expr(f"__off DIV {L}"),
            F.expr(f"(__off + __len - 1) DIV {L}"))))
        .withColumn("__start", F.greatest(
            F.col("__off") - F.col("__seq") * L, F.lit(0)).cast("long"))
    )
    return (
        spans.groupBy(F.col("__shard").alias("shard"),
                      F.col("__seq").cast("long").alias("seq_no"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__start", "__id"))),
                    lambda s: F.concat(s["__start"].cast("string"), F.lit(":"),
                                       s["__id"].cast("string")),
                ), ",").alias("doc_spans"),
        )
    )


def pack_doc_spans_sql(table: str, id_col: str, text_col: str,
                       seq_len: int, shards: int = 8) -> str:
    """DuckDB oracle for :func:`pack_doc_spans` (same shard hash and
    cumsum; windowed sums cast ::BIGINT per the big-int rule)."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    L = int(seq_len)
    return f"""
    WITH doclen AS (
      SELECT {id_col} AS id,
             ('0x' || substring(md5({id_col}::VARCHAR), 1, 8))::BIGINT % {shards} AS shard,
             len({toks})::BIGINT AS len
      FROM {table}
    ),
    offsets AS (
      SELECT id, shard, len,
             (sum(len) OVER (PARTITION BY shard ORDER BY id
                             ROWS UNBOUNDED PRECEDING) - len)::BIGINT AS off
      FROM doclen
    ),
    spans AS (
      SELECT shard, id, off,
             unnest(range(off // {L}, (off + len - 1) // {L} + 1)) AS seq
      FROM offsets WHERE len > 0
    )
    SELECT shard, seq::BIGINT AS seq_no, count(*)::BIGINT AS n_docs,
           string_agg(greatest(off - seq * {L}, 0)::VARCHAR || ':' || id::VARCHAR,
                      ',' ORDER BY greatest(off - seq * {L}, 0), id) AS doc_spans
    FROM spans GROUP BY shard, seq
    """


def tokenize_pack_sql(table: str, id_col: str, text_col: str,
                      seq_len: int, shards: int = 8) -> str:
    """DuckDB oracle for :func:`tokenize_pack` with the default
    self-built vocabulary."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    return f"""
    WITH {build_vocab_sql(table, text_col)},
    base AS (
      SELECT {id_col} AS id,
             ('0x' || substring(md5({id_col}::VARCHAR), 1, 8))::BIGINT % {shards} AS shard,
             {toks} AS toks
      FROM {table}
    ),
    offsets AS (
      -- windowed sum() is HUGEINT in DuckDB; cast to BIGINT so the
      -- emitted seq_no/gpos types match Spark (ROUND_NOTES big-int rule)
      SELECT id, shard,
             (sum(len(toks)) OVER (PARTITION BY shard ORDER BY id
                                   ROWS UNBOUNDED PRECEDING)
              - len(toks))::BIGINT AS off
      FROM base
    ),
    tok AS (
      SELECT id, shard, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS t
      FROM base
    ),
    placed AS (
      SELECT tok.shard, (o.off + tok.pos)::BIGINT AS gpos,
             coalesce(v.token_id, 0) AS tid,
             ((o.off + tok.pos) // {seq_len})::BIGINT AS seq
      FROM tok
      JOIN offsets o ON tok.id = o.id
      LEFT JOIN vocab v ON tok.t = v.token
    )
    SELECT shard, seq AS seq_no,
           list(tid ORDER BY gpos) AS token_ids,
           count(*)::BIGINT AS n_tokens
    FROM placed GROUP BY shard, seq
    """


def span_corrupt_stats(df: DataFrame, id_col: str, text_col: str,
                       rate_pct: int = 15, salt: str = "spanc") -> DataFrame:
    """T5-style span-corruption LAYOUT, deterministically: each token
    position masks iff its salted (doc, position) hash falls under
    ``rate_pct``, adjacent masked positions coalesce into spans (one
    sentinel each), and the row reports the denoising pair's shape —
    ``input_len = n − masked + spans`` (unmasked tokens + one sentinel
    per span) and ``target_len = masked + spans`` (masked tokens + the
    matching sentinels).  The numbers every seq2seq/UL2 data pipeline
    needs for budgeting and packing BEFORE materializing corrupted
    text; a new ``salt`` is a fresh corruption draw, the same salt
    replays exactly.

    All per-row JVM HOF expressions (sequence → transform → zip-with-
    shifted run starts) — zero UDFs, zero shuffles.  The draw is ONE
    md5 per DOCUMENT (the seed) + a 32-bit LCG step per position
    (``((seed+i) mod 2³²)·1103515245 + 12345 mod 2³²`` vs
    ``rate_pct·2³² DIV 100`` — operands bounded under 2⁶³, so ANSI-safe
    and bit-identical in DuckDB): the per-TOKEN md5 this replaces was
    the whole runtime (5.97× at 10× data; the LCG form is pure integer
    codegen).  Returns (id, n_tokens, n_masked, n_spans, input_len,
    target_len)."""
    from pigpen_spark.functions.text import tokens

    if not (0 <= rate_pct <= 100):
        raise ValueError(f"span_corrupt_stats: rate_pct must be 0..100, "
                         f"got {rate_pct}")
    from pigpen_spark.functions.text import _let

    thr = rate_pct * (1 << 32) // 100
    did = _c(id_col).cast("string")
    seed_expr = F.conv(
        F.substring(F.md5(F.concat(did, F.lit("|" + salt))), 1, 8), 16, 10
    ).cast("bigint")

    # EVERYTHING the lambdas touch is let-bound: Catalyst re-evaluates
    # outer EXPRESSIONS referenced inside a HOF lambda once per element
    # (the _let docstring), so an unbound seed would re-run the md5 per
    # TOKEN — measured as the entire runtime of the first form
    def with_env(env: Column) -> Column:
        n = env["n"]
        seed = env["seed"]
        # sequence(1, n) REVERSES when n < 1 (Spark picks step -1) —
        # guard empty docs explicitly
        idxs = F.when(n >= 1, F.sequence(F.lit(1), n)) \
            .otherwise(F.array().cast("array<int>"))
        flags = F.transform(
            idxs,
            lambda i: ((((seed + i) % F.lit(4294967296))
                        * F.lit(1103515245) + F.lit(12345))
                       % F.lit(4294967296) < F.lit(thr)).cast("int"))

        def with_flags(fl: Column) -> Column:
            masked = F.aggregate(fl, F.lit(0), lambda a, x: a + x)
            prev = F.concat(F.array(F.lit(0)),
                            F.slice(fl, 1, F.greatest(n - 1, F.lit(0))))
            # n=0: prev is [0] while flags is [] and zip_with null-pads —
            # guard the whole span count rather than rely on null math
            spans = F.coalesce(
                F.when(n >= 1, F.aggregate(
                    F.zip_with(fl, prev, lambda f, p: f * (1 - p)),
                    F.lit(0), lambda a, x: a + x)),
                F.lit(0))
            return F.struct(masked.alias("masked"), spans.alias("spans"))

        return _let(flags, with_flags)

    env = F.struct(
        F.size(tokens(F.coalesce(_c(text_col), F.lit("")))).alias("n"),
        seed_expr.alias("seed"))
    return (
        df.withColumn("__sc", _let(env, with_env))
        .withColumn("__n", F.size(tokens(F.coalesce(_c(text_col), F.lit("")))))
        .select(
            _c(id_col).alias("id"),
            F.col("__n").cast("long").alias("n_tokens"),
            F.col("__sc.masked").cast("long").alias("n_masked"),
            F.col("__sc.spans").cast("long").alias("n_spans"),
            (F.col("__n") - F.col("__sc.masked") + F.col("__sc.spans"))
            .cast("long").alias("input_len"),
            (F.col("__sc.masked") + F.col("__sc.spans")).cast("long")
            .alias("target_len"),
        )
    )


def span_corrupt_stats_sql(table: str, id_col: str, text_col: str,
                           rate_pct: int = 15, salt: str = "spanc") -> str:
    """DuckDB oracle for :func:`span_corrupt_stats` — identical md5
    doc seed + per-position LCG flags and run-start counting via range
    comprehensions."""
    thr = rate_pct * (1 << 32) // 100
    toks = (f"list_filter(string_split(lower(coalesce({text_col}, '')), ' '), "
            "t -> t <> '')")
    s = sql_str("|" + salt)
    seed = (f"('0x' || substring(md5({id_col}::VARCHAR || {s}), 1, 8))"
            "::BIGINT")
    flag = (f"(CASE WHEN (((seed + i) % 4294967296) * 1103515245 + 12345)"
            f" % 4294967296 < {thr} THEN 1 ELSE 0 END)")
    return f"""
    WITH f AS (
      SELECT {id_col} AS id, len({toks})::BIGINT AS n_tokens,
             [{flag} for i in range(1, len({toks}) + 1)] AS flags
      FROM (SELECT *, {seed} AS seed FROM {table})
    )
    SELECT id, n_tokens,
           coalesce(list_sum(flags), 0)::BIGINT AS n_masked,
           coalesce(list_sum([flags[i] * (1 - CASE WHEN i = 1 THEN 0
                        ELSE flags[i - 1] END)
                      for i in range(1, len(flags) + 1)]), 0)::BIGINT AS n_spans,
           (n_tokens - coalesce(list_sum(flags), 0)
            + coalesce(list_sum([flags[i] * (1 - CASE WHEN i = 1 THEN 0
                          ELSE flags[i - 1] END)
                        for i in range(1, len(flags) + 1)]), 0))::BIGINT
             AS input_len,
           (coalesce(list_sum(flags), 0)
            + coalesce(list_sum([flags[i] * (1 - CASE WHEN i = 1 THEN 0
                          ELSE flags[i - 1] END)
                        for i in range(1, len(flags) + 1)]), 0))::BIGINT
             AS target_len
    FROM f
    """


def prune_by_quantile(df: DataFrame, score_col, keep_frac: float,
                      partition_by: Sequence = (), tiebreak=None,
                      exact: bool = True) -> DataFrame:
    """Keep the top ``keep_frac`` of rows by score, optionally per group —
    the corpus-curation gate behind "train on the best 30% by quality,
    balanced per language".

    ``exact=True`` (default): percent_rank window ordered by (score DESC,
    tiebreak) — exactly reproducible, and the form the DuckDB oracle
    mirrors.  Fine whenever each group fits a reducer's sort.

    ``exact=False`` is the 100 TB path for FEW huge groups (the window
    would funnel each group through one reducer): per-group
    ``percentile_approx`` thresholds — one partial-aggregating pass —
    broadcast back and applied as a filter; two linear scans, no window,
    boundary rows resolved inclusively (keeps ≥ keep_frac of rows).
    """
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"prune_by_quantile: keep_frac must be in (0, 1], got {keep_frac}")
    score = _c(score_col)
    parts = [_c(p) for p in partition_by]
    if exact:
        order = [score.desc()] + ([_c(tiebreak)] if tiebreak is not None else [])
        w = (Window.partitionBy(*parts) if parts else Window.partitionBy()).orderBy(*order)
        tmp = "__pp_pr"
        return (
            df.withColumn(tmp, F.percent_rank().over(w))
            .filter(F.col(tmp) <= keep_frac)
            .drop(tmp)
        )
    thr = (
        df.groupBy(*parts)
        .agg(F.percentile_approx(score, 1.0 - keep_frac).alias("__pp_thr"))
    )
    if parts:
        joined = df.join(F.broadcast(thr), on=[p for p in partition_by], how="inner")
    else:
        joined = df.crossJoin(F.broadcast(thr))
    return joined.filter(score >= F.col("__pp_thr")).drop("__pp_thr")


def max_repeats(df: DataFrame, id_col: str, text_col: str,
                min_len: int = 8) -> DataFrame:
    """Maximal ≥``min_len``-token repeated spans — the span-extraction
    half of real ExactSubstr dedup (Lee et al. 2021, arXiv:2107.06499:
    suffix arrays find maximal repeated substrings of ≥50 tokens;
    :func:`dedup_substrings` only removes fixed-n windows).

    A window start is DUPLICATED when its ``min_len``-token text occurs
    at ≥2 (doc, pos) sites corpus-wide; a maximal run of consecutive
    duplicated starts [s..e] in one document is reported as the repeated
    span [s, e+min_len) — exactly the region every ``min_len``-window of
    which repeats, the standard seed-and-extend approximation of a
    suffix-array maximal repeat.  ALL sites of a repeat are reported
    (including the first occurrence — reporting, not removal; compose
    with :func:`dedup_substrings` for keep-first removal semantics).

    Plan shape: sliding grams are a linear per-row HOF explode; the
    duplicated-gram set is ONE partial-aggregating groupBy (a gram
    repeated 10⁹× combines map-side before the shuffle); sites come back
    via a gram equi-join; run-merging is the gaps-and-islands window
    (pos − row_number) PARTITIONED BY DOC — bounded by document length,
    never a global window.  The token stream itself is never shuffled;
    span text is re-sliced from the per-doc token array at the end.

    Returns (id_col, start_tok 0-based, n_tokens, repeat_text)."""
    from pigpen_spark.functions.text import tokens

    L = min_len
    if L <= 0:
        raise ValueError(f"max_repeats: min_len must be positive, got {L}")
    src = df.select(_c(id_col).alias("__id"),
                    tokens(_c(text_col)).alias("__toks")).transform(_persisted)
    grams = src.select(
        "__id",
        F.posexplode(
            F.when(
                F.size("__toks") >= L,
                F.transform(
                    F.sequence(F.lit(1), F.size("__toks") - L + 1),
                    lambda i: F.array_join(F.slice("__toks", i, L), " "),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("__pos", "__gram"),
    )
    dup = (
        grams.groupBy("__gram")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("__gram")
    )
    sites = grams.join(dup, on="__gram").select("__id", "__pos")
    w = Window.partitionBy("__id").orderBy("__pos")
    runs = sites.withColumn("__grp", F.col("__pos") - F.row_number().over(w))
    spans = runs.groupBy("__id", "__grp").agg(
        F.min("__pos").alias("__start"),
        (F.max("__pos") - F.min("__pos") + F.lit(L)).alias("__len"),
    )
    return (
        spans.join(src, on="__id")
        .select(
            F.col("__id").alias(id_col),
            F.col("__start").cast("long").alias("start_tok"),
            F.col("__len").cast("long").alias("n_tokens"),
            F.array_join(
                F.slice("__toks", F.col("__start") + 1, F.col("__len")), " "
            ).alias("repeat_text"),
        )
    )


def max_repeats_sql(table: str, id_col: str, text_col: str,
                    min_len: int = 8) -> str:
    """DuckDB oracle for :func:`max_repeats` (same gaps-and-islands
    pos − row_number grouping; 0-based token index i → 1-based list
    index i+1)."""
    L = min_len
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    return f"""
    WITH tk AS (SELECT {id_col} AS id, {toks} AS toks FROM {table}),
    grams AS (
      SELECT id, unnest(generate_series(0, len(toks) - {L})) AS pos,
             unnest([array_to_string(toks[i + 1 : i + {L}], ' ')
                     for i in range(0, len(toks) - {L} + 1)]) AS gram
      FROM tk WHERE len(toks) >= {L}
    ),
    dup AS (SELECT gram FROM grams GROUP BY gram HAVING count(*) > 1),
    sites AS (SELECT g.id, g.pos FROM grams g JOIN dup USING (gram)),
    runs AS (
      SELECT id, pos,
             pos - row_number() OVER (PARTITION BY id ORDER BY pos) AS grp
      FROM sites
    ),
    spans AS (
      SELECT id, min(pos) AS start, max(pos) - min(pos) + {L} AS n_len
      FROM runs GROUP BY id, grp
    )
    SELECT s.id AS {id_col}, s.start::BIGINT AS start_tok,
           s.n_len::BIGINT AS n_tokens,
           array_to_string(tk.toks[s.start + 1 : s.start + s.n_len], ' ')
             AS repeat_text
    FROM spans s JOIN tk USING (id)
    """


def chunk_overlap(df: DataFrame, id_col: str, text_col: str,
                  size: int = 64, stride: int = 48) -> DataFrame:
    """Sliding-window document chunking WITH OVERLAP — the RAG /
    long-context training-prep primitive (split every document into
    ``size``-token windows advancing by ``stride`` tokens, so adjacent
    chunks share ``size − stride`` tokens of context; cf. the
    fixed-stride chunkers in every retrieval stack).

    Per-row HOF expression only: tokens are let-bound (ONE tokenize per
    document), windows are a transform over a precomputed chunk-count
    sequence, and the result explodes to (id, chunk_id, chunk, n_tokens)
    rows.  No shuffle at all — embarrassingly parallel over documents,
    the right shape at any corpus size.  Chunk count is
    1 + ceil((len − size)/stride) clamped to ≥1 (every doc yields at
    least one chunk; trailing windows shorter than ``size`` keep their
    actual token count).

    Returns (id, chunk_id, chunk, n_tokens); hash-exact DuckDB oracle in
    :func:`chunk_overlap_sql`."""
    from pigpen_spark.functions.text import _let, tokens

    if size <= 0 or stride <= 0:
        raise ValueError(f"chunk_overlap: size ({size}) and stride ({stride}) "
                         "must be positive")
    chunks = _let(tokens(_c(text_col)), lambda toks: F.when(
        F.size(toks) > 0,
        F.transform(
            F.sequence(
                F.lit(0),
                F.greatest(
                    F.lit(0),
                    F.ceil((F.size(toks) - F.lit(size)) / F.lit(float(stride))).cast("int"),
                ),
            ),
            lambda i: F.struct(
                F.array_join(F.slice(toks, i * stride + 1, size), " ").alias("chunk"),
                F.least(F.lit(size), F.size(toks) - i * stride).cast("long").alias("n_tokens"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<chunk:string,n_tokens:bigint>>")))
    return (
        df.select(_c(id_col).alias("id"), F.posexplode(chunks).alias("chunk_id", "c"))
        .select("id", F.col("chunk_id").cast("long").alias("chunk_id"),
                "c.chunk", "c.n_tokens")
    )


def chunk_overlap_sql(table: str, id_col: str, text_col: str,
                      size: int = 64, stride: int = 48) -> str:
    """DuckDB oracle for :func:`chunk_overlap` (same window arithmetic)."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    return f"""
    WITH t AS (SELECT {id_col} AS id, {toks} AS toks FROM {table}),
    w AS (
      SELECT id, toks,
             unnest(range(0, 1 + greatest(0,
               cast(ceil((len(toks) - {size}) / {float(stride)}) AS int)))) AS chunk_id
      FROM t WHERE len(toks) > 0
    )
    SELECT id, chunk_id::BIGINT AS chunk_id,
           array_to_string(toks[chunk_id * {stride} + 1 : chunk_id * {stride} + {size}], ' ') AS chunk,
           least({size}, len(toks) - chunk_id * {stride})::BIGINT AS n_tokens
    FROM w
    """


def remove_frequent_spans(df: DataFrame, id_col: str, text_col: str,
                          chunk: int = 8, min_docs: int = 10,
                          out_col: str = "clean_text",
                          strategy: str = "auto",
                          broadcast_max: int = 20_000) -> DataFrame:
    """Corpus-wide boilerplate removal: delete EVERY occurrence of any
    ``chunk``-token span that appears in ≥ ``min_docs`` distinct documents
    (the MassiveText/C4 "repeated boilerplate lines" gate — cookie
    banners, subscribe prompts, nav bars).  Different contract from
    :func:`dedup_spans`, which keeps each duplicated span's global FIRST
    occurrence: boilerplate is noise in every copy, so no copy survives.

    Two executions of the same semantics, chosen by ``strategy``:

    - ``"broadcast"``: the banned set collapses to ONE array row that
      broadcast-crossJoins the corpus; each doc filters its span list
      with an O(|doc|·|ban|) HOF membership test — zero reassembly
      shuffle.  Right whenever heavy hitters are few (the normal
      boilerplate regime: ban ≈ total_spans/min_docs).
    - ``"join"``: posexplode the corpus once, LEFT ANTI join the spans
      against the ban table (shuffle keyed by span), regroup by doc in
      position order.  Costs a reassembly shuffle but is O(|corpus| +
      |ban|) — the path for a LOW threshold over a huge corpus where the
      ban set itself is large and the per-doc linear scan degenerates
      (measured: a ban set of ~10⁵ spans made the broadcast form ~450×
      slower at 10× scale, SCALE.md §scaling-evidence).
    - ``"auto"`` (default): count the ban set (bounded one-row-per-span
      aggregate, persisted so the count doesn't recompute it) and pick
      ``broadcast`` iff it holds ≤ ``broadcast_max`` spans.
    """
    if min_docs < 2:
        raise ValueError(f"remove_frequent_spans: min_docs must be >= 2, got {min_docs}")
    if strategy not in ("auto", "broadcast", "join"):
        raise ValueError(f"remove_frequent_spans: unknown strategy {strategy!r}")
    src = df.select(_c(id_col).alias("__id"),
                    token_chunks(_c(text_col), chunk).alias("__chunks"))
    freq = (
        src.select(F.explode(F.array_distinct("__chunks")).alias("__c"))
        .groupBy("__c").agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= min_docs)
    )
    if strategy == "auto":
        freq = _persisted(freq)
        strategy = "broadcast" if freq.count() <= broadcast_max else "join"
    if strategy == "broadcast":
        ban = freq.agg(F.collect_list("__c").alias("__ban"))
        kept = F.filter(
            F.col("__chunks"), lambda c: ~F.array_contains(F.col("__ban"), c)
        )
        return (
            src.crossJoin(F.broadcast(ban))
            .select(
                F.col("__id").alias(id_col),
                F.array_join(kept, " ").alias(out_col),
                (F.size("__chunks") - F.size(kept)).cast("long").alias("n_removed"),
            )
        )
    pos = src.select(
        "__id", F.posexplode("__chunks").alias("__pos", "__c"))
    surviving = pos.join(freq.select("__c"), on="__c", how="left_anti")
    regrouped = surviving.groupBy("__id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__c"))),
            lambda s: s["__c"],
        ).alias("__kept")
    )
    # left join back: docs whose every span was banned (or that had no
    # spans at all) must still emit a row with empty clean text
    return (
        src.select("__id", F.size("__chunks").alias("__total"))
        .join(regrouped, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.array_join("__kept", " "), F.lit("")).alias(out_col),
            (F.col("__total") - F.coalesce(F.size("__kept"), F.lit(0)))
            .cast("long").alias("n_removed"),
        )
    )


def remove_frequent_spans_sql(table: str, id_col: str, text_col: str,
                              chunk: int = 8, min_docs: int = 10,
                              out_col: str = "clean_text") -> str:
    """DuckDB oracle for :func:`remove_frequent_spans`."""
    return f"""
    WITH src AS (
      SELECT {id_col} AS id, {token_chunks_sql(text_col, chunk)} AS chunks
      FROM {table}
    ),
    freq AS (
      SELECT c FROM (SELECT id, unnest(list_distinct(chunks)) AS c FROM src)
      GROUP BY c HAVING count(*) >= {min_docs}
    ),
    ban AS (SELECT coalesce(list(c), []::VARCHAR[]) AS b FROM freq)
    SELECT id AS {id_col},
           coalesce(array_to_string(
             list_filter(chunks, c -> NOT list_contains(b, c)), ' '), '') AS {out_col},
           (len(chunks) - len(list_filter(chunks, c -> NOT list_contains(b, c))))::BIGINT
             AS n_removed
    FROM src CROSS JOIN ban
    """


def content_chunks(col, divisor: int = 8) -> Column:
    """CONTENT-DEFINED chunking (the FastCDC/rsync idea at token level):
    a chunk boundary falls after every token whose 32-bit md5 hash is
    ≡ 0 (mod ``divisor``) — so boundaries are decided by local content,
    not position, and an insertion reshuffles only the chunk it lands
    in while :func:`token_chunks`' fixed windows shift at every later
    position (the property that makes CDC the dedup-friendly chunker
    for incremental/near-identical corpora; expected chunk length ≈
    divisor tokens).  Pure HOFs: cut positions by filter, chunk spans
    by zip_with over consecutive cuts — tokenize/hash once per row.
    Empty docs yield an empty array."""
    from pigpen_spark.functions.dedup import token_hashes
    from pigpen_spark.functions.text import _let, tokens

    if divisor < 2:
        raise ValueError(f"content_chunks: divisor must be >= 2, got {divisor}")

    def body(toks: Column) -> Column:
        th = F.transform(
            toks, lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10)
            .cast("bigint"))
        n = F.size(toks)
        bpos = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (F.element_at(th, i) % divisor == 0) & (i < n))
        cuts = F.concat(F.array(F.lit(0)), bpos, F.array(n))
        return F.when(n > 0, F.zip_with(
            F.slice(cuts, 1, F.size(cuts) - 1),
            F.slice(cuts, 2, F.size(cuts) - 1),
            lambda s, e: F.array_join(
                F.slice(toks, s + 1, (e - s).cast("int")), " "),
        )).otherwise(F.array().cast("array<string>"))

    return _let(tokens(col), body)


def content_chunks_cte_sql(table: str, id_col: str, text_col: str,
                           divisor: int = 8) -> str:
    """DuckDB CTE chain computing (id, chunks) per row of ``table`` —
    the oracle mirror of :func:`content_chunks` (CTE let-binding keeps
    the tokenizer and cut-list single-evaluation, like the minhash
    oracle helpers)."""
    toks = f"list_filter(string_split(lower({text_col}), ' '), t -> t <> '')"
    return f"""
      __cdc_t AS (SELECT {id_col} AS id, ({toks}) AS t FROM {table}),
      __cdc_c AS (
        SELECT id, t,
               [0] || [i for i in range(1, len(t) + 1)
                       if ('0x' || substring(md5(t[i]), 1, 8))::BIGINT
                          % {divisor} = 0 and i < len(t)]
                   || [len(t)] AS c
        FROM __cdc_t
      ),
      cdc_chunks AS (
        SELECT id, [array_to_string(t[c[j] + 1 : c[j + 1]], ' ')
                    for j in range(1, len(c))] AS chunks
        FROM __cdc_c
      )
    """


def stratified_split(df: DataFrame, id_col: str, strata_cols: list,
                     splits: Mapping[str, float], salt: str = "split",
                     split_col: str = "split") -> DataFrame:
    """EXACT-count stratified splitting — the companion
    :func:`split_by_hash` can't be: hash assignment is proportional
    only in expectation (a 10%-eval split of a 50-doc stratum can land
    3 or 8 docs), while experiment design often needs every stratum
    cut at exact counts.  Per stratum, rows are ranked by their salted
    id-hash (deterministic, order-free) and the rank is cut at
    ``floor(frac_cum · n_stratum)`` boundaries — each stratum's split
    sizes are exact to ±0 rows (the last split absorbs remainders).

    One rank window per stratum (partitions bounded by stratum size —
    billions-per-stratum should pre-shard the stratum key); assignment
    remains stable under re-partitioning and row order, but UNLIKE
    split_by_hash it changes when the stratum's membership changes
    (exactness requires knowing n) — use the hash form for growing
    corpora, this form for frozen experiment tables.

    Returns df + ``split_col``."""
    fracs = list(splits.items())
    if not fracs:
        raise ValueError("stratified_split: need at least one split")
    total = sum(f for _, f in fracs)
    if not 0.999 <= total <= 1.001:
        raise ValueError(
            f"stratified_split: fractions sum to {total}, expected 1")
    u = hash_unit(id_col, salt)
    w = Window.partitionBy(*[F.col(c) for c in strata_cols]).orderBy(
        u, F.col(id_col))
    n = F.count(F.lit(1)).over(
        Window.partitionBy(*[F.col(c) for c in strata_cols]))
    rk = F.row_number().over(w)
    # cumulative cut points in integer ppm — float accumulation dust
    # (0.7 + 0.2 != 0.9 in binary) would shift boundaries by one row
    cum_ppm = 0
    cuts = []
    for name, frac in fracs[:-1]:
        cum_ppm += round(frac * 1_000_000)
        cuts.append((name, cum_ppm))
    expr = F.lit(fracs[-1][0])
    for name, ppm in reversed(cuts):
        # floor((ppm·n)/1e6): double-exact while ppm·n < 2^53, i.e.
        # strata under ~9e9 rows — beyond that this rank-window form is
        # out of contract anyway (pre-shard the stratum key)
        expr = F.when(rk <= F.floor(F.lit(ppm).cast("bigint") * n
                                    / F.lit(1_000_000)).cast("long"),
                      F.lit(name)).otherwise(expr)
    return df.withColumn(split_col, expr)


def shard_balance(df: DataFrame, id_col: str, size_col, shards: int = 8
                  ) -> DataFrame:
    """Size-balanced SHARD ASSIGNMENT audit: stripe documents across
    ``shards`` output shards in descending size order (rank % S — the
    sorted round-robin relaxation of LPT scheduling: with items sorted
    descending, striping bounds any shard's excess over the mean by one
    max item, which is the balance guarantee a training-shard writer
    needs) and report each shard's document count and token mass.

    This is the PLANNING twin of ``pack_chunks``/``tokenize_pack``
    (those pack a token stream into sequences; this balances whole
    documents across shard files so no epoch reader strags behind) —
    the deterministic answer to "will shard 7 finish last?".

    Determinism (mirrored by :func:`shard_balance_sql`): global rank by
    (size DESC, id ASC) — computed with the scale-safe two-phase rank
    (range repartition + per-partition offsets, never one reducer) —
    then ``shard = rank % shards``; per-shard aggregates are exact
    BIGINTs, hash-exact oracle.

    Returns (shard, n_docs, tokens) — one row per shard.
    """
    if shards < 1:
        raise ValueError(f"shard_balance: shards must be >= 1, got {shards}")
    from pigpen_spark.operators.windows import ranked

    sized = df.select(_c(id_col).alias("__id"),
                      _c(size_col).cast("long").alias("__sz"))
    rk = ranked(sized, order_by=[F.col("__sz").desc(), F.col("__id")],
                index_col="__rk")
    return (
        rk.withColumn("shard", (F.col("__rk") % shards).cast("long"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"),
             F.sum("__sz").alias("tokens"))
        .select("shard", F.col("n_docs").cast("long").alias("n_docs"),
                F.col("tokens").cast("long").alias("tokens"))
    )


def shard_balance_sql(table: str, id_col: str, size_expr: str,
                      shards: int = 8) -> str:
    """DuckDB mirror of :func:`shard_balance`; ``size_expr`` is a SQL
    expression for the document size."""
    return f"""WITH sized AS (
      SELECT {id_col} AS id, ({size_expr})::BIGINT AS sz FROM {table}),
    rk AS (
      SELECT id, sz,
             row_number() OVER (ORDER BY sz DESC, id) - 1 AS r
      FROM sized)
    SELECT (r % {shards})::BIGINT AS shard,
           count(*)::BIGINT AS n_docs,
           sum(sz)::BIGINT AS tokens
    FROM rk GROUP BY r % {shards}"""
