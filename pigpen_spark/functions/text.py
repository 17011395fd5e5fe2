"""Text-analysis operators for large-scale training-data pipelines.

Extension surface beyond the reference (which has NO scalar function
library — SURVEY §2.7): language ID, quality scoring, token counting,
document fingerprinting.  Everything is built from JVM-side Catalyst
higher-order functions (split/filter/transform/aggregate) — no Python UDFs
— so the operators whole-stage-codegen and scale linearly with executors.

Hash portability: md5 (identical across engines) is the only hash used, so
every operator here has an exact DuckDB SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Tiny per-language stopword lists for the n-gram/stopword language-ID
#: heuristic.  Deliberately small and fixed — the operator's value is the
#: *shape* (argmax of per-language token-overlap scores at scale).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "para"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "im"],
}

#: CJK unicode block — presence implies zh for this corpus.
_CJK_PATTERN = "[一-鿿]"

#: BPE-ish pre-tokenizer: letter runs, single digits, punctuation marks.
BPE_PATTERN = "[a-z]+|[0-9]|[^a-z0-9\\s]"


from pigpen_spark.relation import _to_col as _c  # noqa: E402 — shared coercion


def tokens(col) -> Column:
    """Whitespace tokens, lowercased, empties removed."""
    return F.filter(F.split(F.lower(_c(col)), " "), lambda t: t != "")


def _let(value: Column, body) -> Column:
    """Let-binding for HOF expressions: evaluate ``value`` ONCE per row and
    pass it to ``body`` as a lambda variable.

    Catalyst re-evaluates any expression referenced inside a higher-order-
    function lambda once PER ELEMENT (subexpression elimination does not
    reach into lambda bodies), so ``transform(sequence(...), i ->
    slice(split(text), i, n))`` re-tokenizes the document for every gram —
    O(tokens²).  Wrapping the tokens in a single-element array and
    binding them through ``transform`` makes the lambda reference a
    variable, not the expression: O(tokens).  Measured 3-4× on the n-gram
    operators at sf0.1."""
    return F.element_at(F.transform(F.array(value), body), 1)


def token_count(col) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col)).cast("long")


def bpe_token_count(col) -> Column:
    """BPE-ish token count: how many pre-tokenizer matches the text has
    (the standard cheap proxy for LLM token budgeting at corpus scale).
    regexp_count, not size(regexp_extract_all): the count never
    materializes the match array, which is pure allocation at corpus
    scale (measured ~35% off the full text-stats scan)."""
    return F.regexp_count(F.lower(_c(col)), F.lit(BPE_PATTERN)).cast("long")


def stopword_count(col, lang: str) -> Column:
    """Count (with multiplicity) of tokens in ``lang``'s stopword list."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(tokens(col), lambda t: F.array_contains(stops, t))).cast("long")


def cjk_count(col) -> Column:
    return F.size(F.regexp_extract_all(_c(col), F.lit(_CJK_PATTERN), 0)).cast("long")


def lang_id(col) -> Column:
    """Heuristic language ID: CJK presence → zh, else argmax of stopword
    overlap with a fixed priority order (en > fr > es > de) for ties —
    fully deterministic, expressible in any SQL engine."""
    en, fr, es, de = (stopword_count(col, lg) for lg in ("en", "fr", "es", "de"))
    return (
        F.when(cjk_count(col) > 0, F.lit("zh"))
        .when((en >= fr) & (en >= es) & (en >= de), F.lit("en"))
        .when((fr >= es) & (fr >= de), F.lit("fr"))
        .when(es >= de, F.lit("es"))
        .otherwise(F.lit("de"))
    )


def lang_id_sql(col: str) -> str:
    """The exact DuckDB-SQL equivalent of :func:`lang_id` (oracle)."""
    def sw(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (f"len(list_filter(list_filter(string_split(lower({col}), ' '), t -> t <> ''), "
                f"t -> list_contains([{lst}], t)))")
    return f"""
      CASE WHEN len(regexp_extract_all({col}, '{_CJK_PATTERN}')) > 0 THEN 'zh'
           WHEN {sw('en')} >= {sw('fr')} AND {sw('en')} >= {sw('es')} AND {sw('en')} >= {sw('de')} THEN 'en'
           WHEN {sw('fr')} >= {sw('es')} AND {sw('fr')} >= {sw('de')} THEN 'fr'
           WHEN {sw('es')} >= {sw('de')} THEN 'es'
           ELSE 'de' END
    """


def punct_ratio(col) -> Column:
    """Fraction of non-alphanumeric/space characters (count-only scan —
    no match-array materialization)."""
    n = F.regexp_count(F.lower(_c(col)), F.lit("[^a-z0-9 ]"))
    # try_divide: Spark 4 is ANSI by default — a plain / THROWS on empty docs
    return F.try_divide(n.cast("double"), F.length(_c(col)).cast("double"))


def digit_ratio(col) -> Column:
    n = F.regexp_count(_c(col), F.lit("[0-9]"))
    return F.try_divide(n.cast("double"), F.length(_c(col)).cast("double"))


def stopword_ratio(col) -> Column:
    """English stopword density — the classic fast quality signal."""
    return F.try_divide(stopword_count(col, "en").cast("double"), token_count(col).cast("double"))


def mean_token_len(col) -> Column:
    return F.try_divide(
        F.aggregate(tokens(col), F.lit(0).cast("bigint"), lambda acc, t: acc + F.length(t)).cast("double"),
        token_count(col).cast("double"),
    )


def quality_score(col) -> Column:
    """Composite document-quality score ∈ [0,1]: length band + stopword
    density + low punctuation noise.  Deterministic arithmetic only.

    Zero-token documents score 0: the stopword ratio is 0/0 = NULL there,
    and ``F.least`` SKIPS nulls (would award full credit) — hence the
    coalesce."""
    ntok = token_count(col)
    return (
        F.when((ntok >= 10) & (ntok <= 1000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.least(F.coalesce(stopword_ratio(col), F.lit(0.0)) * 2, F.lit(0.3))
        + F.when(punct_ratio(col) < 0.05, F.lit(0.3)).otherwise(F.lit(0.0))
    )


def quality_score_sql(col: str) -> str:
    """DuckDB equivalent of :func:`quality_score` (oracle)."""
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    stops = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
      (CASE WHEN len({toks}) BETWEEN 10 AND 1000 THEN 0.4 ELSE 0.0 END)
      + least(coalesce(len(list_filter({toks},
           t -> list_contains([{stops}], t)))::DOUBLE
           / nullif(len({toks}), 0), 0.0) * 2, 0.3)
      + (CASE WHEN len(regexp_extract_all(lower({col}), '[^a-z0-9 ]'))::DOUBLE / len({col}) < 0.05
              THEN 0.3 ELSE 0.0 END)
    """


def fingerprint(col) -> Column:
    """Canonical content fingerprint: md5 of the sorted distinct token set
    (order/duplication-insensitive — catches shuffled near-copies)."""
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(col))), " "))


def text_stats(df, id_col: str, text_col: str):
    """Fused text-statistics scan: one row-level pass computing token
    count, BPE-ish token count, mean token length, punctuation ratio
    and the content fingerprint — with the whitespace-token array
    let-bound ONCE and shared by the three token-derived columns
    (calling :func:`token_count` / :func:`mean_token_len` /
    :func:`fingerprint` separately re-splits the text per column; at
    corpus scale that is 3 tokenizations where 1 suffices).  Measured
    ~35% faster than the per-column form at sf0.1, byte-identical
    output (the r6 VERDICT CPU-constant item)."""
    def body(tk: Column) -> Column:
        n = F.size(tk)
        return F.struct(
            n.cast("long").alias("n_tokens"),
            F.try_divide(
                F.aggregate(tk, F.lit(0).cast("bigint"),
                            lambda acc, t: acc + F.length(t)).cast("double"),
                n.cast("double")).alias("mean_token_len"),
            F.md5(F.array_join(F.array_sort(F.array_distinct(tk)), " "))
            .alias("fingerprint"),
        )

    s = _let(tokens(F.col(text_col)), body)
    return df.withColumn("__ts", s).select(
        id_col,
        F.col("__ts.n_tokens").alias("n_tokens"),
        bpe_token_count(text_col).alias("bpe_tokens"),
        F.col("__ts.mean_token_len").alias("mean_token_len"),
        punct_ratio(text_col).alias("punct_ratio"),
        F.col("__ts.fingerprint").alias("fingerprint"),
    )


def shingles(col, n: int = 3) -> Column:
    """Word n-gram shingles (the dedup primitive).  Docs with fewer than
    ``n`` tokens yield a single shingle of the whole text."""
    return _let(tokens(col), lambda toks: F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array(F.array_join(toks, " "))))


def shingles_sql(col: str, n: int = 3) -> str:
    """DuckDB equivalent of :func:`shingles`."""
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    return f"""
      CASE WHEN len({toks}) >= {n}
           THEN [array_to_string(({toks})[i : i + {n - 1}], ' ')
                 for i in range(1, len({toks}) - {n} + 2)]
           ELSE [array_to_string({toks}, ' ')] END
    """


def shingle_fingerprint(col, n: int = 3) -> Column:
    """Min-hash-of-shingles rolling fingerprint (winnowing-lite): the
    lexicographic min of md5(shingle) — robust to local edits."""
    return F.array_min(F.transform(shingles(col, n), F.md5))


# ---------------------------------------------------------------------------
# Repetition / boilerplate signals (Gopher & C4-style corpus gates).
#
# All per-document HOF arithmetic: cost is bounded by doc length, rows are
# independent, so the operators scale embarrassingly-parallel with executors
# — no shuffle, no state, codegen throughout.  Division uses try_divide,
# whose divide-by-zero → NULL matches DuckDB float division exactly, so
# every signal carries an exact SQL oracle (the ``*_sql`` builders).
# ---------------------------------------------------------------------------


def _ngrams(col, n: int) -> Column:
    """Word n-grams as arrays; empty array when the doc has < n tokens
    (unlike :func:`shingles`, which pads for the dedup use-case —
    repetition metrics must NOT count a short doc as one big n-gram)."""
    return _let(tokens(col), lambda toks: F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>")))


def _ngrams_sql(col: str, n: int) -> str:
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    return f"""
      CASE WHEN len({toks}) >= {n}
           THEN [array_to_string(({toks})[i : i + {n - 1}], ' ')
                 for i in range(1, len({toks}) - {n} + 2)]
           ELSE []::VARCHAR[] END
    """


def dup_ngram_fraction(col, n: int = 2) -> Column:
    """Fraction of word n-grams that are repeats of an earlier n-gram:
    ``1 - distinct/total`` (Gopher's duplicate-n-gram gate).  NULL when
    the doc has fewer than ``n`` tokens."""
    grams = _ngrams(col, n)
    return F.lit(1.0) - F.try_divide(
        F.size(F.array_distinct(grams)).cast("double"), F.size(grams)
    )


def dup_ngram_fraction_sql(col: str, n: int = 2) -> str:
    g = _ngrams_sql(col, n)
    return (
        f"1.0 - len(list_distinct({g}))::DOUBLE"
        f" / nullif(len({g}), 0)"
    )


def top_ngram_fraction(col, n: int = 2) -> Column:
    """Fraction of the doc's tokens covered by occurrences of its single
    most frequent n-gram (Gopher's top-n-gram gate): ``max_count * n /
    n_tokens``.  NULL when the doc has fewer than ``n`` tokens.

    Per-row cost is O(tokens · distinct n-grams) — bounded by document
    length, so linear over the corpus.  Overlapping occurrences can push
    ``count × n`` past the token count ("a a a a"), so the coverage is
    clamped to 1.0 — it is a [0,1] fraction by contract."""
    grams = _ngrams(col, n)
    max_count = F.array_max(
        F.transform(
            F.array_distinct(grams),
            lambda d: F.size(F.filter(grams, lambda x: x == d)),
        )
    )
    frac = F.try_divide((max_count * n).cast("double"), token_count(col))
    # NOT F.least: least/greatest SKIP nulls, which would turn the
    # empty-doc NULL into 1.0; when() propagates it
    return F.when(frac > 1.0, F.lit(1.0)).otherwise(frac)


def top_ngram_fraction_sql(col: str, n: int = 2) -> str:
    g = _ngrams_sql(col, n)
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    frac = (
        f"(list_max([len(list_filter({g}, x -> x = d))"
        f" for d in list_distinct({g})]) * {n})::DOUBLE"
        f" / nullif(len({toks}), 0)"
    )
    # CASE, not least(): least skips NULLs (empty doc would become 1.0)
    return f"(CASE WHEN ({frac}) > 1.0 THEN 1.0 ELSE ({frac}) END)"


def lines(col) -> Column:
    """Non-empty trimmed lines."""
    return F.filter(
        F.transform(F.split(_c(col), "\n"), lambda l: F.trim(l)),
        lambda l: l != "",
    )


def _lines_sql(col: str) -> str:
    return f"list_filter([trim(l) for l in string_split({col}, chr(10))], l -> l <> '')"


def repeated_line_fraction(col) -> Column:
    """Fraction of lines that are exact repeats of an earlier line
    (C4/Gopher boilerplate gate).  NULL for whitespace-only docs."""
    ls = lines(col)
    return F.lit(1.0) - F.try_divide(
        F.size(F.array_distinct(ls)).cast("double"), F.size(ls)
    )


def repeated_line_fraction_sql(col: str) -> str:
    ls = _lines_sql(col)
    return f"1.0 - len(list_distinct({ls}))::DOUBLE / nullif(len({ls}), 0)"


def repeated_line_char_fraction(col) -> Column:
    """Fraction of line-characters inside duplicate lines: for each
    distinct line, ``(count - 1) * len`` summed, over total line chars.
    Catches the short-doc case where one long boilerplate line dominates
    even though the line *count* fraction looks small."""
    ls = lines(col)
    dup_chars = F.aggregate(
        F.array_distinct(ls),
        F.lit(0).cast("bigint"),
        lambda acc, d: acc
        + (F.size(F.filter(ls, lambda x: x == d)) - 1) * F.length(d),
    )
    total = F.aggregate(
        ls, F.lit(0).cast("bigint"), lambda acc, l: acc + F.length(l)
    )
    return F.try_divide(dup_chars.cast("double"), total)


def alpha_token_fraction(col) -> Column:
    """Fraction of tokens containing at least one alphabetic character
    (Gopher's 80%-alpha gate).  NULL for token-less docs."""
    toks = tokens(col)
    return F.try_divide(
        F.size(F.filter(toks, lambda t: t.rlike("[a-z]"))).cast("double"),
        F.size(toks),
    )


def alpha_token_fraction_sql(col: str) -> str:
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    return (
        f"len(list_filter({toks}, t -> regexp_matches(t, '[a-z]')))::DOUBLE"
        f" / nullif(len({toks}), 0)"
    )


def gopher_pass(col) -> Column:
    """Composite Gopher-style keep/drop gate: token count in [8, 50000],
    mean token length in [2, 12], ≥ 70% alphabetic tokens, duplicate-
    bigram fraction ≤ 0.6, top-bigram coverage ≤ 0.5.  NULL-safe: a
    missing signal (short doc) never disqualifies on that signal."""
    ntok = token_count(col)
    return (
        (ntok >= 8)
        & (ntok <= 50000)
        & F.coalesce(mean_token_len(col).between(2.0, 12.0), F.lit(False))
        & (F.coalesce(alpha_token_fraction(col), F.lit(1.0)) >= 0.7)
        & (F.coalesce(dup_ngram_fraction(col, 2), F.lit(0.0)) <= 0.6)
        & (F.coalesce(top_ngram_fraction(col, 2), F.lit(0.0)) <= 0.5)
    )


def gopher_pass_sql(col: str) -> str:
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    mean_len = f"list_sum([len(t) for t in {toks}])::DOUBLE / nullif(len({toks}), 0)"
    return (
        f"len({toks}) >= 8 AND len({toks}) <= 50000"
        f" AND coalesce({mean_len} BETWEEN 2.0 AND 12.0, FALSE)"
        f" AND coalesce({alpha_token_fraction_sql(col)}, 1.0) >= 0.7"
        f" AND coalesce({dup_ngram_fraction_sql(col, 2)}, 0.0) <= 0.6"
        f" AND coalesce({top_ngram_fraction_sql(col, 2)}, 0.0) <= 0.5"
    )


#: PII-ish scrub patterns (kept RE2-compatible so Spark's Java regex and
#: DuckDB's RE2 agree): email, IPv4, long digit runs (phone/card-ish).
REDACT_PATTERNS: list[tuple[str, str]] = [
    ("[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    ("\\b\\d{7,}\\b", "<NUM>"),
]


def redact(col) -> Column:
    """Scrub PII-ish spans (emails, IPv4s, long digit runs) with typed
    placeholder tokens.  Pure regexp_replace chain — codegen, no UDF."""
    out = _c(col)
    for pat, repl in REDACT_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redact_sql(col: str) -> str:
    out = col
    for pat, repl in REDACT_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def normalize_text(col) -> Column:
    """Canonical text normalization before hashing/dedup: strip
    ASCII control characters, collapse every whitespace run to one
    space, trim, and ASCII-casefold — the cleanup pass real pipelines
    run FIRST so that exact/near dedup hashes are not defeated by
    formatting noise.  Pure regexp_replace/translate chain — codegen,
    no UDF.

    Casefolding is deliberately ASCII-ONLY (translate A-Z → a-z, not
    lower()): engines disagree on one-to-many Unicode case mappings
    (e.g. U+0130 İ lowers to i+combining-dot in the JVM but plain i in
    DuckDB), which would make norm_text an engine-dependent dedup key.
    Full Unicode casefold/NFKC needs ICU — a mapInPandas batch job in
    this engine, like the other codec-bound steps."""
    out = F.regexp_replace(_c(col), "[\\x00-\\x1f\\x7f]", " ")
    out = F.regexp_replace(out, "\\s+", " ")
    return F.translate(F.trim(out), _UPPER, _LOWER)


def normalize_text_sql(col: str) -> str:
    """DuckDB equivalent of :func:`normalize_text` — translate-based
    casefold, exact on any input (lower() is not cross-engine-exact
    beyond ASCII)."""
    out = f"regexp_replace({col}, '[\\x00-\\x1f\\x7f]', ' ', 'g')"
    out = f"regexp_replace({out}, '\\s+', ' ', 'g')"
    return f"translate(trim({out}), '{_UPPER}', '{_LOWER}')"


def normalize_text_unicode(col) -> Column:
    """FULL Unicode normalization — the ICU-grade sibling of
    :func:`normalize_text` for non-Latin corpora: NFKC compatibility
    normalization (full-width forms, ligatures, compatibility digits all
    collapse to canonical codepoints), full casefold (İ→i̇, ß→ss, Σ/ς→σ
    — one-to-many mappings ASCII translate can't express), then the same
    control-strip / whitespace-collapse / trim.

    This is the documented mapInPandas escape hatch made real: Python's
    ``unicodedata`` carries the Unicode character database in-process,
    so the batch path is an Arrow-vectorized pandas UDF (one Python
    round-trip per ~10k-row batch, NOT per row).  Use it when the corpus
    is non-Latin; keep :func:`normalize_text` (pure Catalyst codegen,
    cross-engine-exact) for ASCII-dominant corpora and oracle-checked
    dedup keys.  No DuckDB oracle — DuckDB ships NFC only (nfc_normalize),
    not NFKC/casefold, so correctness is pinned by property tests
    (tests/test_round3_ops.py) instead."""
    # this module uses future annotations, which stringifies literal type
    # hints into names pandas_udf could not resolve (pd is not a module
    # global) — attach REAL class objects as annotations post-def instead
    import pandas as pd

    def _nfkc_fold(s):
        import re
        import unicodedata

        ctrl = re.compile(r"[\x00-\x1f\x7f]")
        ws = re.compile(r"\s+")

        def one(v):
            if v is None:
                return None
            v = unicodedata.normalize("NFKC", v).casefold()
            return ws.sub(" ", ctrl.sub(" ", v)).strip()

        return s.map(one)

    _nfkc_fold.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_nfkc_fold, "string")
    return udf(_c(col))


def normalize_nfc(col) -> Column:
    """Pure NFC canonical normalization (no casefold, no whitespace
    edits) via the same Arrow-batched pandas UDF shape as the NFKC
    path.  NFC is the one normalization form DuckDB also ships
    (``nfc_normalize``, utf8proc) and the two implementations agree
    codepoint-for-codepoint on canonical composition — which makes this
    the HASH-EXACT member of the Unicode-normalization family
    (ext_normalize_nfc), while NFKC+casefold stays rows-only."""
    import pandas as pd

    def _nfc(s):
        import unicodedata

        return s.map(lambda v: None if v is None
                     else unicodedata.normalize("NFC", v))

    _nfc.__annotations__ = {"s": pd.Series, "return": pd.Series}
    udf = F.pandas_udf(_nfc, "string")
    return udf(_c(col))


def blocklist_hit(col, blocklist: list[str]) -> Column:
    """True when any whitespace token of ``col`` appears in ``blocklist``
    (case-insensitive via the shared tokenizer) — the standard wordlist
    gate (spam/NSFW/boilerplate) as ONE expression: the list rides into
    the plan as an array literal, `arrays_overlap` short-circuits, no
    join, no regex backtracking.  For lists too large for a literal
    (~10⁵+), use :func:`blocklist_hits_join` — same decision, one
    broadcast equi-join."""
    lit = F.array(*[F.lit(w.lower()) for w in blocklist])
    return F.arrays_overlap(tokens(_c(col)), lit)


def blocklist_hits_join(df, id_col: str, text_col: str, words_df,
                        word_col: str = "word") -> "DataFrame":
    """Table form of :func:`blocklist_hit` for big lists: explode tokens,
    broadcast-join the wordlist, count hits per doc.  Returns every input
    row's (id, n_hits, hit) — rows with no tokens or no hits get 0/False
    via the left join.  Plan: one explode + one broadcast equi-join + one
    partial-aggregating groupBy; the wordlist is the build side, never
    the corpus."""
    toks = df.select(
        _c(id_col).alias("__id"), F.explode(tokens(_c(text_col))).alias("__tok"))
    wl = words_df.select(F.lower(_c(word_col)).alias("__tok")).distinct()
    hits = (
        toks.join(F.broadcast(wl), on="__tok")
        .groupBy("__id").agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        df.select(_c(id_col).alias("__id"))
        .join(hits, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("hit"),
        )
    )


# ---------------------------------------------------------------------------
# co-occurrence / collocation mining
# ---------------------------------------------------------------------------


def cooccurrence_pairs(col, window: int = 2) -> Column:
    """Unordered token-pair strings ``"w1 w2"`` (w1 < w2, identical-token
    pairs dropped) for every pair of tokens at most ``window`` positions
    apart — the per-document leg of collocation/PMI mining (word-embedding
    pre-aggregation, phrase detection).

    One HOF chain per offset k ∈ 1..window: zip tokens with their k-shifted
    selves — O(tokens · window) work, tokens bound ONCE via the `_let`
    pattern.  Tokens are whitespace-split so the pair string is losslessly
    splittable on its single space."""

    def body(toks: Column) -> Column:
        n = F.size(toks)
        per_offset = [
            F.when(
                n > k,
                F.zip_with(
                    F.slice(toks, 1, n - k),
                    F.slice(toks, k + 1, n - k),
                    lambda a, b: F.when(
                        a != b,
                        F.concat_ws(" ", F.least(a, b), F.greatest(a, b)),
                    ),
                ),
            ).otherwise(F.array().cast("array<string>"))
            for k in range(1, window + 1)
        ]
        arr = per_offset[0] if len(per_offset) == 1 else F.concat(*per_offset)
        return F.filter(arr, lambda x: x.isNotNull())

    return _let(tokens(col), body)


def cooccurrence_pairs_sql(col: str, window: int = 2) -> str:
    """DuckDB equivalent of :func:`cooccurrence_pairs` (oracle)."""
    toks = f"list_filter(string_split(lower({col}), ' '), t -> t <> '')"
    per_offset = []
    for k in range(1, window + 1):
        per_offset.append(
            f"""CASE WHEN len({toks}) > {k}
                 THEN [CASE WHEN ({toks})[i] <> ({toks})[i + {k}]
                            THEN concat_ws(' ', least(({toks})[i], ({toks})[i + {k}]),
                                                greatest(({toks})[i], ({toks})[i + {k}])) END
                       for i in range(1, len({toks}) - {k} + 1)]
                 ELSE []::VARCHAR[] END"""
        )
    arr = per_offset[0] if len(per_offset) == 1 else "list_concat(" + ", ".join(per_offset) + ")"
    return f"list_filter({arr}, x -> x IS NOT NULL)"


# ---------------------------------------------------------------------------
# markup stripping (HTML/boilerplate removal)
# ---------------------------------------------------------------------------

#: Ordered strip chain.  Block elements (script/style/comments) go first so
#: their CONTENT dies with the tags; generic tags next; entities LAST —
#: "&amp;lt;" must decode to the literal "&lt;", which only happens when
#: &amp; is the final pass.  Every pattern is RE2-safe (non-greedy, no
#: backrefs) so Spark (java.util.regex) and DuckDB (RE2) agree exactly.
MARKUP_PATTERNS: list[tuple[str, str]] = [
    (r"(?i)<script[^>]*>[\s\S]*?</script>", " "),
    (r"(?i)<style[^>]*>[\s\S]*?</style>", " "),
    (r"<!--[\s\S]*?-->", " "),
    (r"<[^>]+>", " "),
    (r"(?i)&lt;", "<"),
    (r"(?i)&gt;", ">"),
    (r"(?i)&quot;", "\""),
    (r"&#39;", "'"),
    (r"(?i)&nbsp;", " "),
    (r"(?i)&amp;", "&"),
]


def strip_markup(col) -> Column:
    """HTML/boilerplate strip: script/style/comment blocks removed with
    their content, all remaining tags replaced by spaces, the six common
    entities decoded, whitespace collapsed and trimmed — the crawl-corpus
    text-extraction pass, as a pure regexp_replace chain (codegen, no UDF,
    zero shuffles).  Not a full HTML5 parser by design: malformed-tag edge
    cases degrade to leaving text in place, never to dropping it."""
    out = _c(col)
    for pat, repl in MARKUP_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return F.trim(F.regexp_replace(out, r"\s+", " "))


def strip_markup_sql(col: str) -> str:
    """DuckDB equivalent of :func:`strip_markup` (oracle)."""
    out = col
    for pat, repl in MARKUP_PATTERNS:
        # DuckDB plain string literals keep backslashes verbatim — only
        # quotes need escaping (redact_sql uses the same convention)
        p = pat.replace("'", "''")
        r = repl.replace("'", "''")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


# ---------------------------------------------------------------------------
# URL canonicalization (crawl-corpus curation)
# ---------------------------------------------------------------------------

#: Ordered canonicalization chain.  Replacements use Spark's ``$1`` group
#: syntax; the SQL twin rewrites them to RE2's ``\1``.  No lookarounds —
#: DuckDB's RE2 has none, so default-port stripping captures the following
#: delimiter instead.  Case is NOT normalized (paths are case-sensitive;
#: hosts in this engine's synthetic corpora are already lowercase).
URL_NORMALIZE_PATTERNS: list[tuple[str, str]] = [
    (r"#.*$", ""),                                               # fragment
    (r"([?&])(?:utm_[a-zA-Z0-9_]+|gclid|fbclid)=[^&]*", "$1"),   # tracking params
    (r"&&+", "&"),                                               # collapsed separators
    (r"\?&+", "?"),
    (r"[?&]+$", ""),                                             # dangling separators
    (r"^(http://[^/:?#]+):80([/?#]|$)", "$1$2"),                 # default ports
    (r"^(https://[^/:?#]+):443([/?#]|$)", "$1$2"),
]

_URL_HOST_PATTERN = r"^[a-z][a-z0-9+.-]*://([^/:?#]+)"


def url_normalize(col) -> Column:
    """Canonical URL for dedup/per-domain keying: strip the fragment,
    tracking parameters (utm_*/gclid/fbclid), dangling separators the
    removal leaves behind, and default ports (http:80 / https:443) — the
    normalization pass that runs BEFORE URL-keyed dedup so the same page
    fetched via ten campaign links collapses to one key.  Pure
    regexp_replace chain, codegen, zero shuffles."""
    out = _c(col)
    for pat, repl in URL_NORMALIZE_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def url_normalize_sql(col: str) -> str:
    """DuckDB equivalent of :func:`url_normalize` (``$n`` → ``\\n``)."""
    out = col
    for pat, repl in URL_NORMALIZE_PATTERNS:
        p = pat.replace("'", "''")
        r = repl.replace("$", "\\")
        out = f"regexp_replace({out}, '{p}', '{r}', 'g')"
    return out


def url_host(col) -> Column:
    """Host (authority minus port/userinfo suffix handling: port only) of
    a URL; empty string when the value has no scheme://host shape."""
    return F.regexp_extract(_c(col), _URL_HOST_PATTERN, 1)


def url_host_sql(col: str) -> str:
    return f"coalesce(regexp_extract({col}, '{_URL_HOST_PATTERN}', 1), '')"


def url_domain(col) -> Column:
    """Host with a leading ``www.`` stripped — the per-domain grouping key
    for source caps and domain-level dedup."""
    return F.regexp_replace(url_host(col), r"^www\.", "")


def url_domain_sql(col: str) -> str:
    return f"regexp_replace({url_host_sql(col)}, '^www\\.', '')"


def markdown_sections(df, id_col: str, text_col: str):
    """RAG-prep structure extraction: split markdown-ish documents into
    (id, section_idx, heading, body) rows at lines starting with ``#``
    (lookahead split keeps the heading with its section); the heading
    row is stripped of its leading hashes, text before any heading
    becomes a NULL-heading preamble section.  Pure split + posexplode +
    regexp — codegen, zero UDFs, zero shuffles (sections explode in
    place; downstream chunkers/token budgets take over per section)."""
    parts = F.split(_c(text_col), "\\n(?=#)")
    sec = df.select(
        _c(id_col).alias("id"),
        F.posexplode(parts).alias("section_idx", "__s"),
    )
    has_heading = F.col("__s").startswith("#")
    heading = F.when(
        has_heading,
        F.regexp_replace(F.regexp_extract(F.col("__s"), "^([^\\n]*)", 1),
                         "^#+\\s*", ""))
    body = F.when(
        has_heading,
        F.when(F.col("__s").contains("\n"),
               F.expr("substring(__s, instr(__s, '\n') + 1)"))
         .otherwise(F.lit("")),
    ).otherwise(F.col("__s"))
    return sec.select("id", "section_idx", heading.alias("heading"),
                      body.alias("body"))
