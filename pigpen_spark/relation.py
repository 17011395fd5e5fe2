"""The Relation API — PigPen's operator surface, Spark-first.

A :class:`Relation` is a thin, immutable, fluent wrapper around a lazy
``pyspark.sql.DataFrame``.  Catalyst *is* our IR: the reference's
expression-tree → oven/bake → codegen pipeline (SURVEY §3-4) collapses to
"call DataFrame methods and let the optimizer work".

Two operator paths, mirroring the reference's native/frozen split
(reference: pigpen-core/src/main/clojure/pigpen/model.clj:34-35 FieldType):

- **typed path** (preferred): operators take Column expressions and compile
  to pure Catalyst plans — whole-stage codegen, predicate pushdown, column
  pruning, partial aggregation all apply.
- **opaque path** (``*_py`` methods): operators take arbitrary Python
  callables.  Consecutive Python ops are *fused* into a single
  ``mapInPandas`` call — one Arrow round-trip per chain — reproducing the
  reference's ``optimize-binds`` rewrite (pigpen-core/src/main/clojure/
  pigpen/oven.clj:189-248) which composes maximal bind chains into one UDF.

Operator semantics are taken from the reference's functional test corpus
(SURVEY §5): nil keys don't join unless ``join_nils``; ``filter_by`` keeps
duplicate multiplicities from the keys relation; ``reduce``/``fold`` of an
empty relation is empty (not a single null row); sort keys are consumed;
set ops come in distinct and multiset flavors.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable, Iterable, Iterator, Sequence
from typing import Any

from pigpen_spark.cache import checkpointed as _checkpointed, persisted as _persisted
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pigpen_spark.fold import Fold

_counter = itertools.count()


def _gensym(prefix: str) -> str:
    """Unique internal column name (reference: namespaced field symbols,
    pigpen-core/src/main/clojure/pigpen/raw.clj:32-38)."""
    return f"__pp_{prefix}_{next(_counter)}"


def _to_col(c: Any) -> Column:
    """Canonical column coercion — import this rather than redefining it
    (operators/functions modules share it)."""
    return c if isinstance(c, Column) else F.col(c)


#: spread() repartitions inputs estimated smaller than this — small enough
#: that the extra exchange is trivially cheap, large enough to cover the
#: single-row-group local files that otherwise serialize on one core.
_SPREAD_MAX_BYTES = 256 * 1024 * 1024


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition SMALL inputs across cores before a CPU-bound stage.

    Small single-file inputs arrive in one scan partition and serialize on
    one core; an unconditional repartition would instead add a full extra
    exchange on an already-well-partitioned 100 TB input.  The guard uses
    the optimizer's size ESTIMATE (plan statistics — no execution): small
    estimate → repartition, large/unknown estimate → leave alone.  (Never
    ``df.rdd.getNumPartitions()`` here — under AQE that finalizes the plan
    and eagerly runs the upstream stages just to read a number.)"""
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    try:
        est = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())  # noqa: SLF001
    except Exception:
        return df
    if 0 <= est <= _SPREAD_MAX_BYTES:
        return df.repartition(par)
    return df


ColumnLike = "Column | str"


# ---------------------------------------------------------------------------
# Python-op fusion (the optimize-binds analog)
# ---------------------------------------------------------------------------


class _PyOp:
    """One deferred Python row-op: kind ∈ {map, mapcat, filter}."""

    __slots__ = ("kind", "fn")

    def __init__(self, kind: str, fn: Callable):
        self.kind = kind
        self.fn = fn


def _compile_chain(ops: Sequence[_PyOp]) -> Callable[[dict], Iterator[dict]]:
    """Compose a chain of row-level Python ops into one row → iter[row] fn.

    Mirrors the reference's bind adapters (map->bind / mapcat->bind /
    filter->bind, pigpen-core/src/main/clojure/pigpen/runtime.clj:32-86)
    composed by optimize-binds into a single UDF invocation per chain.
    """

    def run(row: dict) -> Iterator[dict]:
        batch: list = [row]
        for op in ops:
            if op.kind == "map":
                batch = [op.fn(r) for r in batch]
            elif op.kind == "filter":
                batch = [r for r in batch if op.fn(r)]
            elif op.kind == "mapcat":
                batch = [o for r in batch for o in op.fn(r)]
            else:  # pragma: no cover
                raise ValueError(op.kind)
            if not batch:
                return iter(())
        return iter(batch)

    return run


# ---------------------------------------------------------------------------
# Relation
# ---------------------------------------------------------------------------


class Relation:
    """An unordered bag of records (reference: SURVEY §1.1), lazily backed by
    a DataFrame plus an optional pending chain of fused Python ops."""

    def __init__(self, df: DataFrame, _pending: tuple = (), _pending_schema: str | None = None):
        self._df = df
        self._pending: tuple[_PyOp, ...] = tuple(_pending)
        self._pending_schema = _pending_schema  # output schema of pending chain

    # -- plumbing -----------------------------------------------------------

    @property
    def df(self) -> DataFrame:
        """Materialize pending Python ops into ONE mapInPandas call."""
        if not self._pending:
            return self._df
        ops = self._pending
        out_schema = self._pending_schema or self._df.schema
        chain = _compile_chain(ops)

        def eval_chain(batches):
            import pandas as pd

            for pdf in batches:
                rows = [r for rec in pdf.to_dict("records") for r in chain(rec)]
                if rows:
                    yield pd.DataFrame(rows)

        return self._df.mapInPandas(eval_chain, schema=out_schema)

    def _with(self, df: DataFrame) -> "Relation":
        return Relation(df)

    def _push(self, op: _PyOp, schema: str | None) -> "Relation":
        return Relation(self._df, self._pending + (op,), schema or self._pending_schema)

    @property
    def spark(self) -> SparkSession:
        return self._df.sparkSession

    @property
    def columns(self) -> list[str]:
        return self.df.columns

    def alias(self, name: str) -> "Relation":
        """reference: noop$ for field renaming / self-join disambiguation
        (pigpen-core/src/main/clojure/pigpen/raw.clj:570-581)."""
        return self._with(self.df.alias(name))

    # -- per-record transforms (§2.2) --------------------------------------

    def map(self, *cols: ColumnLike, **named: ColumnLike) -> "Relation":
        """Typed projection: ``map(F.col('x')+1, y=expr)`` → select.

        reference: pigpen.map/map (pigpen-core/src/main/clojure/pigpen/
        map.clj:31-77) with a resolvable expression body.
        """
        exprs = [_to_col(c) for c in cols]
        exprs += [_to_col(c).alias(n) for n, c in named.items()]
        return self._with(self.df.select(*exprs))

    select = map  # familiar alias

    def with_column(self, name: str, col: ColumnLike) -> "Relation":
        return self._with(self.df.withColumn(name, _to_col(col)))

    def map_py(self, fn: Callable[[dict], dict], schema: str | None = None) -> "Relation":
        """Opaque 1→1 transform over row-dicts; fused with neighbors.

        reference: map->bind (runtime.clj:32-48)."""
        return self._push(_PyOp("map", fn), schema)

    def mapcat(self, col: ColumnLike, alias: str = "value", keep: Sequence[str] = ()) -> "Relation":
        """Typed 1→N: explode an array expression (lateral view).

        reference: pigpen.map/mapcat (map.clj:79-111); flatten projections
        (raw.clj:184-275)."""
        keep_cols = [F.col(c) for c in keep]
        return self._with(self.df.select(*keep_cols, F.explode(_to_col(col)).alias(alias)))

    def mapcat_py(self, fn: Callable[[dict], Iterable[dict]], schema: str | None = None) -> "Relation":
        """Opaque 1→N (reference: mapcat->bind, runtime.clj:50-66)."""
        return self._push(_PyOp("mapcat", fn), schema)

    def filter(self, cond: ColumnLike) -> "Relation":
        """Typed filter → Catalyst predicate (pushdown-eligible).

        reference: pigpen.filter/filter (filter.clj:31-65) and the native
        filter$ s-expr subset (raw.clj:375-391) — Catalyst subsumes both."""
        return self._with(self.df.filter(_to_col(cond)))

    where = filter

    def filter_py(self, fn: Callable[[dict], bool]) -> "Relation":
        """Opaque filter (reference: filter->bind, runtime.clj:68-86)."""
        return self._push(_PyOp("filter", fn), None)

    def remove(self, cond: ColumnLike) -> "Relation":
        """reference: pigpen.filter/remove (filter.clj:67-80)."""
        return self._with(self.df.filter(~_to_col(cond)))

    def remove_py(self, fn: Callable[[dict], bool]) -> "Relation":
        return self._push(_PyOp("filter", lambda r: not fn(r)), None)

    def map_partitions(self, fn, schema) -> "Relation":
        """Arrow-batched partition-wise transform (mapInPandas passthrough):
        the last-resort imperative escape hatch."""
        return self._with(self.df.mapInPandas(fn, schema=schema))

    def map_indexed(self, order_by: Sequence[ColumnLike] | None = None, index_col: str = "index", dense: bool = True) -> "Relation":
        """Attach a 0-based index (reference: rank$ + map-indexed,
        pigpen-core/src/main/clojure/pigpen/map.clj:113-162, raw.clj:357-371).

        dense+ordered → ``row_number() over (order by …) - 1`` (one total
        exchange, same cost class as the reference's RANK); un-ordered sparse
        → ``monotonically_increasing_id`` (no shuffle at all — preferred at
        scale when only uniqueness matters).
        """
        if order_by:
            w = Window.orderBy(*[_to_col(c) for c in order_by])
            idx = (F.row_number().over(w) - F.lit(1)).cast("long")
            return self._with(self.df.withColumn(index_col, idx))
        if dense:
            # zipWithIndex semantics (0..n-1, arbitrary but stable order),
            # fully COLUMNAR: monotonically_increasing_id packs the
            # partition index in the high 31 bits and the per-partition
            # record number in the low 33 (documented layout), so
            # dense index = global-offset(partition) + low 33 bits.
            # One tiny count-per-partition collect (windows.partition_offsets)
            # replaces the RDD zipWithIndex round-trip through Python.
            # The id column is frozen in a registered local checkpoint:
            # it must be identical between the count pass and the output
            # pass, however the output is consumed.
            from pigpen_spark.operators.windows import partition_offsets

            mid = _gensym("mid")
            tagged = self.df.withColumn(mid, F.monotonically_increasing_id()) \
                .transform(_checkpointed, eager=False)
            off, _ = partition_offsets(tagged, F.shiftright(F.col(mid), 33).cast("int"))
            local = F.col(mid).bitwiseAND(F.lit((1 << 33) - 1))
            return self._with(
                tagged.withColumn(index_col, (off + local).cast("long")).drop(mid)
            )
        return self._with(self.df.withColumn(index_col, F.monotonically_increasing_id()))

    # -- sort / limit / sample (§2.5) --------------------------------------

    def sort(self, *cols: ColumnLike, ascending: bool | Sequence[bool] | None = None,
             parallel: int | None = None) -> "Relation":
        """Total order (reference: pigpen.map/sort, map.clj:164-250).
        Spark range-partitions the sort — no single-reducer bottleneck.

        Columns may already be SortOrder expressions (``col.desc()``); they
        are passed through untouched unless ``ascending`` is given.

        ``parallel`` is the reference's ``{:parallel n}`` reducer hint
        (map.clj:164-250): it pins the number of range partitions instead
        of ``spark.sql.shuffle.partitions``.  With AQE on, the default
        path usually picks a good width on its own — the hint exists for
        parity and for pinning output-file counts."""
        exprs = [_to_col(c) for c in cols]
        if ascending is not None:
            asc = [ascending] * len(exprs) if isinstance(ascending, bool) else list(ascending)
            if len(asc) != len(exprs):
                raise ValueError(f"sort: {len(asc)} ascending flags for {len(exprs)} columns")
            exprs = [e.asc() if a else e.desc() for e, a in zip(exprs, asc)]
        if parallel:
            # repartitionByRange(n, keys) + sortWithinPartitions == a total
            # order across exactly n range partitions (same plan orderBy
            # builds, with the width pinned).
            df = self.df.repartitionByRange(parallel, *exprs).sortWithinPartitions(*exprs)
            return self._with(df)
        return self._with(self.df.orderBy(*exprs))

    def sort_by(self, key: ColumnLike, ascending: bool = True,
                parallel: int | None = None) -> "Relation":
        """Sort by a computed key; the key is consumed (not in the output),
        reproducing the reference's semantics (raw.clj:340-355).
        ``parallel`` as in :meth:`sort`."""
        k = _gensym("sortkey")
        df = self.df.withColumn(k, _to_col(key))
        order = F.col(k).asc() if ascending else F.col(k).desc()
        if parallel:
            df = df.repartitionByRange(parallel, order).sortWithinPartitions(order)
        else:
            df = df.orderBy(order)
        return self._with(df.drop(k))

    def take(self, n: int) -> "Relation":
        """reference: pigpen.filter/take → LIMIT (filter.clj:82-95)."""
        return self._with(self.df.limit(n))

    def sample(self, p: float, seed: int | None = None) -> "Relation":
        """Bernoulli sample (reference: filter.clj:97-112)."""
        return self._with(self.df.sample(fraction=p, seed=seed))

    # -- set operations (§2.6) ---------------------------------------------

    def concat(self, *others: "Relation") -> "Relation":
        """Bag union / UNION ALL (reference: pigpen.set/concat,
        set.clj:155-197). No shuffle — pure partition union."""
        df = self.df
        for o in others:
            df = df.unionByName(o.df)
        return self._with(df)

    union_multiset = concat

    def union(self, *others: "Relation") -> "Relation":
        """Distinct union (reference: set.clj:127-153)."""
        return self.concat(*others).distinct()

    def distinct(self, partition_by: ColumnLike | None = None, parallel: int | None = None) -> "Relation":
        """reference: set.clj:104-125.  The hints control the OUTPUT
        partitioning (the reference's {:partition-by f} routed keys to
        chosen reducers for downstream locality): Spark's distinct always
        shuffles on all columns internally, so a pre-repartition would be
        a wasted extra exchange — the hints apply after."""
        df = self.df.distinct()
        if partition_by is not None:
            df = df.repartition(*([parallel] if parallel else []), _to_col(partition_by))
        elif parallel:
            df = df.repartition(parallel)
        return self._with(df)

    def intersection(self, *others: "Relation") -> "Relation":
        """Distinct ∩, N-ary (reference: set.clj:199-221)."""
        df = self.df
        for o in others:
            df = df.intersect(o.df)
        return self._with(df)

    def intersection_multiset(self, *others: "Relation") -> "Relation":
        """Min-multiplicity ∩ (reference: set.clj:223-245) → intersectAll."""
        df = self.df
        for o in others:
            df = df.intersectAll(o.df)
        return self._with(df)

    def difference(self, *others: "Relation") -> "Relation":
        """Distinct − , set semantics: an element present in ANY other is
        excluded entirely (reference: set.clj:247-269 — Clojure
        set/difference) = SQL EXCEPT."""
        df = self.df
        for o in others:
            df = df.subtract(o.df)
        return self._with(df)

    def difference_multiset(self, *others: "Relation") -> "Relation":
        """Multiplicity-subtracting − (reference: set.clj:271-293)."""
        df = self.df
        for o in others:
            df = df.exceptAll(o.df)
        return self._with(df)

    # -- joins & grouping (§2.3) -------------------------------------------

    def join(
        self,
        other: "Relation",
        on: ColumnLike | Sequence[ColumnLike] | None = None,
        right_on: ColumnLike | Sequence[ColumnLike] | None = None,
        how: str = "inner",
        join_nils: bool = False,
        broadcast_other: bool = False,
    ) -> "Relation":
        """N-way-composable equi-join on (possibly computed) keys.

        reference: pigpen.join/join (join.clj:166-193, 360-401).  Default
        SQL NULL semantics = the reference's "nil keys never match";
        ``join_nils=True`` = null-safe equality (``<=>``), the reference's
        {:join-nils true} (join.clj:31-45).  ``:required/:optional`` input
        tags map to how ∈ {inner, left, right, full} (script.clj:321-336).

        Scale: equi-join → Catalyst picks broadcast/sort-merge/shuffled-hash
        via AQE; ``broadcast_other`` forces the hint for known-small dims.
        """
        valid_how = {"inner", "left", "left_outer", "leftouter", "right",
                     "right_outer", "rightouter", "full", "full_outer",
                     "fullouter", "outer", "cross", "left_semi", "leftsemi",
                     "semi", "left_anti", "leftanti", "anti"}
        if how not in valid_how:
            raise ValueError(f"join: how={how!r} not one of {sorted(valid_how)}")
        lk = [on] if isinstance(on, (str, Column)) else list(on or [])
        rk = [right_on] if isinstance(right_on, (str, Column)) else list(right_on or lk)
        if len(lk) != len(rk):
            raise ValueError(f"join: {len(lk)} left keys vs {len(rk)} right keys")
        ldf, rdf = self.df, other.df
        rdf = F.broadcast(rdf) if broadcast_other else rdf

        if not lk:
            if how == "cross":
                return self._with(ldf.crossJoin(rdf))
            raise ValueError(f"join: no keys given and how={how!r} is not 'cross'")
        if how == "cross":
            raise ValueError("join: how='cross' takes no keys (omit on=)")

        if all(isinstance(c, str) for c in lk) and [str(c) for c in lk] == [str(c) for c in rk] and not join_nils:
            # same-named string keys: use USING-style join → output has ONE
            # key column, no ambiguity, and Catalyst prunes the duplicate.
            return self._with(ldf.join(rdf, on=lk, how=how))

        lkeys = [_gensym("jk") for _ in lk]
        rkeys = [_gensym("jk") for _ in rk]
        for name, expr in zip(lkeys, lk):
            ldf = ldf.withColumn(name, _to_col(expr))
        for name, expr in zip(rkeys, rk):
            rdf = rdf.withColumn(name, _to_col(expr))
        conds = [
            ldf[ln].eqNullSafe(rdf[rn]) if join_nils else (ldf[ln] == rdf[rn])
            for ln, rn in zip(lkeys, rkeys)
        ]
        cond = conds[0]
        for c in conds[1:]:
            cond = cond & c
        joined = ldf.join(rdf, on=cond, how=how).drop(*lkeys, *rkeys)
        # same-named string keys must yield ONE key column regardless of
        # join_nils (the USING-style fast path above returns one; leaving
        # two here would make the schema depend on the join_nils flag and
        # poison downstream F.col(name) with AMBIGUOUS_REFERENCE).
        # Semi/anti outputs carry only left columns — nothing to merge.
        same_named = [] if how in ("left_semi", "leftsemi", "semi", "left_anti", "leftanti", "anti") else [
            str(a) for a, b in zip(lk, rk)
            if isinstance(a, str) and isinstance(b, str) and a == b
        ]
        for name in same_named:
            joined = (
                joined.withColumn(f"__ppmerge_{name}", F.coalesce(ldf[name], rdf[name]))
                .drop(ldf[name])
                .drop(rdf[name])
                .withColumnRenamed(f"__ppmerge_{name}", name)
            )
        return self._with(joined)

    def filter_by(self, key: ColumnLike, keys: "Relation", keys_col: ColumnLike | None = None,
                  broadcast_keys: bool = True) -> "Relation":
        """Semi-join that KEEPS duplicate multiplicities from the keys
        relation and matches NULL keys when NULL is present in ``keys``.

        reference: pigpen.join/filter-by (join.clj:403-441); dup-key
        semantics per functional/join_test.clj:655-668 (a key appearing
        twice in ``keys`` duplicates matching rows) — hence an INNER join
        against the (non-deduped) key column, not left_semi.  NULL keys use
        the sentinel → null-safe equality here (join.clj:37-45).
        """
        kcol = _gensym("fbk")
        keys_df = keys.df.select(_to_col(keys_col if keys_col is not None else keys.df.columns[0]).alias(kcol))
        if broadcast_keys:
            keys_df = F.broadcast(keys_df)
        lk = _gensym("lk")
        ldf = self.df.withColumn(lk, _to_col(key))
        out = ldf.join(keys_df, on=ldf[lk].eqNullSafe(keys_df[kcol]), how="inner")
        return self._with(out.drop(lk, kcol))

    def remove_by(self, key: ColumnLike, keys: "Relation", keys_col: ColumnLike | None = None) -> "Relation":
        """Anti-join (reference: join.clj:443-483): drop rows whose key
        appears in ``keys``; NULL-safe so a NULL in ``keys`` removes
        NULL-key rows."""
        kcol = _gensym("rbk")
        keys_df = keys.df.select(_to_col(keys_col if keys_col is not None else keys.df.columns[0]).alias(kcol))
        lk = _gensym("lk")
        ldf = self.df.withColumn(lk, _to_col(key))
        out = ldf.join(keys_df, on=ldf[lk].eqNullSafe(keys_df[kcol]), how="left_anti")
        return self._with(out.drop(lk))

    def group_by(self, *keys: ColumnLike, **named_keys: ColumnLike) -> "GroupedRelation":
        """reference: pigpen.join/group-by (join.clj:195-223)."""
        exprs = [_to_col(k) for k in keys] + [_to_col(v).alias(n) for n, v in named_keys.items()]
        return GroupedRelation(self, exprs)

    def cube(self, *keys: ColumnLike, **named_keys: ColumnLike) -> "GroupedRelation":
        """Multi-dimensional aggregation over ALL key subsets (extension
        beyond the reference — Catalyst expands the grouping sets in one
        pass, no per-subset rescans).  Rolled-up dimensions are NULL in
        the output, matching SQL CUBE."""
        exprs = [_to_col(k) for k in keys] + [_to_col(v).alias(n) for n, v in named_keys.items()]
        return GroupedRelation(self, exprs, mode="cube")

    def rollup(self, *keys: ColumnLike, **named_keys: ColumnLike) -> "GroupedRelation":
        """Hierarchical aggregation over key PREFIXES (extension beyond
        the reference) — SQL ROLLUP semantics, one pass."""
        exprs = [_to_col(k) for k in keys] + [_to_col(v).alias(n) for n, v in named_keys.items()]
        return GroupedRelation(self, exprs, mode="rollup")

    def flatten_struct(self, col: str, drop: bool = True) -> "Relation":
        """Expand a struct column into top-level columns (reference:
        keyword-field-selector->bind, runtime.clj:107-128 — map values →
        N native columns, used around store-parquet)."""
        dt = self.df.schema[col].dataType
        if not hasattr(dt, "fields"):
            raise TypeError(f"flatten_struct: column {col!r} is {dt.simpleString()}, not a struct")
        fields = [F.col(f"{col}.{f.name}").alias(f.name) for f in dt.fields]
        keep = [c for c in self.df.columns if not (drop and c == col)]
        return self._with(self.df.select(*keep, *fields))

    def select_indexed(self, col: str, fields: Sequence[tuple[str, str]],
                       rest_col: str | None = None, drop: bool = True) -> "Relation":
        """Positional field selection over a sequence column (reference:
        indexed-field-selector->bind, runtime.clj:130-148 — a seq value
        becomes the first n fields BY POSITION, the untyped remainder stays
        a seq).  ``fields`` is [(name, sql_type), …]; element i of ``col``
        (1-based in Spark, 0-based here) is cast to sql_type.  Missing
        elements → NULL (the reference's nth-on-short-seq behavior for
        optional trailing fields).  ``rest_col`` captures elements beyond
        the selected prefix as an array<string>.

        Typical use: ``load_tsv`` without a schema yields
        ``value: array<string>`` rows; this turns the first n positions
        into typed named columns — the untyped-load → typed-projection
        split the reference models (io_test.clj load-tsv cases)."""
        n = len(fields)
        src = _to_col(col)
        # try_element_at: ANSI-safe NULL past the end (element_at THROWS on
        # short rows under Spark 4's default ANSI mode)
        typed = [
            F.try_element_at(src, F.lit(i + 1)).cast(t).alias(name)
            for i, (name, t) in enumerate(fields)
        ]
        keep = [c for c in self.df.columns if not (drop and c == col)]
        out = [*keep, *typed]
        if rest_col is not None:
            rest = F.when(F.size(src) > n, F.slice(src, n + 1, F.size(src) - n)) \
                    .otherwise(F.array().cast("array<string>"))
            out.append(rest.alias(rest_col))
        return self._with(self.df.select(*out))

    def cogroup(
        self,
        others: Sequence[tuple["Relation", ColumnLike]],
        on: ColumnLike,
        required: Sequence[bool] | None = None,
        bag_col: str = "bag",
        folds: dict[int, "Fold"] | None = None,
    ) -> "Relation":
        """N-ary cogroup: key → one collected bag per input; empty bag → NULL.

        reference: pigpen.join/cogroup (join.clj:82-117); local spec
        local.clj:366-399.  ``required[i]`` = the reference's ``:required``
        tag — keys absent from a required input are dropped (inner side).
        NULL keys group with NULL (Spark groupBy treats NULL as a key, same
        as Clojure group-by nil key) but never *join* across inputs unless
        they do here via null-safe join — matching group$ :group-nils.

        Implementation: per-input groupBy(collect_list) then null-safe full
        outer join on key — each input aggregates map-side (partial
        collect_list) before one shuffle each; no driver involvement.

        ``folds[i]`` replaces input i's bag with an aggregate — the
        reference's per-input ``:fold`` option (join.clj:82-117,
        fold-in-cogroup tests join_test.clj:361-419): the fold runs WITH
        map-side partials instead of materializing the bag.
        """
        inputs: list[tuple[Relation, ColumnLike]] = [(self, on)] + list(others)
        req = list(required or [True] * len(inputs))
        if len(req) != len(inputs):
            raise ValueError(
                f"cogroup: required has {len(req)} entries for {len(inputs)} inputs "
                "(self counts as the first input)"
            )
        folds = folds or {}
        bad = [i for i in folds if not 0 <= i < len(inputs)]
        if bad:
            raise ValueError(f"cogroup: fold indexes {bad} out of range for {len(inputs)} inputs")
        grouped: list[DataFrame] = []
        for i, (rel, keyexpr) in enumerate(inputs):
            df = rel.df
            value_cols = list(df.columns)
            ki = f"__ppk_{i}"
            df = df.withColumn(ki, _to_col(keyexpr))
            if i in folds:
                # a fold can legitimately be NULL for present keys (e.g.
                # sum over all-NULL values) — carry an explicit presence
                # count so the required-filter below doesn't drop them
                bag = Fold.to_column(folds[i]).alias(f"{bag_col}_{i}")
                cnt = F.count(F.lit(1)).alias(f"__ppcnt_{i}")
                grouped.append(df.groupBy(ki).agg(bag, cnt))
            else:
                bag = F.collect_list(F.struct(*[F.col(c) for c in value_cols])).alias(f"{bag_col}_{i}")
                grouped.append(df.groupBy(ki).agg(bag))
        out = grouped[0]
        for i in range(1, len(grouped)):
            g = grouped[i]
            out = out.join(g, on=F.col("__ppk_0").eqNullSafe(F.col(f"__ppk_{i}")), how="full")
            out = out.withColumn("__ppk_0", F.coalesce(F.col("__ppk_0"), F.col(f"__ppk_{i}"))).drop(f"__ppk_{i}")
        for i, r in enumerate(req):
            if r:
                presence = F.col(f"__ppcnt_{i}") if i in folds else F.col(f"{bag_col}_{i}")
                out = out.filter(presence.isNotNull())
        out = out.drop(*[f"__ppcnt_{i}" for i in folds])
        return self._with(out.withColumnRenamed("__ppk_0", "key"))

    def cogroup_stream(self, others: Sequence[tuple["Relation", ColumnLike]],
                       on: ColumnLike, init, accumulate, finish, schema,
                       key_names: Sequence[str] | None = None,
                       num_partitions: int | None = None) -> "Relation":
        """Streaming N-ary cogroup — the HUGE-bag path for :meth:`cogroup`
        (reference: Pig streams reduce-side bags through the Accumulator,
        pig/runtime.clj:194-240, instead of materializing them; our
        default cogroup materializes via collect_list).  Inputs are
        tagged, union-aligned, and exchanged ONCE on the key; each key's
        bags arrive input-by-input as Arrow-batch chunks through
        ``accumulate(state, input_index, chunk_pdf)``.  A single
        billion-row bag spills in the sort, never in Python."""
        from pigpen_spark.operators.group_stream import cogroup_stream_apply

        inputs = [(self.df, [on])] + [(rel.df, [k]) for rel, k in others]
        return self._with(cogroup_stream_apply(
            inputs, init, accumulate, finish, schema,
            key_names=key_names, num_partitions=num_partitions,
        ))

    def cogroup_auto(self, others: Sequence[tuple["Relation", ColumnLike]],
                     on: ColumnLike, init, accumulate, finish, schema,
                     key_names: Sequence[str] | None = None,
                     num_partitions: int | None = None,
                     threshold_rows: int | None = None) -> "Relation":
        """:meth:`cogroup_stream` with DATA-DRIVEN path selection
        (VERDICT r4 next #6): a counting probe finds the largest bag
        across all inputs; small-bag jobs run the fast whole-bag
        applyInPandas form, any giant bag escalates the job to the
        chunked stream — same accumulator trio, identical results
        (one whole bag is a legal chunking)."""
        from pigpen_spark.operators.group_stream import cogroup_auto_apply

        inputs = [(self.df, [on])] + [(rel.df, [k]) for rel, k in others]
        return self._with(cogroup_auto_apply(
            inputs, init, accumulate, finish, schema,
            key_names=key_names, num_partitions=num_partitions,
            threshold_rows=threshold_rows,
        ))

    # -- whole-relation aggregation (§2.3-2.4) ------------------------------

    def reduce_rel(self, *folds: "Fold | Column", **named: "Fold | Column") -> "Relation":
        """Whole-relation aggregation; EMPTY INPUT → EMPTY OUTPUT.

        reference: pigpen.join/reduce + fold (join.clj:119-156): "If a
        relation is empty, no output is produced" (join.clj:262-268) — Spark
        global agg instead returns one all-null row, so we guard with a
        cheap ``limit(1)`` existence probe (broadcast cross join; no extra
        full scan of the aggregated side at scale).
        """
        aggs = [Fold.to_column(f) for f in folds] + [Fold.to_column(f).alias(n) for n, f in named.items()]
        guard = _gensym("n")
        # single pass: piggyback a count(*) on the same aggregation and
        # filter on it — no second scan, no cross join.
        agg = self.df.agg(*aggs, F.count(F.lit(1)).alias(guard))
        return self._with(agg.filter(F.col(guard) > 0).drop(guard))

    fold_rel = reduce_rel

    def into(self, col: ColumnLike | None = None, sort: bool = True, out_col: str = "value") -> "Relation":
        """Collect the whole relation into one array record (reference:
        pigpen.join/into, join.clj:225-244 — reduce with clojure.core/into).
        Empty input → empty output, like reduce."""
        c = _to_col(col) if col is not None else F.struct(*[F.col(x) for x in self.df.columns])
        bag = F.collect_list(c)
        if sort:
            bag = F.sort_array(bag)
        return self.reduce_rel(**{out_col: Fold(bag)})

    def reduce_py(self, zero, seq_op, comb_op, finish=None, out_col: str = "value",
                  out_type: str = "string") -> "Relation":
        """Whole-relation fold with arbitrary Python fns and map-side
        partials (reference: pigpen.join/fold parallel tree aggregation,
        join.clj:140-156, 280-314).  Empty → empty.

        Arrow-batched mapInPandas folds each partition to ONE pickled
        partial row; the partials (one per non-empty partition) merge in
        a single final group — the distributed work stays batched, only
        #partitions tiny rows shuffle, and empty input naturally produces
        no partials (no extra isEmpty probe job).  Rows reach ``seq_op``
        as dicts with Arrow-converted scalar values (numpy types for
        numerics)."""
        import copy
        import pickle

        fin = finish or (lambda x: x)
        src = self.df.select(F.struct(*[F.col(c) for c in self.df.columns]).alias("__v"))

        def partials(batches):
            import pandas as pd

            acc, seen = copy.deepcopy(zero), False
            for pdf in batches:
                for v in pdf["__v"]:
                    acc = seq_op(acc, v)
                    seen = True
            if seen:
                yield pd.DataFrame({"__partial": [pickle.dumps(acc)]})

        def combine(pdf):
            import pandas as pd

            acc = None
            for blob in pdf["__partial"]:
                p = pickle.loads(bytes(blob))
                acc = p if acc is None else comb_op(acc, p)
            return pd.DataFrame([{out_col: fin(acc)}])

        part = src.mapInPandas(partials, schema="__partial binary")
        grouped = part.groupBy(F.lit(1).alias("__g"))
        return self._with(grouped.applyInPandas(combine, schema=f"{out_col} {out_type}"))

    def join_multi(
        self,
        inputs: Sequence[tuple["Relation", ColumnLike]],
        on: ColumnLike,
        required: Sequence[bool] | None = None,
        join_nils: bool = False,
    ) -> "Relation":
        """N-ary join in one call (reference signature: ``(join [(r1 :on f1)
        (r2 :on f2) …] f)``, join.clj:360-401): each input tagged required
        (inner side) / optional (outer side).  Compiles to a left-deep
        chain of binary equi-joins — Catalyst/AQE reorders and picks
        broadcast sides."""
        rels: list[tuple[Relation, ColumnLike]] = [(self, on)] + list(inputs)
        req = list(required or [True] * len(rels))
        if len(req) != len(rels):
            raise ValueError(
                f"join_multi: required has {len(req)} entries for {len(rels)} inputs "
                "(self counts as the first input)"
            )
        # Join order: ALL required inputs first (inner chain — a key must
        # exist in every required input), THEN each optional input as a
        # left join.  A naive left-deep fold in listed order gets this
        # wrong: once an optional input downgrades the running side, a
        # later required input would become a right/full join and keep
        # rows that violate earlier required constraints.
        required_ins = [rels[i] for i in range(len(rels)) if req[i]]
        optional_ins = [rels[i] for i in range(len(rels)) if not req[i]]
        if not required_ins:
            if len(rels) == 2:
                return rels[0][0].join(
                    rels[1][0], on=rels[0][1], right_on=rels[1][1],
                    how="full", join_nils=join_nils,
                )
            return self._join_multi_full_outer(rels, join_nils)
        out, out_key = required_ins[0]
        for rel_i, key_i in required_ins[1:]:
            out = out.join(rel_i, on=out_key, right_on=key_i, how="inner", join_nils=join_nils)
        for rel_i, key_i in optional_ins:
            out = out.join(rel_i, on=out_key, right_on=key_i, how="left", join_nils=join_nils)
        return out

    def _join_multi_full_outer(
        self, rels: list[tuple["Relation", ColumnLike]], join_nils: bool
    ) -> "Relation":
        """N-ary all-optional flattened join (reference: the N-way
        ``[:optional :optional ...]`` FULL OUTER join — semantics
        raw.clj:489-566, Pig codegen script.clj:321-336, spec
        functional/join_test.clj:244-299).

        Compiled as a chain of binary FULL joins whose RUNNING KEY is the
        coalesce of every key seen so far — so a key present in ANY input
        keeps matching later inputs, per-key cross products and the
        nil-keys-never-match default (join.clj:31-45; ``join_nils=True`` →
        ``<=>``) fall out of SQL full-join semantics.  Scale: each step is
        an ordinary equi-join Catalyst can plan as broadcast/SMJ with AQE
        skew handling — no cogroup bag materialization."""
        dfs: list[DataFrame] = []
        keycols: list[str] = []
        for rel_i, key_i in rels:
            kc = _gensym("mjk")
            dfs.append(rel_i.df.withColumn(kc, _to_col(key_i)))
            keycols.append(kc)
        out_df, rk = dfs[0], keycols[0]
        for df_i, kc in zip(dfs[1:], keycols[1:]):
            cond = out_df[rk].eqNullSafe(df_i[kc]) if join_nils else (out_df[rk] == df_i[kc])
            merged = _gensym("mjk")
            out_df = (
                out_df.join(df_i, on=cond, how="full")
                .withColumn(merged, F.coalesce(F.col(rk), F.col(kc)))
                .drop(rk, kc)
            )
            rk = merged
        # Same-named string keys collapse to ONE coalesced column (the
        # binary join's USING-style output); otherwise original columns
        # pass through untouched and the running key is internal-only.
        key_names = [k for _, k in rels]
        if all(isinstance(k, str) for k in key_names) and len(set(key_names)) == 1:
            name = str(key_names[0])
            for d in dfs:
                out_df = out_df.drop(d[name])
            out_df = out_df.withColumnRenamed(rk, name)
        else:
            out_df = out_df.drop(rk)
        return self._with(out_df)

    def debug_tee(self, path: str, name: str) -> "Relation":
        """Debug mode: persist this intermediate to a store and pass it
        through (reference: oven.clj:163-184 ``debug`` rewrite teeing every
        op to a store)."""
        self.df.write.mode("overwrite").parquet(f"{path.rstrip('/')}/{name}")
        return self._with(self.spark.read.parquet(f"{path.rstrip('/')}/{name}"))

    def unpivot(self, ids: Sequence[str], values: Sequence[str],
                var_col: str = "variable", value_col: str = "value") -> "Relation":
        """Melt ``values`` columns into (``var_col``, ``value_col``) rows —
        the inverse of :meth:`GroupedRelation.pivot` (extension; maps to
        Spark's native ``unpivot``, a zero-shuffle per-row expansion)."""
        return self._with(self.df.unpivot(
            [_to_col(c) for c in ids], [_to_col(c) for c in values],
            var_col, value_col))

    melt = unpivot

    def as_view(self, name: str) -> "Relation":
        """Register as a temp view for spark.sql() interop (extension —
        the reference has no SQL surface)."""
        self.df.createOrReplaceTempView(name)
        return self

    # -- I/O & actions (§2.1, §2.9) ----------------------------------------

    def store_parquet(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = (),
                      compression: str | None = None,
                      max_records_per_file: int | None = None) -> None:
        """reference: store-parquet (pigpen-parquet/src/main/clojure/pigpen/
        parquet.clj:126-147).  ``compression`` (snappy/zstd/gzip/none) and
        ``max_records_per_file`` control the file layout — at 100 TB,
        bounding file size at write time is what keeps later scans and
        compactions sane (small-file storms and 10 GB monoliths are both
        read-side pathologies born at write time)."""
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if compression is not None:
            w = w.option("compression", compression)
        if max_records_per_file is not None:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.parquet(path)

    def store_bucketed(self, table: str, bucket_by: Sequence[str], num_buckets: int,
                       sort_by: Sequence[str] = (), mode: str = "overwrite",
                       path: str | None = None) -> None:
        """Bucketed table sink: pre-shuffles once at write time so future
        equi-joins/aggs on ``bucket_by`` are EXCHANGE-FREE (the 100 TB
        co-located-join strategy; the reference delegates this to Pig's
        'merge' join strategy passthrough, script.clj:315-319).
        ``path`` makes it an external table (data at an explicit location)."""
        w = self.df.write.mode(mode).bucketBy(num_buckets, *bucket_by)
        if sort_by:
            w = w.sortBy(*sort_by)
        if path:
            w = w.option("path", path)
        w.saveAsTable(table)

    def store_orc(self, path: str, mode: str = "overwrite", partition_by: Sequence[str] = (),
                  compression: str | None = None,
                  max_records_per_file: int | None = None) -> None:
        """ORC sink — see :func:`pigpen_spark.sources.io.load_orc`;
        layout options as in :meth:`store_parquet`."""
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        if compression is not None:
            w = w.option("compression", compression)
        if max_records_per_file is not None:
            w = w.option("maxRecordsPerFile", max_records_per_file)
        w.orc(path)

    def store_json(self, path: str, mode: str = "overwrite") -> None:
        """reference: store-json (io.clj:159-246)."""
        self.df.write.mode(mode).json(path)

    def store_csv(self, path: str, sep: str = ",", header: bool = False, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).option("header", header).option("sep", sep).csv(path)

    def store_tsv(self, path: str, mode: str = "overwrite") -> None:
        self.store_csv(path, sep="\t", mode=mode)

    def store_text(self, path: str, mode: str = "overwrite") -> None:
        self.df.write.mode(mode).text(path)

    def store_many(self, *writers: Callable[["Relation"], None]) -> None:
        """Multiple sinks over shared lineage (reference: store-many$,
        raw.clj:144-158).  The reference's dedupe rewrite shares subplans;
        Spark won't cache across actions by itself (SURVEY §4.5.4), so we
        persist, run all writes, then unpersist."""
        df = self.df.transform(_persisted)
        try:
            rel = self._with(df)
            for w in writers:
                w(rel)
        finally:
            df.unpersist()

    def cache(self) -> "Relation":
        return self._with(self.df.cache())

    def dump(self) -> list:
        """Local collect (reference: pigpen.local dump, local.clj:151-188)."""
        return [r.asDict(recursive=True) for r in self.df.collect()]

    def dump_lazy(self):
        """Lazy iterator (reference: pigpen.rx/dump — backpressured local
        evaluation, pigpen-rx/src/main/clojure/pigpen/rx.clj:30-65)."""
        return self.df.toLocalIterator()

    def collect(self):
        return self.df.collect()

    def count(self) -> int:
        return self.df.count()

    def show(self, n: int = 20, truncate: bool = True) -> None:
        """Pretty-print rows (DataFrame.show passthrough)."""
        self.df.show(n, truncate)

    def __repr__(self) -> str:
        cols = ", ".join(f"{f.name}: {f.dataType.simpleString()}" for f in self._df.schema.fields)
        pend = f" (+{len(self._pending)} fused python ops)" if self._pending else ""
        return f"Relation[{cols}]{pend}"

    def show_plan(self, mode: str = "formatted") -> None:
        """reference: pigpen-viz show/show+ — we surface the optimized
        physical plan instead of the pre-bake DAG."""
        self.df.explain(mode)

    def explain_str(self, mode: str = "formatted") -> str:
        from pigpen_spark.plans.viz import explain_str as _explain

        return _explain(self.df, mode)

    # -- misc ---------------------------------------------------------------

    def repartition(self, num: int | None = None, *cols: ColumnLike) -> "Relation":
        """{:parallel n} / {:partition-by f} analog (reference:
        script.clj:229-231 PARALLEL; PigPenPartitioner.java)."""
        args = ([num] if num else []) + [_to_col(c) for c in cols]
        return self._with(self.df.repartition(*args))


# ---------------------------------------------------------------------------
# Grouped relation
# ---------------------------------------------------------------------------


class GroupedRelation:
    """Result of :meth:`Relation.group_by` — holds key exprs, offers fold /
    collect / arbitrary per-group Python."""

    def __init__(self, rel: Relation, keys: list[Column], mode: str = "groupby"):
        self._rel = rel
        self._keys = keys
        self._mode = mode  # groupby | cube | rollup
        self._pivot: tuple[str, list] | None = None

    def pivot(self, col: str, values: Sequence) -> "GroupedRelation":
        """Pivot ``col``'s values into output columns (extension beyond
        the reference).  ``values`` is REQUIRED: an explicit list keeps
        the output schema static and skips Spark's extra distinct-scan
        of the pivot column — the only scale-safe form."""
        if self._mode != "groupby":
            raise ValueError("pivot composes with group_by only")
        out = GroupedRelation(self._rel, self._keys, self._mode)
        out._pivot = (col, list(values))
        return out

    def _grouped(self):
        df = self._rel.df
        g = {
            "groupby": df.groupBy,
            "cube": df.cube,
            "rollup": df.rollup,
        }[self._mode](*self._keys)
        if self._pivot is not None:
            g = g.pivot(*self._pivot)
        return g

    def fold(self, *folds: "Fold | Column", **named: "Fold | Column") -> Relation:
        """Per-key aggregation — every native fold compiles into ONE
        ``.agg(...)`` (reference: fold-in-cogroup, join.clj:140-156; juxt
        runs N folds in one pass, fold.clj:262-296 — same property here).

        Scale: native aggregates get map-side partial aggregation
        (HashAggregate partial/final) exactly like the reference's Pig
        Algebraic path (PigPenFnAlgebraic.java:40-151).
        """
        aggs = [Fold.to_column(f) for f in folds] + [Fold.to_column(f).alias(n) for n, f in named.items()]
        return self._rel._with(self._grouped().agg(*aggs))

    agg = fold

    def collect_bags(self, value: Column | str | None = None, bag_col: str = "bag", sort: bool = False) -> Relation:
        """key → bag of values (reference: group-by → MapEntry[k, seq],
        join.clj:195-223).  ``sort=True`` makes bag content deterministic.
        collect_list materializes each bag in one task — for keys that
        can be huge, fold the bag instead (:meth:`fold`) or stream it
        (:meth:`apply_stream`)."""
        v = _to_col(value) if value is not None else F.struct(*[F.col(c) for c in self._rel.df.columns])
        bag = F.collect_list(v)
        if sort:
            bag = F.sort_array(bag)
        return self._rel._with(self._grouped().agg(bag.alias(bag_col)))

    def apply_py(self, fn, schema) -> Relation:
        """Arbitrary per-group Python via applyInPandas (Arrow-batched).

        reference: reduce-side user fn over lazy bags (pig/runtime.clj:
        194-240 Accumulator).  NOTE applyInPandas materializes each group —
        for huge groups prefer fold/window ops (SURVEY §4.4 risk note),
        :meth:`apply_stream` (chunks arbitrarily large groups), or
        :meth:`apply_auto` (probes per-key sizes and picks the path)."""
        if self._mode != "groupby" or self._pivot is not None:
            raise ValueError("apply_py requires a plain group_by (no cube/rollup/pivot)")
        return self._rel._with(self._rel.df.groupBy(*self._keys).applyInPandas(fn, schema=schema))

    def apply_stream(self, init, accumulate, finish, schema,
                     key_names: Sequence[str] | None = None,
                     order_by: Sequence = (),
                     num_partitions: int | None = None) -> Relation:
        """Per-group streaming apply — the HUGE-group path (reference:
        Pig Accumulator, pig/runtime.clj:194-240 / PigPenFn.java:66-81):
        groups are hash-exchanged, sorted within partitions, and driven
        through ``init(key)`` / ``accumulate(state, chunk_pdf)`` /
        ``finish(key, state) -> dict`` one Arrow batch at a time — a
        billion-row key costs spillable-sort disk, never task heap.  Use
        when per-group logic is genuinely sequential; associative folds
        belong in :meth:`fold`/:meth:`fold_py` (map-side partials)."""
        from pigpen_spark.operators.group_stream import grouped_stream_apply

        if self._mode != "groupby" or self._pivot is not None:
            raise ValueError("apply_stream requires a plain group_by (no cube/rollup/pivot)")
        return self._rel._with(grouped_stream_apply(
            self._rel.df, self._keys, init, accumulate, finish, schema,
            key_names=key_names, order_by=order_by,
            num_partitions=num_partitions,
        ))

    def apply_auto(self, init, accumulate, finish, schema,
                   key_names: Sequence[str] | None = None,
                   order_by: Sequence = (),
                   num_partitions: int | None = None,
                   threshold_rows: int | None = None) -> Relation:
        """:meth:`apply_stream` with DATA-DRIVEN path selection (VERDICT
        r4 next #6): one counting probe (group_stream.max_group_rows)
        picks the plan — every group under the threshold runs the fast
        whole-group applyInPandas form (each group reaches ``accumulate``
        as ONE chunk), a single giant key escalates the job to the
        chunked stream path.  The accumulator trio is the portable API:
        chunking-insensitive ``accumulate`` makes both plans agree, so
        callers write the streaming form once and the dispatcher spends
        memory only when the data demands it."""
        from pigpen_spark.operators.group_stream import grouped_auto_apply

        if self._mode != "groupby" or self._pivot is not None:
            raise ValueError("apply_auto requires a plain group_by (no cube/rollup/pivot)")
        return self._rel._with(grouped_auto_apply(
            self._rel.df, self._keys, init, accumulate, finish, schema,
            key_names=key_names, order_by=order_by,
            num_partitions=num_partitions, threshold_rows=threshold_rows,
        ))

    def fold_py(self, zero, seq_op, comb_op, finish=None, key_names: Sequence[str] | None = None,
                out_col: str = "value", out_type: str = "string"):
        """Python fold with MAP-SIDE PARTIALS — Pig Algebraic 3-phase
        (partial + final), the reference's arbitrary-fold execution shape.
        Spark's pandas GROUPED_AGG UDF has no partial phase (SURVEY §4.3
        note), so we build it:

        stage 1 is an Arrow-batched mapInPandas that folds each partition
        into per-key PARTIAL accumulators (one output row per key per
        partition — the map-side combine); stage 2 shuffles only the
        pickled partials and merges them per key with ``comb_op`` in
        applyInPandas.  2.0× the RDD aggregateByKey formulation it replaced
        on wide rows (see SCALE.md).  Rows reach ``seq_op`` as dicts whose values
        are Arrow-converted scalars (numpy types for numerics).

        Returns key columns + ``out_col``.
        """
        if self._mode != "groupby" or self._pivot is not None:
            raise ValueError("fold_py requires a plain group_by (no cube/rollup/pivot)")
        rel = self._rel
        knames = list(key_names or [f"k{i}" for i in range(len(self._keys))])
        kcols = [k.alias(n) for k, n in zip(self._keys, knames)]
        df = rel.df.select(*kcols, F.struct(*[F.col(c) for c in rel.df.columns]).alias("__v"))
        ktypes = self._key_types(df, knames)
        fin = finish or (lambda x: x)
        out_schema = ", ".join(
            [f"{n} {t}" for n, t in zip(knames, ktypes)] + [f"{out_col} {out_type}"]
        )
        import copy
        import pickle

        part_schema = ", ".join(
            [f"{n} {t}" for n, t in zip(knames, ktypes)] + ["__partial binary"]
        )

        def partials(batches):
            import pandas as pd

            accs = {}
            for pdf in batches:
                rows = pdf["__v"]
                keys = zip(*[pdf[n] for n in knames])
                for kt, v in zip(keys, rows):
                    kt = tuple(kt)
                    acc = accs.get(kt)
                    if acc is None:
                        acc = copy.deepcopy(zero)
                    accs[kt] = seq_op(acc, v)
            if accs:
                yield pd.DataFrame(
                    [
                        {**dict(zip(knames, kt)), "__partial": pickle.dumps(a)}
                        for kt, a in accs.items()
                    ]
                )

        def combine(pdf):
            import pandas as pd

            acc = None
            for blob in pdf["__partial"]:
                p = pickle.loads(bytes(blob))
                acc = p if acc is None else comb_op(acc, p)
            row = {n: pdf[n].iloc[0] for n in knames}
            row[out_col] = fin(acc)
            return pd.DataFrame([row])

        part = df.mapInPandas(partials, schema=part_schema)
        grouped = part.groupBy(*[F.col(n) for n in knames])
        return rel._with(grouped.applyInPandas(combine, schema=out_schema))

    @staticmethod
    def _key_types(df: DataFrame, knames: list[str]) -> list[str]:
        m = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)
        return [m[n] for n in knames]


# ---------------------------------------------------------------------------
# Constructors (reference: io.clj load-* / return, SURVEY §2.1)
# ---------------------------------------------------------------------------


def load_parquet(spark: SparkSession, path: str) -> Relation:
    """reference: load-parquet (pigpen-parquet/.../parquet.clj:105-124) —
    schema comes from the parquet footer (strictly more capable than the
    reference's explicit message-schema requirement)."""
    return Relation(spark.read.parquet(path))


def return_(spark: SparkSession, rows: list, schema=None) -> Relation:
    """Literal in-plan data (reference: return/constantly, io.clj:265-300)."""
    return Relation(spark.createDataFrame(rows, schema=schema))
