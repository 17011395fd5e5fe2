"""Registry of the persists and local checkpoints the engine makes on a
user's behalf.

Several operators persist or checkpoint intermediates: LSH/minhash
candidate tables self-join a derived hash column, the two-phase rank
freezes its partition tagging, iterative graph and suffix-array loops
truncate lineage every round.  A long-running embedder that loops over
corpora needs a way to free them that does NOT also evict the user's own
``df.cache()`` data the way ``spark.catalog.clearCache()`` would.

Every engine-side ``persist()`` and ``localCheckpoint()`` is therefore
registered through :func:`hold`, in ONE list.  :func:`release`
(``pigpen_spark.tuning.clear_engine_caches``) frees all of it: persisted
frames are unpersisted, checkpoint-backed frames have their blocks freed
(``DataFrame.unpersist()`` is a no-op on them — the blocks belong to the
RDD the checkpoint wraps, not to the CacheManager).  ``with scope():``
frees exactly what the current thread registered inside the block — the
lifetime of one round, one micro-batch, one operator call.  Strong
references on purpose: the JVM-side storage outlives the Python object,
so a weakref would orphan the very blocks we need to free.

Contract: results never depend on a cache being hit or kept.  A released
persist is recomputed from its plan.  A local checkpoint cannot be
recomputed, so a returned frame that reads a freed engine checkpoint
fails loudly ("Checkpoint block ... not found") — it is never silently
re-ranked or re-tagged.
"""

from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_LOCK = threading.Lock()
#: (frame, is_checkpoint) — the kind is fixed when the frame is registered
_HELD: list[tuple[DataFrame, bool]] = []
_SCOPES = threading.local()


def hold(df: DataFrame) -> DataFrame:
    """Register an engine-persisted or engine-checkpointed DataFrame for
    :func:`release` and the innermost open :func:`scope` of this thread.

    Returns ``df`` so call sites can stay expression-shaped:
    ``cand = hold(sigs.join(...).persist())``.
    """
    entry = (df, not df.is_cached)
    with _LOCK:
        _HELD.append(entry)
    stack = getattr(_SCOPES, "stack", None)
    if stack:
        stack[-1].append(df)
    return df


def persisted(df: DataFrame) -> DataFrame:
    """``persist()`` + :func:`hold` in one step, shaped for
    ``.transform(persisted)`` at the end of a DataFrame chain."""
    return hold(df.persist())


def checkpointed(df: DataFrame, eager: bool = True,
                 level: StorageLevel | None = None) -> DataFrame:
    """``localCheckpoint()`` + :func:`hold` in one step, shaped for
    ``.transform(checkpointed, eager=False)``."""
    return hold(df.localCheckpoint(eager=eager, storageLevel=level))


def held_count() -> int:
    with _LOCK:
        return len(_HELD)


def _free(entries: list[tuple[DataFrame, bool]]) -> None:
    for df, ckpt in entries:
        try:
            if ckpt:
                # the frame IS the checkpoint result: its analyzed plan
                # is the LogicalRDD whose blocks hold the data
                df._jdf.queryExecution().analyzed().rdd().unpersist(False)
            else:
                df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release


def _forget(frames: list[DataFrame]) -> list[tuple[DataFrame, bool]]:
    """Drop ``frames`` from the registry; returns the entries still held."""
    ids = {id(df) for df in frames}
    with _LOCK:
        gone = [e for e in _HELD if id(e[0]) in ids]
        _HELD[:] = [e for e in _HELD if id(e[0]) not in ids]
    return gone


def release() -> int:
    """Free every registered frame; returns how many were held.

    Unpersist is non-blocking (Spark's default): eviction happens
    asynchronously on the JVM side, which is fine — correctness never
    depends on a cache being *absent*."""
    with _LOCK:
        held, _HELD[:] = _HELD[:], []
    _free(held)
    return len(held)


@contextmanager
def scope() -> Iterator[None]:
    """Free, on exit, everything this thread registers inside the block.

    Scopes nest: an inner scope frees only its own holdings.  A frame
    that must outlive the scope is materialized inside it (an eager
    checkpoint) and registered after it exits.  Holdings a
    :func:`release` already freed are skipped."""
    if not hasattr(_SCOPES, "stack"):
        _SCOPES.stack = []
    mine: list[DataFrame] = []
    _SCOPES.stack.append(mine)
    try:
        yield
    finally:
        _SCOPES.stack.pop()
        _free(_forget(mine))


def free_ckpt(df: DataFrame) -> None:
    """Immediately free the storage blocks behind a frame returned by
    ``localCheckpoint`` (the frame must BE the checkpoint result, not a
    select over it) and drop it from the registry.  Local checkpoints are
    not recomputable: only call on tables provably dead (the superseded
    level of a descent or peeling loop)."""
    _forget([df])
    _free([(df, True)])
