"""Seeded benchmark inputs derived from the base tables in ``data/``.

``data/`` holds the smallest catalog tables (the sf0.001 star schema plus
the documents, embeddings and events tables).  A workload never reads
them directly: :func:`make_inputs` writes a fresh copy whose row order
is a seeded permutation, and for ``copies > 1`` replicates the fact
tables with per-copy key offsets (the replication scheme of
``tools/make_scale_corpus.py``).  The same seed always gives the same
files; the program under test only ever sees the generated directory.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pigpen_spark.catalog import TABLES

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

#: Key columns offset per copy.  Orders and lineitem share one stride so
#: the orderkey join still matches within a copy; events offset both the
#: event id and the user id, so every copy adds users rather than piling
#: identical timestamps onto the base users' sessions.
_OFFSET_GROUPS = {
    "orderkey": {"orders": "o_orderkey", "lineitem": "l_orderkey"},
    "event_id": {"events": "event_id"},
    "user_id": {"events": "user_id"},
}


def _replicate(tables: dict[str, pa.Table], copies: int,
               rng: np.random.Generator) -> dict[str, pa.Table]:
    out = dict(tables)
    offsets: dict[tuple[str, str], int] = {}
    for cols in _OFFSET_GROUPS.values():
        top = max(pc.max(tables[t][c]).as_py() for t, c in cols.items())
        # a seeded gap between copies: same key cardinality, different keys
        stride = top + 1 + int(rng.integers(0, 1000))
        offsets.update({(t, c): stride for t, c in cols.items()})
    for t in {t for cols in _OFFSET_GROUPS.values() for t in cols}:
        parts = []
        for copy in range(copies):
            part = tables[t]
            for (tt, c), stride in offsets.items():
                if tt == t:
                    i = part.schema.get_field_index(c)
                    col = pc.add(part[c], pa.scalar(copy * stride, part.schema.field(c).type))
                    part = part.set_column(i, part.schema.field(c), col)
            parts.append(part)
        out[t] = pa.concat_tables(parts)
    return out


def make_inputs(out_dir: str, seed: int, copies: int = 1) -> str:
    """Write every table, seeded, to ``out_dir``; return ``out_dir``."""
    rng = np.random.default_rng(seed)
    tables = {t: pq.read_table(os.path.join(DATA_DIR, f"{t}.parquet")) for t in TABLES}
    if copies > 1:
        tables = _replicate(tables, copies, rng)
    os.makedirs(out_dir, exist_ok=True)
    for t in TABLES:
        table = tables[t]
        table = table.take(pa.array(rng.permutation(table.num_rows)))
        pq.write_table(table, os.path.join(out_dir, f"{t}.parquet"))
    return out_dir
