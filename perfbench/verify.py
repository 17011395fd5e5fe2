"""Output digests and the DuckDB oracle.

The digest is the order-insensitive value hash of ``tools/check_oracle.py``
(column names sorted, each row rendered with the same cell normalisation,
rows sorted, sha256), so a row that passes the repo's oracle gate passes
here on the same inputs.
"""

from __future__ import annotations

import hashlib
import math
import os


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        return f"{v:.12g}"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def digest(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(",".join(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()[:16]}"


class Oracle:
    """DuckDB over the same generated input files."""

    def __init__(self, in_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(in_dir, t)}.parquet'")

    def digest(self, sql: str) -> str:
        res = self.con.sql(sql)
        return digest(list(res.columns), res.fetchall())
