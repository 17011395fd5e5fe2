"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet tables, then compares row-count, schema (column
names), and an order-insensitive value hash.  Use while iterating:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import math
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pigpen_spark.catalog import TABLES  # noqa: E402
from pigpen_spark.session import get_spark  # noqa: E402


def norm_cell(v) -> str:
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
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 and "/" in sys.argv[1] else "/root/testdata/sf0.01"
    only = [a for a in sys.argv[1:] if "/" not in a]

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    spark = get_spark("oracle-check")

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok   {name}: rows-only ({len(srows)} rows, no oracle)")
            continue
        try:
            res = con.sql(oracles[name])
            dcols = [c for c in res.columns]
            drows = res.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        problems = []
        if len(srows) != len(drows):
            problems.append(f"rowcount spark={len(srows)} duckdb={len(drows)}")
        if sorted(scols) != sorted(dcols):
            problems.append(f"schema spark={sorted(scols)} duckdb={sorted(dcols)}")
        if not problems:
            sh, dh = value_hash(scols, srows), value_hash(dcols, drows)
            if sh != dh:
                problems.append(f"value-hash spark={sh} duckdb={dh}")
                sset = {"|".join(norm_cell(c) for c in r) for r in srows}
                dset = {"|".join(norm_cell(c) for c in r) for r in drows}
                s_only = list(sset - dset)[:3]
                d_only = list(dset - sset)[:3]
                if s_only:
                    problems.append(f"spark-only: {s_only}")
                if d_only:
                    problems.append(f"duckdb-only: {d_only}")
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            failures += 1
        else:
            print(f"ok   {name}: {len(srows)} rows match")
    checked = len([n for n in qs if not only or n in only])
    print(f"\n{checked - failures}/{checked} ok")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
