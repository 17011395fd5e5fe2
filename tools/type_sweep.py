"""Sweep every oracle SQL for result-column types the driver's
canonicalizer may normalize differently from Spark's output.

The driver compares a Spark result (INT/BIGINT/DOUBLE/...) against the
DuckDB oracle result; DuckDB silently widens windowed/plain ``sum()`` over
integers to HUGEINT and exact divisions to DECIMAL.  The repo rule
(ROUND_NOTES): anything beyond BIGINT must be cast to BIGINT or emitted as
a string in BOTH engines.  This tool runs each oracle at sf0.01 and
reports any HUGEINT / UHUGEINT / DECIMAL column reaching the SELECT list
(including inside LIST/STRUCT types).

    python tools/type_sweep.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pigpen_spark.catalog import TABLES  # noqa: E402

BAD = re.compile(r"HUGEINT|UHUGEINT|DECIMAL", re.IGNORECASE)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as entrymod

    oracles = entrymod.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    flagged = 0
    for name, sql in oracles.items():
        try:
            rel = con.sql(sql)
            cols = rel.columns
            types = [str(t) for t in rel.types]
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {e}")
            flagged += 1
            continue
        bad = [(c, t) for c, t in zip(cols, types) if BAD.search(t)]
        if bad:
            print(f"FLAG {name}: " + ", ".join(f"{c}:{t}" for c, t in bad))
            flagged += 1
    print(f"\n{flagged} flagged / {len(oracles)} oracles")
    return 1 if flagged else 0


if __name__ == "__main__":
    raise SystemExit(main())
