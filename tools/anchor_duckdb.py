"""External performance anchor: core TPC-H shapes, Spark vs DuckDB on
the SAME machine and SAME parquet (VERDICT r4 next #7).

DuckDB is a state-of-the-art single-node OLAP engine; matching its order
of magnitude on local[32] means the Spark plans carry no self-inflicted
overhead (the recorded-baseline 2x rule is self-referential; this is the
outside reference).  Spark times include its driver/scheduler overhead —
the price of the horizontal-scale execution model DuckDB doesn't have.

    python tools/anchor_duckdb.py [sf_dir] [--n N]
"""

from __future__ import annotations

import sys
from pathlib import Path
import time

import duckdb

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pigpen_spark.catalog import TABLES  # noqa: E402
from pigpen_spark.session import get_spark  # noqa: E402

QUERIES = [
    "q1_groupby_fold", "q6_filter_reduce", "q3_join_agg", "q5_multi_join",
    # round 6 (VERDICT r5 next #7): the extension families a real
    # curation run spends its wall-clock in, at the 10x corpus — the
    # anchor now covers the north-star surface, not just TPC-H shapes
    "ext_dedup_keep", "ext_decontaminate", "q_sessionize",
    "ext_corpus_pipeline",
]


def main() -> None:
    argv = sys.argv[1:]
    n = 3
    if "--n" in argv:
        i = argv.index("--n")
        n = int(argv[i + 1])
        del argv[i:i + 2]          # keep the value out of the positionals
    sf_dir = argv[0] if argv else "/tmp/scale_sf1"

    import __spark_entry__ as entry

    qs = entry.queries()
    oracles = entry.oracle_sql()
    spark = get_spark("anchor")
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.sql("SET threads TO 32")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet/*.parquet'"
                if __import__('os').path.isdir(f'{sf_dir}/{t}.parquet')
                else f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    for name in QUERIES:
        spark_times, duck_times = [], []
        for _ in range(n):
            t0 = time.monotonic()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            spark_times.append(time.monotonic() - t0)
            t0 = time.monotonic()
            con.sql(oracles[name]).fetchall()
            duck_times.append(time.monotonic() - t0)
        s, d = min(spark_times), min(duck_times)
        print(f"{name}: spark {s:.3f}s  duckdb {d:.3f}s  ratio {s / d:.2f}x")


if __name__ == "__main__":
    main()
