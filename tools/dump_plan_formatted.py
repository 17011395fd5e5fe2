"""Dump `.explain('formatted')` for named headline queries to files —
the judge-facing plan evidence for optimization rounds.

    python tools/dump_plan_formatted.py OUTDIR query [query ...]

Writes OUTDIR/<query>.txt (caller renames to _before/_after).
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pigpen_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry  # noqa: E402


def main() -> None:
    outdir = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        from pigpen_spark.tuning import clear_engine_caches
        clear_engine_caches(spark)
        df = qs[name](spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        path = os.path.join(outdir, f"{name}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"{name}: {len(plan.splitlines())} lines -> {path}", flush=True)


if __name__ == "__main__":
    main()
