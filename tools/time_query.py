"""Time individual catalog queries on the tuned session (min of N passes).

    python tools/time_query.py [--sf DIR] [--n N] [--count] query [query ...]

Default consume is the noop sink (guide §1.4: forces full computation of
every column, matching bench.py's methodology); --count restores the old
count() consume for comparison.
"""

from __future__ import annotations

import sys
from pathlib import Path
import time

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pigpen_spark.session import get_spark  # noqa: E402
import __spark_entry__ as entry  # noqa: E402


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    n = 2
    use_count = False
    names = []
    i = 0
    while i < len(argv):
        if argv[i] == "--sf":
            sf_dir = argv[i + 1]; i += 2
        elif argv[i] == "--n":
            n = int(argv[i + 1]); i += 2
        elif argv[i] == "--count":
            use_count = True; i += 1
        else:
            names.append(argv[i]); i += 1
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    for name in names:
        times = []
        for _ in range(n):
            from pigpen_spark.tuning import clear_engine_caches
            clear_engine_caches(spark)
            spark.sparkContext.setJobDescription(f"time_query: {name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            if use_count:
                cnt = df.count()
            else:
                df.write.mode("overwrite").format("noop").save()
                cnt = "noop"
            times.append(time.time() - t0)
            spark.sparkContext.setJobDescription(None)
        print(f"{name}: min {min(times):.3f}s  (runs {['%.3f' % t for t in times]}, {cnt} rows)",
              flush=True)


if __name__ == "__main__":
    main()
