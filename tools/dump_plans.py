"""Regenerate PLANS.md: the optimized physical plan of every headline
query, with the scale-relevant properties called out.  Run after plan-
affecting changes:  python tools/dump_plans.py
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pigpen_spark.session import get_spark  # noqa: E402
from pigpen_spark import catalog, catalog_ext  # noqa: E402,F401
from pigpen_spark.plans import explain_str  # noqa: E402
from bench import HEADLINE  # noqa: E402


def summarize(plan: str) -> str:
    checks = {
        "BroadcastHashJoin": plan.count("BroadcastHashJoin"),
        "SortMergeJoin": plan.count("SortMergeJoin"),
        "HashAggregate": plan.count("HashAggregate"),
        "Exchange": plan.count("Exchange"),
        "TakeOrdered": plan.count("TakeOrderedAndProject"),
        "MapInPandas": plan.count("MapInPandas"),
        # Python/Arrow crossings: pandas_udf columns, grouped and
        # cogrouped pandas kernels.  Counted as printed, so a node under
        # a cached relation counts once per scan of that cache
        "ArrowEvalPython": plan.count("ArrowEvalPython"),
        "FlatMapGroupsInPandas": plan.count("FlatMapGroupsInPandas"),
        "FlatMapCoGroupsInPandas": plan.count("FlatMapCoGroupsInPandas"),
        "PushedFilters": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "InMemoryRelation(persist)": plan.count("InMemoryTableScan"),
    }
    return ", ".join(f"{k}={v}" for k, v in checks.items() if v)


def main() -> None:
    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = "/root/testdata/sf0.1"
    qs = catalog.queries()
    lines = [
        "# PLANS — physical plans of the headline queries (sf0.1, AQE final plans)",
        "",
        "Autogenerated by `tools/dump_plans.py`.  The summary line per query",
        "lists the scale-relevant operators; `tests/test_plans.py` pins the",
        "critical properties as regressions.",
        "",
    ]
    for name in HEADLINE:
        df = qs[name](spark, sf_dir)
        plan = explain_str(df, "simple")
        lines.append(f"## {name}")
        lines.append("")
        lines.append(f"**summary:** {summarize(plan)}")
        lines.append("")
        lines.append("```")
        shown = "\n".join(plan.splitlines()[:40])
        lines.append(shown)
        if len(plan.splitlines()) > 40:
            lines.append(f"... ({len(plan.splitlines()) - 40} more lines)")
        lines.append("```")
        lines.append("")
    with open(ROOT / "PLANS.md", "w") as f:
        f.write("\n".join(lines))
    print(f"wrote PLANS.md for {len(HEADLINE)} queries")


if __name__ == "__main__":
    main()
