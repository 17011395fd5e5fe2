"""The benchmark's workloads.

A workload is an ordered list of catalog queries run once per *pass*,
closed loop (one client, one query at a time).  Each query is built by
its registered query function (construction) and then run to completion into a
noop sink (execution).  Every workload is *cold*: the engine's caches
are released before each query, so no query reuses another's persists.
"""

from __future__ import annotations

from dataclasses import dataclass

#: Execution-bound PigPen-core rows over 10 seeded copies of the facts.
RELATIONAL = ("q1_groupby_fold", "q3_join_agg", "q5_multi_join", "q_sessionize",
              "q_rank", "q_asof_join")
#: The Python side of the engine: a construction-bound iterative graph row
#: (tens of eager jobs per query), then rows whose time goes to Python
#: workers behind Arrow crossings.
DRIVER_ARROW = ("ext_hits", "ext_tokenizer_compare3", "ext_image_thumb",
                "ext_frame_sample_mp4")


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    #: fact-table copies in the generated inputs
    copies: int = 1


WORKLOADS = {
    "relational_10x": Workload("relational_10x", RELATIONAL, copies=10),
    "driver_arrow": Workload("driver_arrow", DRIVER_ARROW),
}
