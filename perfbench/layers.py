"""Per-layer tracing, measured from outside the program.

Nothing here changes the program.  A :class:`Tracer` wraps the py4j
gateway client's ``send_command`` and ``pigpen_spark.cache.hold`` to
count calls, tags every query phase with a Spark job group, forces and
reads the Catalyst phase tracker, and after each pass reads the
scheduler's status tracker and the local UI REST API (``sc.uiWebUrl``,
rewritten to 127.0.0.1).  Spans are kept in memory; the caller writes
them once at the end.

Span nesting: ``pass`` -> ``query:<name>`` -> ``construct`` / ``execute``.
"""

from __future__ import annotations

import json
import re
import time
import urllib.parse
import urllib.request
from collections import Counter

#: Python-crossing operators in an executed plan.
PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
            "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas",
            "AggregateInPandas", "WindowInPandas")

#: (layer metric, SQL metric name on a Python node)
PY_METRICS = (
    ("arrow.py_run_s", "time to run Python workers"),
    ("arrow.py_start_s", "time to start Python workers"),
    ("arrow.py_init_s", "time to initialize Python workers"),
    ("arrow.to_py_mb", "data sent to Python workers"),
    ("arrow.from_py_mb", "data returned from Python workers"),
)

#: (layer metric, REST stage field, scale to the metric's unit)
STAGE_METRICS = (
    ("exec.run_s", "executorRunTime", 1e-3),
    ("exec.cpu_s", "executorCpuTime", 1e-9),
    ("exec.gc_s", "jvmGcTime", 1e-3),
    ("shuffle.write_mb", "shuffleWriteBytes", 1 / 2**20),
    ("shuffle.read_mb", "shuffleReadBytes", 1 / 2**20),
    ("shuffle.spill_mb", "diskBytesSpilled", 1 / 2**20),
    ("sources.input_mb", "inputBytes", 1 / 2**20),
    ("sources.output_mb", "outputBytes", 1 / 2**20),
)

#: Every per-query count a span carries, in report order.
QUERY_METRICS = (
    "construct.s", "construct.jobs", "construct.py4j_calls",
    "catalyst.optimize_ms", "catalyst.plan_ms",
    "sched.jobs", "sched.stages", "sched.tasks", "execute.s",
    *(m for m, _, _ in STAGE_METRICS),
    "arrow.nodes", *(m for m, _ in PY_METRICS),
    "cache.holds", "cache.scan_nodes",
)

_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20}


def sql_metric(text: str) -> float:
    """Total of a SQL UI metric string, in s (times) or MiB (sizes)."""
    total = text.split("\n")[-1].split(" (")[0].replace(",", "").strip()
    m = re.match(r"([0-9.]+)\s*([A-Za-z]*)", total)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


def storage_census(sc) -> dict:
    """Persisted RDDs and the storage they hold, in memory and on disk."""
    jsc = sc._jsc
    held = 0
    for info in jsc.sc().getRDDStorageInfo():
        held += info.memSize() + info.diskSize()
    return {"persisted_rdds": int(jsc.getPersistentRDDs().size()),
            "storage_mb": held / 2**20}


class Tracer:
    """Spans and layer counts for the passes it is handed."""

    def __init__(self, spark) -> None:
        from pigpen_spark import cache

        self.sc = spark.sparkContext
        port = urllib.parse.urlparse(self.sc.uiWebUrl).port
        self.rest = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"
        self.py4j_calls = 0
        self.holds = 0
        self.spans: list[dict] = []
        self._pass: dict | None = None
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._unwrap = [lambda: delattr(client, "send_command")]
        hold = cache.hold

        def counting_hold(df):
            self.holds += 1
            return hold(df)

        cache.hold = counting_hold
        self._unwrap.append(lambda: setattr(cache, "hold", hold))

    def close(self) -> None:
        for undo in self._unwrap:
            undo()

    # -- spans ---------------------------------------------------------
    def begin_pass(self, index: int) -> None:
        self._pass = {"span": "pass", "index": index, "start": time.perf_counter(),
                      "children": []}

    def begin_query(self, name: str) -> None:
        group = f"perfbench:{self._pass['index']}:{name}"
        self._query = {"span": f"query:{name}", "group": group,
                       "start": time.perf_counter(), "children": []}
        self._phase("construct")
        self._py4j0, self._holds0 = self.py4j_calls, self.holds

    def _phase(self, name: str) -> None:
        now = time.perf_counter()
        children = self._query["children"]
        if children:
            children[-1]["end"] = now
        self.sc.setJobGroup(f"{self._query['group']}:{name}", name)
        children.append({"span": name, "start": time.perf_counter()})

    def begin_execute(self) -> None:
        self._query["construct.py4j_calls"] = self.py4j_calls - self._py4j0
        self._phase("execute")

    def end_query(self, df=None) -> None:
        """Close the query's spans; ``df`` (if any) gets its plan forced
        after the sink so its Catalyst phase times can be read."""
        end = time.perf_counter()
        q = self._query
        q["children"][-1]["end"] = end
        q["end"] = end
        self.sc.setJobGroup("perfbench:idle", "")
        q["cache.holds"] = self.holds - self._holds0
        q.setdefault("construct.py4j_calls", self.py4j_calls - self._py4j0)  # build raised
        q["catalyst.optimize_ms"] = q["catalyst.plan_ms"] = 0.0
        if df is not None:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for key, phase in (("catalyst.optimize_ms", "optimization"),
                               ("catalyst.plan_ms", "planning")):
                opt = phases.get(phase)
                if opt.isDefined():
                    q[key] = float(opt.get().durationMs())
        self._pass["children"].append(q)

    def end_pass(self) -> None:
        """Attach scheduler, REST stage and SQL node counts to every query
        span of the pass."""
        p = self._pass
        p["end"] = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stages = {s["stageId"]: s for s in self._get("/stages?status=complete")}
        sql = self._get("/sql?details=true&planDescription=false&length=100000")
        for q in p["children"]:
            spans = {c["span"]: c for c in q["children"]}
            jobs: dict[str, list[int]] = {}
            for phase in spans:
                jobs[phase] = list(tracker.getJobIdsForGroup(f"{q['group']}:{phase}"))
            all_jobs = set(jobs.get("construct", [])) | set(jobs.get("execute", []))
            stage_ids = set()
            for j in all_jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            ran = [stages[s] for s in stage_ids if s in stages]
            for phase in ("construct", "execute"):
                span = spans.get(phase)
                q[f"{phase}.s"] = span["end"] - span["start"] if span else 0.0
            q["construct.jobs"] = len(jobs.get("construct", []))
            q["sched.jobs"] = len(all_jobs)
            q["sched.stages"] = len(ran)
            q["sched.tasks"] = sum(s["numCompleteTasks"] for s in ran)
            for metric, field, scale in STAGE_METRICS:
                q[metric] = sum(s.get(field, 0) for s in ran) * scale
            self._sql_nodes(q, sql, all_jobs)
            q["wall_s"] = q["end"] - q["start"]
        self.spans.append(p)

    def _sql_nodes(self, q: dict, sql: list, jobs: set) -> None:
        # a cached or reused subplan is drawn once per consumer with the
        # same accumulators, so nodes are counted once per (name, metrics)
        seen = set()
        nodes = Counter()
        totals = Counter()
        for ex in sql:
            if not jobs.intersection(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                continue
            for node in ex.get("nodes", []):
                name = node["nodeName"]
                key = (name, json.dumps(node.get("metrics", []), sort_keys=True))
                if key in seen:
                    continue
                seen.add(key)
                nodes[name] += 1
                if name in PY_NODES:
                    values = {m["name"]: m["value"] for m in node.get("metrics", [])}
                    for metric, label in PY_METRICS:
                        if label in values:
                            totals[metric] += sql_metric(values[label])
        q["arrow.nodes"] = sum(nodes[n] for n in PY_NODES)
        q["cache.scan_nodes"] = nodes["InMemoryTableScan"]
        for metric, _ in PY_METRICS:
            q[metric] = totals[metric]

    def _get(self, path: str):
        with urllib.request.urlopen(self.rest + path, timeout=30) as resp:
            return json.load(resp)


def pass_totals(span: dict) -> dict:
    """Per-layer totals of one traced pass (sums over its queries)."""
    out = {m: 0.0 for m in QUERY_METRICS}
    for q in span["children"]:
        for m in QUERY_METRICS:
            out[m] += q.get(m, 0.0)
    return out
