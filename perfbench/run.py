"""pigpen-spark benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a pigpen-spark checkout.  The run:

1. derives the workload's inputs from ``perfbench/data`` and the seed
   (untimed; see ``inputs.py``);
2. sets up three times: build the session with ``get_spark`` (the first
   build launches the JVM; the next two stop and rebuild the session in
   it) and run one warm-up pass that collects and digests every output.
   ``setup_s`` is the median set-up.  The digests must agree across the
   three passes, and rows with a DuckDB oracle must match it on the same
   inputs;
3. discards passes for ``WARMUP_S``, then runs steady-state passes into
   a noop sink for ``--seconds``; ``pass_s`` is the median pass;
4. releases the engine's caches and measures what the driver still holds.

With ``--trace 1`` the window alternates untraced and traced passes (see
``layers.py``); the last line then carries the per-layer metrics, the
record adds the tracing overhead (median traced pass minus median
untraced pass), and the spans go to
``.perfbench/trace-<workload>-<seed>.json``.

The line before the last is the run's record (host stamp, every pass and
set-up, the cache census after each pass, the wall time of each phase).
The last line is
``{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}``.
A failed query or a digest mismatch makes the run exit 1.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

import workloads

ROOT = os.getcwd()
SETUPS = 3
#: Passes are discarded for this long before the window opens: the JIT
#: keeps compiling for several passes after the set-ups.
WARMUP_S = 6.0
#: Driver heap for local mode: the program's default (16g) does not fit a
#: small shared host, and these inputs need far less.
DRIVER_MEM = "3g"

def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _host_env(work: str) -> int:
    """Host configuration, set before the JVM starts: local[nproc], a heap
    that fits, spill and temp space inside the checkout, and the checkout
    on the Python workers' path."""
    cpus = len(os.sched_getaffinity(0))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": ROOT + (os.pathsep + path if path else ""),
        "TMPDIR": os.path.join(work, "tmp"),
    })
    return cpus


def _spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
        "spark.ui.showConsoleProgress": "false",
    }


class Run:
    """One workload's queries, its inputs and the correctness tally."""

    def __init__(self, wl, in_dir: str) -> None:
        from pigpen_spark import catalog, catalog_ext  # noqa: F401 — registers ext_* rows
        from pigpen_spark.tuning import clear_engine_caches

        qs = catalog.queries()
        self.in_dir = in_dir
        self.queries = [(name, qs[name]) for name in wl.queries]
        self.release = clear_engine_caches
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.digests: dict[str, list[str]] = {name: [] for name in wl.queries}
        self.query_s: dict[str, list[float]] = {name: [] for name in wl.queries}

    def _fail(self, name: str, what: str) -> None:
        self.failed += 1
        self.problems.append(f"{name}: {what}")

    def verify_pass(self, spark) -> float:
        """One warm-up pass that collects and digests every output.
        Returns its wall time without the digesting."""
        import verify

        spent = 0.0
        for name, build in self.queries:
            self.attempted += 1
            self.release(spark)
            t = time.perf_counter()
            try:
                df = build(spark, self.in_dir)
                rows = df.collect()
                spent += time.perf_counter() - t
                self.digests[name].append(verify.digest(df.columns, rows))
            except Exception as e:  # noqa: BLE001 — any failure is counted
                spent += time.perf_counter() - t
                self._fail(name, f"raised {type(e).__name__}: {str(e)[:300]}")
        return spent

    def check_digests(self) -> None:
        """Every verification digest must equal the oracle's (if the row
        has one) or else the first pass's."""
        import verify
        from pigpen_spark import catalog

        sql = catalog.oracle_sql()
        oracle = verify.Oracle(self.in_dir, catalog.TABLES)
        for name, got in self.digests.items():
            if not got:
                continue
            if name in sql:
                want, source = oracle.digest(sql[name]), "oracle"
            else:
                want, source = got[0], "first pass"
            for d in got:
                if d != want:
                    self._fail(name, f"verify digest {d} != {source} {want}")

    def timed_pass(self, spark, tracer=None) -> float:
        t0 = time.perf_counter()
        for name, build in self.queries:
            self.attempted += 1
            self.release(spark)
            if tracer:
                tracer.begin_query(name)
            df = None
            t = time.perf_counter()
            try:
                df = build(spark, self.in_dir)
                if tracer:
                    tracer.begin_execute()
                df.write.mode("overwrite").format("noop").save()
            except Exception as e:  # noqa: BLE001
                self._fail(name, f"raised {type(e).__name__}: {str(e)[:300]}")
            self.query_s[name].append(time.perf_counter() - t)
            if tracer:
                tracer.end_query(df)
        return time.perf_counter() - t0


def _retained(spark) -> dict:
    """What the driver still holds once the engine's caches are released:
    live JVM heap once full collections stop freeing anything, plus the
    persisted and checkpointed blocks (memory and disk) left after that."""
    import layers

    sc = spark.sparkContext
    jvm = sc._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    # Spark's ContextCleaner unpersists dead RDDs and frees shuffle and
    # broadcast state only after a collection has queued their references,
    # so one GC is not enough
    heap = []
    for _ in range(25):
        gc.collect()  # drop Python proxies so py4j frees the JVM objects behind them
        jvm.System.gc()
        heap.append((rt.totalMemory() - rt.freeMemory()) / 2**20)
        if len(heap) >= 3 and heap[-3] - heap[-1] < 0.5:
            break
        time.sleep(0.3)
    census = layers.storage_census(sc)
    census["heap_mb"] = heap[-1]
    census["gc_rounds"] = len(heap)
    return census


def _stop(spark) -> None:
    """Stop the session, the py4j gateway and the JVM, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def bench(args, work: str) -> dict:
    t0 = time.perf_counter()
    stamp = {"nproc": _host_env(work), "load1_before": os.getloadavg()[0]}
    phase_s = {}
    import inputs
    import layers
    from pigpen_spark.session import get_spark

    wl = workloads.WORKLOADS[args.workload]
    in_dir = inputs.make_inputs(os.path.join(work, "in"), args.seed, wl.copies)
    conf = _spark_conf(work)
    run = Run(wl, in_dir)
    phase_s["inputs"] = time.perf_counter() - t0

    setups, sessions = [], []
    spark = tracer = None
    try:
        for _ in range(SETUPS):
            if spark is not None:
                run.release(spark)
                spark.stop()
            t = time.perf_counter()
            spark = get_spark("perfbench", extra_conf=conf)
            spark.sparkContext.setLogLevel("ERROR")
            sessions.append(time.perf_counter() - t)
            setups.append(sessions[-1] + run.verify_pass(spark))
        phase_s["setups"] = sum(setups)
        t = time.perf_counter()
        while time.perf_counter() - t < WARMUP_S:
            run.timed_pass(spark)
        phase_s["warmup"] = time.perf_counter() - t

        passes, traced, census = [], [], []
        # traced and untraced passes alternate, so the JIT's late settling
        # weighs on both and their difference is the tracing overhead
        tracer = layers.Tracer(spark) if args.trace else None
        start = time.perf_counter()
        while True:
            if tracer and len(passes) > len(traced):
                tracer.begin_pass(len(traced))
                traced.append(run.timed_pass(spark, tracer))
                tracer.end_pass()
            else:
                passes.append(run.timed_pass(spark))
            census.append(layers.storage_census(spark.sparkContext))
            if time.perf_counter() - start >= args.seconds and (traced or not tracer):
                break
        phase_s["window"] = time.perf_counter() - start
        t = time.perf_counter()
        run.release(spark)
        held = _retained(spark)
        phase_s["retained"] = time.perf_counter() - t
    finally:
        if tracer:
            tracer.close()
        if spark is not None:
            _stop(spark)
    stamp["load1_after"] = os.getloadavg()[0]
    # DuckDB runs only once Spark has stopped, so its threads never
    # share the host with a timed pass
    t = time.perf_counter()
    run.check_digests()
    phase_s["oracle"] = time.perf_counter() - t
    phase_s["total"] = time.perf_counter() - t0

    record = {
        "workload": wl.name, "seed": args.seed, "queries": list(wl.queries), **stamp,
        "setup_s": setups, "session_s": sessions, "pass_s": passes,
        "query_s": run.query_s, "census_per_pass": census, "retained": held, "problems": run.problems,
        "phase_s": phase_s,
    }
    if tracer:
        totals = [layers.pass_totals(p) for p in tracer.spans]
        layer = {m: _median([t[m] for t in totals]) for m in layers.QUERY_METRICS}
        scans = layer.pop("cache.scan_nodes")
        layer["cache.scans_per_hold"] = scans / layer["cache.holds"] if layer["cache.holds"] else 0.0
        layer["session.start_s"] = sessions[0]
        layer["cache.persisted_rdds"] = held["persisted_rdds"]
        layer["cache.storage_mb"] = held["storage_mb"]
        record["traced_pass_s"] = traced
        record["trace_overhead_s"] = _median(traced) - _median(passes)
        record["span_gap_s"] = max(
            abs(q["wall_s"] - q["construct.s"] - q["execute.s"])
            for p in tracer.spans for q in p["children"])
        os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
        out = os.path.join(ROOT, ".perfbench", f"trace-{wl.name}-{args.seed}.json")
        with open(out, "w") as fh:
            json.dump({"record": record, "spans": tracer.spans}, fh)
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            units = {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}
        metrics = {m: {"value": layer[m], "unit": u} for m, u in units.items()}
    else:
        metrics = {
            "pass_s": {"value": _median(passes), "unit": "s"},
            "setup_s": {"value": _median(setups), "unit": "s"},
            "ok_share": {"value": 1 - run.failed / run.attempted, "unit": "share"},
            "retained_mb": {"value": held["heap_mb"] + held["storage_mb"], "unit": "MB"},
        }
    print(json.dumps(record))
    return {"correct": run.failed == 0, "attempted": run.attempted,
            "failed": run.failed, "metrics": metrics}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pigpen_spark", "__init__.py")):
        print("perfbench: no pigpen_spark package here; run from the root of a "
              "pigpen-spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result = bench(args, work)
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
