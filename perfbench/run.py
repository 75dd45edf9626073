#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload tpch|llm_ts|lakehouse \
        --seed N --seconds S --trace 0|1

Run from the repository root. One closed-loop client on
``local[<cores>]``:

1. set-up: generate the seeded inputs (``tpch``, ``llm_ts``; not
   timed), start the session and warm it up;
2. ingest: land the generated inputs through the engine's parquet
   reader and sink (``tpch``, ``llm_ts``) or write the Delta/Iceberg/
   Hudi sequence through the public writers (``lakehouse``);
3. cold pass: each op once, results collected and checked against its
   oracle (DuckDB for registry queries, a row model for table reads);
4. warm passes: build + noop write per op, repeated until ``S``
   seconds have passed since the cold pass ended and at least
   ``MIN_WARM_PASSES`` passes ran;
5. with ``--trace 1`` one more warm pass with spans and Spark
   counters, reported as per-layer metrics.

Everything runs under a fresh temporary root inside ``perfbench/``
(TMPDIR, Spark local dirs, java.io.tmpdir, streaming checkpoints),
deleted at exit. Per-op detail, the host-steal trace and load
averages go to ``perfbench/results/``; stdout's last line is the
metrics JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import probes as tr  # noqa: E402
from workloads import SF, WORKLOADS  # noqa: E402

# per-op medians of at least three warm passes, so one stalled pass
# cannot move suite_s
MIN_WARM_PASSES = 3


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _import_repo():
    """The engine, its query registry, the oracle helper and the steal
    sampler, all from the checkout. Raises ImportError when the
    checkout lacks them."""
    sys.path.insert(0, REPO)
    sys.path.insert(0, os.path.join(REPO, "tests"))
    import quokka_spark  # noqa: F401
    import __spark_entry__ as entry
    from bench import StealMonitor
    from conftest import assert_matches_oracle
    return entry, StealMonitor, assert_matches_oracle


class _TimedFrame:
    """Stands in for a registry query's DataFrame inside the oracle
    helper: ``toPandas`` is the end of the timed cold run."""

    def __init__(self, df, t0: float, sink: dict):
        self._df, self._t0, self._sink = df, t0, sink

    def toPandas(self):
        pdf = self._df.toPandas()
        self._sink["cold_s"] = time.perf_counter() - self._t0
        return pdf


class Bench:
    def __init__(self, args, work: str):
        self.args = args
        self.work = work
        self.cfg = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.data = os.path.join(work, "data")
        self.failed: dict = {}
        # ops that raised before producing a result: left out of the
        # later passes; an op that only fails its check keeps running
        self.raised: set = set()
        self.ops: list = []
        self.first: dict = {}
        self.warm: dict = {}
        self.traced: dict = {}
        self.layers: dict = {}
        self.extra: dict = {}

    # ------------------------------------------------------ set-up

    def start_session(self):
        from quokka_spark.session import build_spark
        os.environ["SPARK_GRAFT_SF_DIR"] = self.data
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        t0 = time.perf_counter()
        self.spark = build_spark(
            app_name="perfbench", cpus=self.cores,
            extra_conf={
                "spark.local.dir": os.path.join(self.work, "spark-local"),
                # no hsperfdata files under the system /tmp either
                "spark.driver.extraJavaOptions":
                    "-XX:-UsePerfData -Djava.io.tmpdir="
                    + os.path.join(self.work, "jtmp"),
                "spark.sql.warehouse.dir":
                    os.path.join(self.work, "warehouse"),
                "spark.ui.showConsoleProgress": "false"})
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        if self.cfg["udf_warmup"]:
            # one tiny mapInPandas touches every worker slot once, so
            # the first UDF query does not pay the worker pool start
            (self.spark.range(self.cores * 4).repartition(self.cores)
             .mapInPandas(lambda it: it, "id long")
             .write.format("noop").mode("overwrite").save())
        else:
            self.spark.range(1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        self.layers["session.start_s"] = t1 - t0
        self.layers["session.warmup_s"] = t2 - t1
        jvm = getattr(self.spark.sparkContext._gateway, "proc", None)
        self.rss = tr.RssMonitor(jvm.pid if jvm else None).start()

    # ------------------------------------------------------ ingest

    def ingest_inputs(self) -> None:
        """Land the largest seeded input, lineitem, through the engine:
        read with ``QuokkaContext.read_parquet``, written with the
        ``DataStream.write_parquet`` sink. The queries read the
        generated files; the landed copy only measures the write path
        (``ingest_s``) and its bytes (``storage_amp``). One table keeps
        the cost of a run down."""
        from quokka_spark import QuokkaContext
        qc = QuokkaContext(spark=self.spark)
        src = os.path.join(self.data, "lineitem.parquet")
        landed = os.path.join(self.work, "landed")
        t0 = time.perf_counter()
        qc.read_parquet(src).write_parquet(landed)
        self.ingest_s = time.perf_counter() - t0
        self.storage_amp = _tree_bytes(landed) / os.path.getsize(src)

    def ingest_lake(self) -> None:
        from lake import LakeTables

        from quokka_spark import QuokkaContext
        self.lake = LakeTables(QuokkaContext(spark=self.spark),
                               os.path.join(self.work, "lake"),
                               self.args.seed)
        t0 = time.perf_counter()
        try:
            self.lake.ingest()
        except Exception as exc:  # noqa: BLE001 - counted, not fatal
            self._fail("ingest", exc)
            self.raised.add("ingest")
        self.ingest_s = time.perf_counter() - t0
        self.extra["ingest_step_s"] = self.lake.step_s
        self.storage_amp = (sum(_tree_bytes(p)
                                for p in self.lake.path.values())
                            / self.lake.plain_bytes())
        n_logs, n_cps = self.lake.log_files()
        commits = sum(len(v) for v in self.lake.version.values())
        self.layers.update({
            **{f"sources.commit_s.{f}": s
               for f, s in self.lake.commit_s.items()},
            "sources.commits": float(commits),
            "sources.checkpoints": float(n_cps),
            "sources.log_files": float(n_logs)})

    # --------------------------------------------------------- ops

    def build_ops(self, entry) -> None:
        reg = entry.queries()
        for name in self.cfg["queries"]:
            fn = reg[name]
            self.ops.append({"name": name, "kind": "query",
                             "build": (lambda fn=fn:
                                       fn(self.spark, self.data))})
        if self.cfg["lake"] and "ingest" not in self.raised:
            for name, build, kind in self.lake.read_ops():
                self.ops.append({"name": name, "kind": kind,
                                 "build": build})

    def _fail(self, name: str, exc: BaseException) -> None:
        msg = f"{type(exc).__name__}: {exc}"[:500]
        self.failed.setdefault(name, msg)
        _log(f"op {name} failed:\n{traceback.format_exc()}")

    def _drain(self, sdf) -> str:
        """Run a streaming DataFrame to completion into a memory sink;
        returns the sink's table name."""
        qname = "pb_" + os.urandom(5).hex()
        q = (sdf.writeStream.format("memory").queryName(qname)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(60):
            q.stop()
            raise TimeoutError(f"stream drain {qname} exceeded 60 s")
        return qname

    def _execute(self, op, df) -> None:
        if op["kind"] == "stream":
            self.spark.catalog.dropTempView(self._drain(df))
        else:
            df.write.format("noop").mode("overwrite").save()

    def _collect_garbage(self) -> None:
        """Untimed, before each pass: collect JVM garbage so one pass's
        heap debt does not land as GC pauses inside the next one."""
        self.spark.sparkContext._jvm.System.gc()

    def cold_pass(self, entry, assert_matches_oracle) -> None:
        """Each op's first run, with its result collected and checked.
        The first run is timed up to the collected result; the oracle
        comparison is not timed."""
        self._collect_garbage()
        for op in self.ops:
            name = op["name"]
            sink: dict = {}
            try:
                if op["kind"] == "query":
                    real = entry.queries
                    fn = real()[name]

                    def timed(spark, sf, fn=fn, sink=sink):
                        t0 = time.perf_counter()
                        return _TimedFrame(fn(spark, sf), t0, sink)
                    entry.queries = lambda: {name: timed}
                    try:
                        assert_matches_oracle(self.spark, name, self.data)
                    finally:
                        entry.queries = real
                else:
                    t0 = time.perf_counter()
                    df = op["build"]()
                    if op["kind"] == "stream":
                        table = self._drain(df)
                        pdf = self.spark.table(table).toPandas()
                        self.spark.catalog.dropTempView(table)
                    else:
                        pdf = df.toPandas()
                    sink["cold_s"] = time.perf_counter() - t0
                    self.lake.check(name, op["kind"], pdf)
            except Exception as exc:  # noqa: BLE001 - isolated per op
                self._fail(name, exc)
                if "cold_s" not in sink:
                    self.raised.add(name)
            if "cold_s" in sink:
                self.first[name] = sink["cold_s"]
            self.spark.catalog.clearCache()

    def warm_pass(self) -> None:
        self._collect_garbage()
        for op in self.ops:
            if op["name"] in self.raised:
                continue
            try:
                t0 = time.perf_counter()
                df = op["build"]()
                self._execute(op, df)
                self.warm.setdefault(op["name"], []).append(
                    time.perf_counter() - t0)
            except Exception as exc:  # noqa: BLE001 - isolated per op
                self._fail(op["name"], exc)
                self.raised.add(op["name"])
            self.spark.catalog.clearCache()

    def traced_pass(self) -> None:
        spark = self.spark
        sc = spark.sparkContext
        counters = tr.SparkCounters(spark)
        calls = tr.Py4jCallCounter(spark)
        listener = tr.make_stream_listener()
        spark.streams.addListener(listener)
        tracer = tr.Tracer()
        detail = {}
        self._collect_garbage()
        try:
            for i, op in enumerate(self.ops):
                name, kind = op["name"], op["kind"]
                if name in self.raised:
                    continue
                gb, gx = f"pb-build-{i}", f"pb-exec-{i}"
                rec = {"kind": kind, "plan_s": 0.0, "plan_nodes": 0}
                try:
                    sc.setJobGroup(gb, name)
                    with tracer.span("op", name) as s_op:
                        calls.calls, calls.active = 0, True
                        with tracer.span("build", name) as s_b:
                            df = op["build"]()
                        calls.active = False
                        sc.setJobGroup(gx, name)
                        if kind not in ("stream",):
                            with tracer.span("plan", name):
                                rec["plan_s"], rec["plan_nodes"] = \
                                    tr.plan_phases(df)
                        with tracer.span("exec", name) as s_x:
                            self._execute(op, df)
                    sc.setJobGroup("pb-idle", "idle")
                    rec.update({
                        "op_s": tr.Tracer.duration(s_op),
                        "build_s": tr.Tracer.duration(s_b),
                        "exec_s": tr.Tracer.duration(s_x),
                        "harness_s": tr.Tracer.self_time(s_op),
                        "py4j_calls": calls.calls,
                        "build_jobs": len(counters.jobs(gb))})
                    xjobs = counters.jobs(gx)
                    rec["exec_jobs"] = len(xjobs)
                    rec.update(counters.stages(xjobs))
                    rec.update(tr.udf_totals(counters.new_python_nodes()))
                    self.traced[name] = rec["op_s"]
                except Exception as exc:  # noqa: BLE001
                    self._fail(name, exc)
                    self.raised.add(name)
                    calls.active = False
                detail[name] = rec
                self.spark.catalog.clearCache()
            listener.settle()
        finally:
            calls.close()
            spark.streams.removeListener(listener)
        self.extra["traced_ops"] = detail
        self.extra["trace_layers"] = tracer.layer_times()
        self.extra["spans"] = tracer.export()
        self._layer_metrics(detail, listener)

    def _layer_metrics(self, detail: dict, listener) -> None:
        def total(key, kinds=None):
            return float(sum(r.get(key, 0.0) for r in detail.values()
                             if kinds is None or r["kind"] in kinds))
        queries = ("query",)
        reads = ("snapshot", "time_travel", "change_feed", "stream")
        L = self.layers
        L["datastream.build_s"] = total("build_s", queries)
        L["datastream.build_jobs"] = total("build_jobs", queries)
        L["datastream.py4j_calls"] = total("py4j_calls", queries)
        L["catalyst.plan_s"] = total("plan_s")
        L["catalyst.plan_nodes"] = total("plan_nodes")
        # stream drains run their jobs on the query's own thread, out
        # of the job group: the spark.* layer covers the batch ops
        batch = queries + ("snapshot", "time_travel", "change_feed")
        L["spark.exec_s"] = total("exec_s", batch)
        L["spark.jobs"] = total("exec_jobs", batch)
        for k in list(tr.STAGE_FIELDS) + ["spark.stages"]:
            L[k] = total(k)
        L["spark.busy_frac"] = (L["spark.task_run_s"]
                                / (L["spark.exec_s"] * self.cores)
                                if L["spark.exec_s"] else 0.0)
        for k in list(tr.UDF_METRICS.values()) + ["udf.rows_out"]:
            L[k] = total(k)
        L["sources.read_plan_s"] = total("build_s", reads)
        L["sources.read_exec_s"] = total("exec_s", reads)
        with listener.lock:
            L.update(tr.streaming_totals(dict(listener.started),
                                         list(listener.progress)))

    # ----------------------------------------------------- results

    def suite_s(self, times: dict) -> float:
        return sum(statistics.median(v) if isinstance(v, list) else v
                   for k, v in times.items() if k not in self.raised)

    def result(self, peak: dict) -> dict:
        e2e = {
            "suite_s": (self.suite_s(self.warm), "s"),
            "first_run_s": (sum(self.first.values()), "s"),
            "setup_s": (self.layers["session.start_s"]
                        + self.layers["session.warmup_s"], "s"),
            "ingest_s": (self.ingest_s, "s"),
            "storage_amp": (self.storage_amp, "ratio"),
            "peak_rss_mb": (peak["total"], "MB"),
        }
        attempted = len(self.ops)
        if self.cfg["lake"]:
            # every write of the history counts as one op
            attempted += len(self.lake.seq) * len(self.lake.path)
        failed = len(self.failed)
        if not self.args.trace:
            metrics = {k: {"value": v, "unit": u}
                       for k, (v, u) in e2e.items()}
        else:
            L = dict(self.layers)
            L["proc.jvm_rss_mb"] = peak["jvm"]
            L["proc.driver_rss_mb"] = peak["driver"]
            L["proc.worker_rss_mb"] = peak["workers"]
            for k in ("sources.commit_s.delta", "sources.commit_s.iceberg",
                      "sources.commit_s.hudi", "sources.commits",
                      "sources.checkpoints", "sources.log_files"):
                L.setdefault(k, 0.0)
            untraced = self.suite_s({k: self.warm[k] for k in self.traced
                                     if k in self.warm})
            L["trace.overhead_frac"] = (self.suite_s(self.traced) / untraced
                                        - 1.0) if untraced else 0.0
            L["failed_frac"] = failed / attempted
            metrics = {k: {"value": v, "unit": _unit(k)}
                       for k, v in sorted(L.items())}
        return {"correct": failed == 0, "attempted": attempted,
                "failed": failed, "metrics": metrics}


def _tree_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _dirs, files in os.walk(root) for f in files)


def _unit(name: str) -> str:
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes") or name.startswith("udf.bytes"):
        return "B"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        entry, StealMonitor, assert_matches_oracle = _import_repo()
    except ImportError as exc:
        _log(f"engine sources not found next to perfbench/: {exc}")
        return 3

    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-",
                            dir=os.path.join(HERE, ".work"))
    for sub in ("tmp", "jtmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    # everything that defaults to the system temp dir — registry
    # fixtures cached behind _done markers, Python workers, streaming
    # checkpoints — lands in this run's root and dies with it
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    # Spark's Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, os.environ.get("PYTHONPATH")) if p)

    steal = StealMonitor(window=1.0).start()
    load_before = os.getloadavg()
    bench = Bench(args, work)
    try:
        lake = bench.cfg["lake"]
        if not lake:
            import datagen
            datagen.write(bench.data, args.seed, SF)
        bench.start_session()
        if lake:
            bench.ingest_lake()
        else:
            bench.ingest_inputs()
        bench.build_ops(entry)
        bench.cold_pass(entry, assert_matches_oracle)
        t0 = time.perf_counter()
        passes = 0
        while (passes < MIN_WARM_PASSES
               or time.perf_counter() - t0 < args.seconds):
            bench.warm_pass()
            passes += 1
            if not bench.warm:
                break
        if args.trace:
            bench.traced_pass()
        peak = bench.rss.stop()
        out = bench.result(peak)
        artifact = {
            "workload": args.workload, "seed": args.seed, "sf": SF,
            "cores": bench.cores, "trace": args.trace,
            "steal": steal.stop(),
            "loadavg_before": load_before, "loadavg_after": os.getloadavg(),
            "failed": bench.failed, "rss_peak_mb": peak,
            "per_op": {op["name"]: {
                "first_s": bench.first.get(op["name"]),
                "warm_median_s": (statistics.median(bench.warm[op["name"]])
                                  if op["name"] in bench.warm else None),
                "warm_min_s": min(bench.warm.get(op["name"]) or [None]),
                "warm_s": bench.warm.get(op["name"], [])}
                for op in bench.ops},
            **bench.extra, "layers": bench.layers, "result": out}
        res = os.path.join(HERE, "results")
        os.makedirs(res, exist_ok=True)
        with open(os.path.join(
                res, f"{args.workload}-seed{args.seed}-trace{args.trace}"
                ".json"), "w") as f:
            json.dump(artifact, f, indent=1, default=str)
    except Exception:  # noqa: BLE001 - no result line on a broken run
        traceback.print_exc()
        return 1
    finally:
        spark = getattr(bench, "spark", None)
        if spark is not None:
            gw = spark.sparkContext._gateway
            proc = getattr(gw, "proc", None)
            spark.stop()
            gw.shutdown()
            if proc is not None:
                # the JVM exits when its stdin closes; wait for it
                if proc.stdin:
                    proc.stdin.close()
                proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
    for name, msg in sorted(bench.failed.items()):
        _log(f"FAILED {name}: {msg}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
