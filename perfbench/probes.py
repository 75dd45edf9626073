"""Measurement helpers for the benchmark: spans, Spark status-store
counters, Python-worker SQL metrics, streaming progress and process
memory. Everything here observes the engine from outside; no engine
file is patched.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# --------------------------------------------------------------- spans


class Tracer:
    """Nested wall-clock spans. Each span carries a layer name; a
    layer's time is the sum of its spans' SELF time (duration minus
    the durations of directly nested spans), so nesting never counts
    the same second twice."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, layer: str, name: str = ""):
        s = {"layer": layer, "name": name, "t0": time.perf_counter(),
             "t1": None, "children": [],
             "parent": self._stack[-1] if self._stack else None}
        if s["parent"] is not None:
            s["parent"]["children"].append(s)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.perf_counter()
            self._stack.pop()

    @staticmethod
    def duration(s: dict) -> float:
        return s["t1"] - s["t0"]

    @classmethod
    def self_time(cls, s: dict) -> float:
        return cls.duration(s) - sum(cls.duration(c) for c in s["children"])

    def export(self) -> list[dict]:
        """Spans as rows: id, parent id, layer, name and start/end in
        seconds from the first span."""
        if not self.spans:
            return []
        base = self.spans[0]["t0"]
        ids = {id(s): i for i, s in enumerate(self.spans)}
        return [{"id": i, "parent": ids.get(id(s["parent"])),
                 "layer": s["layer"], "name": s["name"],
                 "start": s["t0"] - base, "end": s["t1"] - base}
                for i, s in enumerate(self.spans)]

    def layer_times(self) -> dict:
        out: dict = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += self.self_time(s)
        return dict(out)


# ------------------------------------------------- SQL metric parsing

_TIME_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
               "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
               "TiB": 1 << 40, "PiB": 1 << 50, "EiB": 1 << 60}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-zµ]*)")


def parse_sql_metric(text: str | None) -> float:
    """Total of one SQL metric as Spark's status store formats it:
    ``"100,000"`` (sum), ``"0 ms"`` / ``"6.6 s"`` (timing, in
    seconds), ``"807.9 KiB"`` (size, in bytes). Multi-task metrics
    read ``"total (min, med, max ...)\\n<total> (<min>, ...)"``; the
    total is the first value of the last line. Unknown text reads 0."""
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    m = _VALUE.match(line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if not unit:
        return num
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    return 0.0


# Python exec nodes expose these SQL metrics (PythonSQLMetrics); any
# plan node that carries one of them is a Python node
UDF_METRICS = {
    "time to run Python workers": "udf.run_s",
    "time to start Python workers": "udf.start_s",
    "time to initialize Python workers": "udf.init_s",
    "data sent to Python workers": "udf.bytes_sent",
    "data returned from Python workers": "udf.bytes_received",
}


def udf_totals(nodes: list[tuple[str, dict]]) -> dict:
    """Sum Python-node metrics over plan nodes given as
    ``(node_name, {metric_name: formatted_text})``."""
    out = {k: 0.0 for k in UDF_METRICS.values()}
    out["udf.rows_out"] = 0.0
    for _name, mets in nodes:
        if not any(m in mets for m in UDF_METRICS):
            continue
        for m, key in UDF_METRICS.items():
            out[key] += parse_sql_metric(mets.get(m))
        out["udf.rows_out"] += parse_sql_metric(
            mets.get("number of output rows"))
    return out


# ------------------------------------------------ Spark status store

# StageData fields read per stage. Input/output byte counters are left
# out: Spark 4.1 in local mode leaves them near-empty for file scans
# (a 10.8 MB lineitem scan reports ~18 KB), so they would mislead.
STAGE_FIELDS = {
    "spark.tasks": ("numTasks", 1.0),
    "spark.task_run_s": ("executorRunTime", 1e-3),
    "spark.task_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1.0),
    "spark.spill_bytes": ("diskBytesSpilled", 1.0),
}


class SparkCounters:
    """Reads job, stage and SQL-execution counters for one job group
    right after the group's work ends, so the status store's
    retention limits can never evict them first."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._last_exec = self._sql.executionsCount()
        self._seen_exec: set = set()
        # executions up to the newest one at construction belong to
        # earlier work, finished or not
        self._floor = -1
        if self._last_exec:
            newest = self._sql.executionsList(self._last_exec - 1, 1)
            self._floor = newest.iterator().next().executionId()

    def jobs(self, group: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(group))

    def stages(self, job_ids: list[int]) -> dict:
        """Sum STAGE_FIELDS over the completed stages of ``job_ids``
        (skipped stages ran no tasks and are not counted)."""
        want: set = set()
        tracker = self.sc.statusTracker()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                want.update(info.stageIds)
        out = {k: 0.0 for k in STAGE_FIELDS}
        out["spark.stages"] = 0.0
        if not want:
            return out
        lo = min(want)
        empty = self.sc._gateway.new_array(self._jvm.double, 0)
        # stageList is ordered newest first: stop below our oldest stage
        it = self._store.stageList(None, False, False, empty, None) \
            .iterator()
        while it.hasNext():
            s = it.next()
            sid = s.stageId()
            if sid < lo:
                break
            if sid not in want or s.status().toString() != "COMPLETE":
                continue
            out["spark.stages"] += 1
            for key, (field, scale) in STAGE_FIELDS.items():
                out[key] += getattr(s, field)() * scale
        return out

    def new_python_nodes(self) -> list[tuple[str, dict]]:
        """``(node, {metric: text})`` for every plan node of the SQL
        executions that ended since the previous call."""
        count = self._sql.executionsCount()
        # the executions added since the last call, plus some older
        # ones that may have still been running then
        k = min(count, max(count - self._last_exec, 0) + 32)
        self._last_exec = count
        nodes = []
        it = self._sql.executionsList(count - k, k).iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if (eid <= self._floor or eid in self._seen_exec
                    or ex.completionTime().isEmpty()):
                continue
            self._seen_exec.add(eid)
            values = self._sql.executionMetrics(eid)
            graph = self._sql.planGraph(eid).allNodes().iterator()
            while graph.hasNext():
                node = graph.next()
                mets = {}
                mi = node.metrics().iterator()
                while mi.hasNext():
                    m = mi.next()
                    v = values.get(m.accumulatorId())
                    if v.isDefined():
                        mets[m.name()] = v.get()
                if any(m in mets for m in UDF_METRICS):
                    nodes.append((node.name(), mets))
        return nodes


def plan_phases(df) -> tuple[float, int]:
    """Force ``df``'s physical plan; return (seconds spent in
    analysis + optimization + planning per its QueryPlanningTracker,
    number of physical plan nodes)."""
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan()
    total = 0.0
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs() / 1e3
    nodes = sum(1 for ln in plan.treeString().splitlines() if ln.strip())
    return total, nodes


class Py4jCallCounter:
    """Counts driver→JVM round trips while active, by wrapping the
    gateway client's ``send_command``."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        self.calls = 0
        self.active = False

        def counted(*a, **kw):
            if self.active:
                self.calls += 1
            return self._orig(*a, **kw)
        self._client.send_command = counted

    def close(self):
        self._client.send_command = self._orig


# --------------------------------------------------------- streaming

def make_stream_listener():
    """A StreamingQueryListener that keeps every progress event's
    durations and each query's start/termination."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.lock = threading.Lock()
            self.started: dict = {}
            self.terminated: set = set()
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            with self.lock:
                self.started[str(event.runId)] = event.timestamp

        def onQueryProgress(self, event):
            p = event.progress
            with self.lock:
                self.progress.append({
                    "run": str(p.runId), "ts": p.timestamp,
                    "dur": dict(p.durationMs or {}),
                    "state_commit_ms": sum(
                        (s.commitTimeMs or 0) for s in p.stateOperators)})

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self.lock:
                self.terminated.add(str(event.runId))

        def settle(self, timeout: float = 10.0) -> None:
            """Wait until every started query's termination arrived
            (events reach Python asynchronously)."""
            end = time.monotonic() + timeout
            while time.monotonic() < end:
                with self.lock:
                    if set(self.started) <= self.terminated:
                        return
                time.sleep(0.02)

    return _Listener()


def _iso(ts: str) -> float:
    from datetime import datetime
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def streaming_totals(started: dict, progress: list[dict]) -> dict:
    """streaming.* metrics from listener events: batch count, summed
    per-phase durations, and ``start_s`` = each query's wall time
    (start event → end of its last trigger) minus its trigger time."""
    out = {"streaming.batches": 0.0, "streaming.planning_s": 0.0,
           "streaming.add_batch_s": 0.0, "streaming.offsets_s": 0.0,
           "streaming.commit_s": 0.0, "streaming.state_commit_s": 0.0,
           "streaming.start_s": 0.0}
    last_end: dict = {}
    trigger: dict = defaultdict(float)
    for p in progress:
        d = p["dur"]
        out["streaming.batches"] += 1
        out["streaming.planning_s"] += d.get("queryPlanning", 0) / 1e3
        out["streaming.add_batch_s"] += d.get("addBatch", 0) / 1e3
        out["streaming.offsets_s"] += (d.get("latestOffset", 0)
                                       + d.get("getBatch", 0)
                                       + d.get("walCommit", 0)) / 1e3
        out["streaming.commit_s"] += d.get("commitOffsets", 0) / 1e3
        out["streaming.state_commit_s"] += p["state_commit_ms"] / 1e3
        trig = d.get("triggerExecution", 0) / 1e3
        trigger[p["run"]] += trig
        end = _iso(p["ts"]) + trig
        last_end[p["run"]] = max(last_end.get(p["run"], end), end)
    for run, t0 in started.items():
        if run in last_end:
            out["streaming.start_s"] += max(
                last_end[run] - _iso(t0) - trigger[run], 0.0)
    return out


# ------------------------------------------------------------ memory

def _pss_kb(pid: int) -> int:
    """The process's proportional set size: resident pages, with each
    page shared between processes (a forked worker and its daemon)
    split among them, so a sum over processes counts it once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_python(pid: int) -> bool:
    """A JVM child between fork and exec still shares the JVM's memory
    map, so its PSS would count the JVM twice; only processes already
    running Python are workers."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().startswith("python")
    except OSError:
        return False


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


class RssMonitor:
    """Samples the memory of the driver Python process, the JVM and the
    JVM's live Python worker processes every ``interval`` seconds;
    keeps the peak of each part and of their sum (MB). Memory is the
    proportional set size, so pages a forked worker shares with its
    daemon are not counted once per worker."""

    def __init__(self, jvm_pid: int | None, interval: float = 0.2):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = {"driver": 0.0, "jvm": 0.0, "workers": 0.0,
                     "total": 0.0, "n_workers": 0}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        driver = _pss_kb(os.getpid()) / 1024
        jvm = workers = 0.0
        n = 0
        if self.jvm_pid:
            jvm = _pss_kb(self.jvm_pid) / 1024
            todo = _children(self.jvm_pid)
            while todo:
                pid = todo.pop()
                todo.extend(_children(pid))
                if _is_python(pid):
                    workers += _pss_kb(pid) / 1024
                    n += 1
        self.peak["n_workers"] = max(self.peak["n_workers"], n)
        for k, v in (("driver", driver), ("jvm", jvm),
                     ("workers", workers),
                     ("total", driver + jvm + workers)):
            self.peak[k] = max(self.peak[k], v)

    def _run(self):
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> "RssMonitor":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> dict:
        self._stop.set()
        self._thread.join()
        self.sample()
        return dict(self.peak)
