"""Spans and counters recorded from the benchmark's side of each layer boundary.

The engine is not instrumented. A traced run wraps the public entry points of
the ``catalog`` and ``caching`` layers (the wrappers only time and count: they
pass arguments and results through untouched), records a span around every
call the benchmark itself makes into ``session``, ``plans``, ``sources`` and
``streaming``, and tags the Spark jobs of each op with a job group named after
its span. After each op the jobs of that group are read back from Spark's own
status store (task metrics) and SQL status store (Python-worker metrics); both
work with the UI disabled. Spans stay in memory until the run ends.

An untraced run uses ``NullTracer``: the same code path with every hook a
no-op, so the difference between the two runs is the tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import re
import sys
import time
from collections import defaultdict

# Python-worker SQL metrics (PythonSQLMetrics) by their display name
PY_METRICS = {
    "time to run Python workers": "operators.py_total_s",
    "time to start Python workers": "operators.py_boot_s",
    "time to initialize Python workers": "operators.py_init_s",
    "data sent to Python workers": "operators.py_sent_bytes",
    "data returned from Python workers": "operators.py_recv_bytes",
}

_UNITS = {
    "B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40,
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0,
    "h": 3600.0,
}
_TOTAL = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")

# every per-layer metric the traced run reports, in BENCHMARK.json order
LAYER_METRICS = {
    "session.start_s": "s",
    "catalog.calls": "count",
    "catalog.busy_s": "s",
    "plans.build_s": "s",
    "plans.self_s": "s",
    "plans.build_jobs": "count",
    "caching.holds": "count",
    "caching.eager_holds": "count",
    "caching.hold_s": "s",
    "caching.release_s": "s",
    "exec.write_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.core_util": "ratio",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.input_bytes": "bytes",
    "operators.py_total_s": "s",
    "operators.py_boot_s": "s",
    "operators.py_init_s": "s",
    "operators.py_sent_bytes": "bytes",
    "operators.py_recv_bytes": "bytes",
    "sources.calls": "count",
    "sources.records": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.overhead_ms": "ms",
    "streaming.batch_p90_ms": "ms",
    "streaming.produce_records_per_s": "rec/s",
    "streaming.count_records_per_s": "rec/s",
    "streaming.state_rows": "count",
    "streaming.state_bytes": "bytes",
    "streaming.state_commit_ms": "ms",
    "streaming.sink_files": "count",
    "streaming.sink_bytes": "bytes",
}


def parse_metric_total(text: str) -> float:
    """Total of a formatted SQL metric, in bytes or seconds.

    The status store keeps SQL metrics as display strings, either a bare
    value (``"1.5 KiB"``) or ``"total (min, med, max ...)\\n<total> (...)"``.
    """
    line = text.strip().splitlines()[-1]
    m = _TOTAL.search(line)
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class NullTracer:
    """The untraced run: every hook does nothing."""

    def span(self, layer: str, name: str, **attrs):
        return contextlib.nullcontext()

    def op(self, spark, name: str, phase: str):
        return contextlib.nullcontext()

    def mark_timed(self, spark) -> None:
        pass

    def flush(self, spark) -> None:
        pass


class Tracer(NullTracer):
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self._sql_seen = -1
        self._pending: list[tuple[str, int, str]] = []

    # -- spans -----------------------------------------------------------
    @contextlib.contextmanager
    def span(self, layer: str, name: str, **attrs):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            self._stack.pop()
            self.spans.append({"id": sid, "parent": parent, "layer": layer,
                               "name": name, "start": start, "end": end, **attrs})

    def add(self, metric: str, value: float) -> None:
        self.totals[metric] += value

    def mark_timed(self, spark) -> None:
        """Start the timed window: drop what set-up recorded, except the
        session span (set-up's own layer)."""
        self.flush(spark)
        self.spans = [s for s in self.spans if s["layer"] == "session"]
        self.totals.clear()

    # -- wrappers around layer entry points --------------------------------
    def _wrap(self, fn, layer: str, name: str, eager=None):
        @functools.wraps(fn)
        def timed(*args, **kwargs):
            attrs = {} if eager is None else {"eager": eager(args, kwargs)}
            with self.span(layer, name, **attrs):
                return fn(*args, **kwargs)

        return timed

    def install(self) -> None:
        """Wrap ``catalog.register_views``/``load_table`` and
        ``caching.CacheSlot.hold``/``release_all_cache_slots`` wherever the
        engine bound them, so calls from inside plan code are seen too."""
        from console_datagen_spark import caching, catalog

        targets = {
            catalog.register_views: ("catalog", "register_views"),
            catalog.load_table: ("catalog", "load_table"),
            caching.release_all_cache_slots: ("caching", "release"),
        }
        wrapped = {id(fn): self._wrap(fn, *where) for fn, where in targets.items()}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("console_datagen_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if id(value) in wrapped:
                    setattr(mod, attr, wrapped[id(value)])
        # CacheSlot.hold(df, materialize=True): eager unless materialize=False
        caching.CacheSlot.hold = self._wrap(
            caching.CacheSlot.hold, "caching", "hold",
            eager=lambda a, k: bool(k.get("materialize", a[2] if len(a) > 2 else True)),
        )

    # -- ops: job groups + status-store readback ---------------------------
    @contextlib.contextmanager
    def op(self, spark, name: str, phase: str):
        """Span one phase (``build`` or ``write``) of an op; its Spark jobs
        run under job group ``<span id>.<phase>``."""
        sc = spark.sparkContext
        with self.span("plans" if phase == "build" else "exec", name) as sid:
            group = f"{sid}.{phase}"
            sc.setJobGroup(group, f"{name} {phase}")
            try:
                yield sid
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
        self._pending.append((group, sid, phase))

    def flush(self, spark) -> None:
        """Read back the jobs of finished ops; called outside op timing."""
        pending, self._pending = self._pending, []
        for group, sid, phase in pending:
            self._read_jobs(spark, group, sid, phase)

    def _read_jobs(self, spark, group: str, sid: int, phase: str) -> None:
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        job_ids = list(sc.statusTracker().getJobIdsForGroup(group))
        span = next(s for s in reversed(self.spans) if s["id"] == sid)
        span["jobs"] = len(job_ids)
        intervals = []
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            if phase == "write":
                self._read_stages(spark, store, job)
        span["job_intervals"] = intervals
        if phase == "build":
            self.add("plans.build_jobs", len(job_ids))
        else:
            self.add("exec.jobs", len(job_ids))
            self._read_python_metrics(spark)

    def _read_stages(self, spark, store, job) -> None:
        gw = spark.sparkContext._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_q = gw.new_array(gw.jvm.double, 0)
        ids = job.stageIds()
        for i in range(ids.size()):
            for st in _seq(store.stageData(int(ids.apply(i)), False, no_status, False, no_q)):
                if st.status().toString() == "SKIPPED":
                    continue
                self.add("exec.stages", 1)
                self.add("exec.tasks", st.numCompleteTasks() + st.numFailedTasks())
                self.add("exec.failed_tasks", st.numFailedTasks())
                self.add("exec.task_run_s", st.executorRunTime() / 1e3)
                self.add("exec.task_cpu_s", st.executorCpuTime() / 1e9)
                self.add("exec.gc_s", st.jvmGcTime() / 1e3)
                self.add("exec.shuffle_write_bytes", st.shuffleWriteBytes())
                self.add("exec.shuffle_read_bytes", st.shuffleReadBytes())
                self.add("exec.spill_bytes", st.memoryBytesSpilled() + st.diskBytesSpilled())
                self.add("exec.input_bytes", st.inputBytes())

    def _read_python_metrics(self, spark) -> None:
        """Sum the Python-worker SQL metrics of executions finished since
        the last read, walking the execution list back from the newest."""
        sql = spark._jsparkSession.sharedState().statusStore()
        end = int(sql.executionsCount())
        seen, newest = self._sql_seen, self._sql_seen
        while end > 0:
            start = max(0, end - 64)
            batch = [(int(ex.executionId()), ex)
                     for ex in _seq(sql.executionsList(start, end - start))]
            for eid, ex in batch:
                if eid > seen:
                    newest = max(newest, eid)
                    self._add_python_metrics(sql, ex, eid)
            if any(eid <= seen for eid, _ in batch):
                break
            end = start
        self._sql_seen = newest

    def _add_python_metrics(self, sql, ex, eid: int) -> None:
        wanted = {}
        for m in _seq(ex.metrics()):
            if m.name() in PY_METRICS:
                wanted[int(m.accumulatorId())] = PY_METRICS[m.name()]
        if not wanted:
            return
        it = sql.executionMetrics(eid).iterator()
        while it.hasNext():
            kv = it.next()
            key = wanted.get(int(kv._1()))
            if key:
                self.add(key, parse_metric_total(kv._2()))

    # -- per-layer summary -------------------------------------------------
    def layer_metrics(self, cores: int) -> dict[str, float]:
        out = {k: 0.0 for k in LAYER_METRICS}
        out.update(self.totals)
        by_id = {s["id"]: s for s in self.spans}
        # outermost catalog calls (register_views itself calls load_table)
        catalog = [s for s in self.spans if s["layer"] == "catalog"
                   and by_id.get(s["parent"], {}).get("layer") != "catalog"]
        for s in self.spans:
            dur = s["end"] - s["start"]
            layer, name = s["layer"], s["name"]
            if layer == "session":
                out["session.start_s"] += dur
            elif layer == "plans":
                # one thread: a span inside the build's interval is its descendant
                out["plans.build_s"] += dur
                covered = [(c["start"], c["end"]) for c in catalog
                           if s["start"] <= c["start"] and c["end"] <= s["end"]]
                covered += s.get("job_intervals", [])
                out["plans.self_s"] += max(0.0, dur - _union_s(covered))
            elif layer == "caching" and name == "hold":
                out["caching.holds"] += 1
                out["caching.eager_holds"] += int(s.get("eager", False))
                out["caching.hold_s"] += dur
            elif layer == "caching" and name == "release":
                out["caching.release_s"] += dur
            elif layer == "exec":
                out["exec.write_s"] += dur
            elif layer == "sources":
                out["sources.calls"] += 1
        out["catalog.calls"] = float(len(catalog))
        out["catalog.busy_s"] = sum(c["end"] - c["start"] for c in catalog)
        if out["exec.write_s"] > 0:
            out["exec.core_util"] = out["exec.task_run_s"] / (out["exec.write_s"] * cores)
        return out


def _seq(scala_seq):
    for i in range(scala_seq.size()):
        yield scala_seq.apply(i)
