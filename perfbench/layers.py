"""Traced mode: spans around the program's public entry points plus the
Spark work each phase fired, read from outside the program.

Everything here observes; nothing changes what the program computes.
Sources of the per-layer numbers:

- spans recorded by wrappers around ``sources.load``,
  ``sources.load_spread``, ``sources.spread`` and every binding of
  ``cache.cached_df`` (``operators/relevance.py`` binds it at module
  level as ``_cached``, so the module attribute alone is not enough);
- Spark's status stores (readable with the UI disabled): stages are
  attributed to a phase by bracketing stage ids, not job groups,
  because streaming micro-batch jobs never land in the caller's group;
- the SQL status store's per-execution metrics for the Python-worker
  Arrow passes, whose values arrive as formatted strings;
- a ``StreamingQueryListener`` for micro-batches, state and retries.
"""

from __future__ import annotations

import gc
import itertools
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1024 * 1024

# SQL metric name -> per-layer metric name (values summed over tasks)
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.run_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.recv_mb",
}

# the units Spark's duration and byte formatters print
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_VALUE_RE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value, in seconds for timings
    and bytes for sizes: ``"1.9 s"``, ``"135.2 KiB"``, ``"1,000"`` or
    the multi-task form ``"total (min, med, max ...)\\n8.0 s (...)"``."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE_RE.match(line)
    if not m:
        raise ValueError(f"unparsable SQL metric value {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if not unit:
        return num
    if unit in _TIME_UNITS:
        return num * _TIME_UNITS[unit]
    if unit in _SIZE_UNITS:
        return num * _SIZE_UNITS[unit]
    raise ValueError(f"unknown unit {unit!r} in SQL metric value {text!r}")


class Spans:
    """In-memory span recorder. A span has a name, start, end, parent and
    the id of the query it belongs to; spans of one query share it."""

    def __init__(self) -> None:
        self.records: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.query_id: str | None = None
        # wrappers record only while a traced pass runs
        self.active = False

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "query": self.query_id,
            "name": name,
            "t0": time.perf_counter(),
            "t1": None,
            **attrs,
        }
        self.records.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["t1"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the part of it its children cover."""
        children = defaultdict(list)
        for r in self.records:
            if r["parent"] is not None:
                children[r["parent"]].append((r["t0"], r["t1"]))
        out = {}
        for r in self.records:
            covered, end = 0.0, r["t0"]
            for c0, c1 in sorted(children[r["id"]]):
                c0, c1 = max(c0, end), min(c1, r["t1"])
                if c1 > c0:
                    covered += c1 - c0
                    end = c1
            out[r["id"]] = (r["t1"] - r["t0"]) - covered
        return out


def _wrap_load(fn, spans: Spans, counters: defaultdict, memo):
    def load(spark, sf_dir, name, *a, **kw):
        if not spans.active:
            return fn(spark, sf_dir, name, *a, **kw)
        before = len(memo.get(spark) or ())
        with spans.span("sources.load", table=name):
            out = fn(spark, sf_dir, name, *a, **kw)
        counters["sources.load_calls"] += 1
        if len(memo.get(spark) or ()) > before:
            counters["sources.load_new"] += 1
        return out

    return load


def _wrap_spread(fn, label: str, spans: Spans, counters: defaultdict):
    def spread(*a, **kw):
        if not spans.active:
            return fn(*a, **kw)
        with spans.span(label):
            out = fn(*a, **kw)
        counters["sources.spread_calls"] += 1
        return out

    return spread


def _wrap_cached(fn, spans: Spans, counters: defaultdict):
    def cached_df(stage, spark, sf_dir, build):
        if not spans.active:
            return fn(stage, spark, sf_dir, build)
        built = []

        def traced_build():
            built.append(True)
            return build()

        with spans.span("cache.cached_df", stage=stage) as rec:
            out = fn(stage, spark, sf_dir, traced_build)
            rec["built"] = bool(built)
        counters["cache.calls"] += 1
        counters["cache.builds" if built else "cache.hits"] += 1
        return out

    return cached_df


def _rebind(original, replacement, prefix: str = "skills_vectors_spark") -> int:
    """Point every module-level binding of ``original`` in the program's
    modules at ``replacement``; returns how many bindings changed."""
    n = 0
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not (mod_name == prefix or mod_name.startswith(prefix + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n


def install_wrappers(spans: Spans, counters: defaultdict) -> dict[str, int]:
    """Wrap the program's public entry points in place, counting calls
    into ``counters``. Call after ``registry.load_all()`` so every
    module-level binding exists."""
    from skills_vectors_spark import cache, sources

    return {
        "sources.load": _rebind(
            sources.load, _wrap_load(sources.load, spans, counters, sources._LOAD_MEMO)
        ),
        "sources.load_spread": _rebind(
            sources.load_spread,
            _wrap_spread(sources.load_spread, "sources.load_spread", spans, counters),
        ),
        "sources.spread": _rebind(
            sources.spread, _wrap_spread(sources.spread, "sources.spread", spans, counters)
        ),
        "cache.cached_df": _rebind(
            cache.cached_df, _wrap_cached(cache.cached_df, spans, counters)
        ),
    }


def make_stream_listener(spans: Spans):
    """A StreamingQueryListener that counts starts, clean finishes,
    micro-batches and their trigger time, and keeps each query's last
    state-operator totals, while a traced pass runs."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.lock = threading.Lock()
            self.started = 0
            self.finished_clean = 0
            self.batches = 0
            self.batch_s = 0.0
            self.state: dict[str, tuple[float, float]] = {}

        def onQueryStarted(self, event) -> None:
            if not spans.active:
                return
            with self.lock:
                self.started += 1

        def onQueryProgress(self, event) -> None:
            if not spans.active:
                return
            p = event.progress
            rows = sum(op.numRowsTotal for op in p.stateOperators)
            mem = sum(op.memoryUsedBytes for op in p.stateOperators)
            with self.lock:
                self.batches += 1
                self.batch_s += p.durationMs.get("triggerExecution", 0) / 1000.0
                self.state[str(p.runId)] = (rows, mem)

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            if not spans.active:
                return
            with self.lock:
                if event.exception is None:
                    self.finished_clean += 1

        def snapshot(self) -> dict[str, float]:
            with self.lock:
                return {
                    "stream.queries": self.started,
                    "stream.retries": self.started - self.finished_clean,
                    "stream.batches": self.batches,
                    "stream.batch_s": self.batch_s,
                    "stream.state_rows": sum(r for r, _ in self.state.values()),
                    "stream.state_mb": sum(m for _, m in self.state.values()) / MB,
                }

    return Listener()


class SparkProbe:
    """Reads the Spark work fired between two marks from the status
    stores. Stages and SQL executions are bracketed by id, so work is
    attributed to the phase that ran it whatever job group it ran in."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.dag = self.jsc.dagScheduler()
        self._next_stage = self.dag.getClass().getDeclaredField("nextStageId")
        self._next_stage.setAccessible(True)
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.cores = self.sc.defaultParallelism
        jvm = self.sc._jvm
        self._empty_list = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def drain(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def mark(self) -> tuple[int, int, int]:
        self.drain()
        return (
            self._next_stage.get(self.dag),
            self.dag.nextJobId(),
            int(self.sql_store.executionsCount()),
        )

    def collect(self, start: tuple[int, int, int], end: tuple[int, int, int]) -> dict:
        s0, j0, e0 = start
        s1, j1, e1 = end
        out: dict[str, float] = defaultdict(float)
        out["jobs"] = j1 - j0
        for sid in range(s0, s1):
            try:
                attempts = self.store.stageData(
                    sid, False, self._empty_list, False, self._no_quantiles
                )
            except Exception:  # never submitted (skipped or cancelled)
                continue
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_mb"] += st.shuffleReadBytes() / MB
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / MB
                out["spill_mb"] += st.diskBytesSpilled() / MB
                out["peak_exec_mem_mb"] = max(
                    out["peak_exec_mem_mb"], st.peakExecutionMemory() / MB
                )
        if e1 > e0:
            for key, value in self._python_metrics(e0, e1 - e0).items():
                out[key] += value
        return out

    def _python_metrics(self, offset: int, length: int) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        execs = self.sql_store.executionsList(offset, length)
        for i in range(execs.size()):
            ex = execs.apply(i)
            names = {}
            for m in str(ex.metrics().mkString("\u0001")).split("\u0001"):
                if not m:
                    continue
                # SQLPlanMetric(name,accumulatorId,metricType)
                body = m[len("SQLPlanMetric("):-1]
                name, acc, _ = body.rsplit(",", 2)
                if name in PYTHON_METRICS:
                    names[int(acc)] = PYTHON_METRICS[name]
            if not names:
                continue
            values = self.sql_store.executionMetrics(ex.executionId())
            for acc, key in names.items():
                opt = values.get(acc)
                if opt.isDefined():
                    v = parse_metric(str(opt.get()))
                    out[key] += v / MB if key.endswith("_mb") else v
        return out

    def storage_mb(self) -> float:
        """Memory plus disk of the RDD blocks Spark storage holds for live
        references. Garbage from finished queries is collected first
        (Python, then the JVM, whose context cleaner unpersists RDDs
        nothing references any more), so the figure does not depend on
        when a collector last ran."""
        gc.collect()
        for _ in range(2):
            self.sc._jvm.System.gc()
            time.sleep(0.5)
        infos = self.jsc.getRDDStorageInfo()
        return sum(info.memSize() + info.diskSize() for info in infos) / MB

    def jvm_hwm_mb(self) -> float:
        pid = self.sc._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0
