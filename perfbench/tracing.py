"""Traced run: spans and per-layer counts, recorded from the benchmark's
side of every call into the program.

Every span has a name, start, end, parent span and operation id; spans
are kept in memory and summarised when the run ends. Spans the
benchmark times itself: ``session`` (``get_spark``), ``plans`` (the
``queries()[key](spark, sf)`` call), ``spark.driver`` (``collect()``),
``etl`` (one ``parquet_generator_spark.etl`` call), ``schema``
(``infer_json_schema`` as ``etl`` calls it) and ``sinks``
(``write_partitioned`` as ``etl`` calls it). Spans read back from the
JVM after each operation: ``spark.executor`` (one per job, from its
submission to its completion time in the status store, parented to the
innermost span open at submission), ``spark.catalyst`` and
``spark.codegen`` (durations only, from the query's phase tracker and
the ``CodegenMetrics`` histograms; they are laid end to end from the
start of the ``spark.driver`` span, where planning and code generation
happen before the first job).

A layer's self time is the time its spans cover minus the part covered
by their child spans. All per-layer figures are per operation means,
except ``session.start_s``.

Job history, stage data and SQL executions are read right after each
operation, because the session keeps only the last 50 executions and
500 stages.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_LAYERS = ("session", "plans", "spark.driver", "spark.catalyst",
               "spark.codegen", "spark.executor", "etl", "schema", "sinks")

STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ms": "executorCpuTime",          # nanoseconds in the store
    "gc_ms": "jvmGcTime",
    "deserialize_ms": "executorDeserializeTime",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "output_bytes": "outputBytes",
}

# per-layer metric -> unit; the order is the order of BENCHMARK.json
PER_LAYER = {
    "session.start_s": "s",
    "plans.build_s": "s/op",
    "plans.build_jobs": "count/op",
    "spark.catalyst.analysis_ms": "ms/op",
    "spark.catalyst.optimization_ms": "ms/op",
    "spark.catalyst.planning_ms": "ms/op",
    "spark.codegen.compiles": "count/op",
    "spark.codegen.compile_ms": "ms/op",
    "spark.codegen.max_method_bytes": "bytes",
    "spark.executor.jobs": "count/op",
    "spark.executor.stages": "count/op",
    "spark.executor.tasks": "count/op",
    "spark.driver.outside_jobs_ms": "ms/op",
    **{f"spark.executor.{k}": ("ms/op" if k.endswith("_ms") else "bytes/op")
       for k in STAGE_FIELDS},
    "spark.executor.spill_bytes": "bytes/op",
    "python_udf.time_ms": "ms/op",
    "python_udf.rows": "count/op",
    "cache.checkpoints": "count/op",
    "cache.storage_blocks": "count/op",
    "schema.infer_s": "s/op",
    "schema.infer_jobs": "count/op",
    "sinks.write_s": "s/op",
    "sinks.files": "count/op",
    "sinks.bytes": "bytes/op",
    "etl.docs_per_s": "docs/s",
    "etl.discover_s": "s",
    "etl.bytes_out_per_in": "ratio",
    **{f"self.{layer}_ms": "ms" if layer == "session" else "ms/op"
       for layer in SPAN_LAYERS},
    "memory.peak_rss_mb": "MB",
    "trace.op_p50_s": "s",
    "trace.overhead_ms": "ms/op",
}

_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


def _metric_number(text: str) -> float:
    """First number of a formatted SQL metric, e.g. ``'1,842'`` or
    ``'total (min, med, max ...)\\n844 ms (...)'``."""
    line = text.split("\n")[1] if "\n" in text else text
    m = re.match(r"\s*([\d,.]+)\s*([a-zA-Z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNIT_MS.get(m.group(2), 1.0)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.length())]


def _long_array(jvm, arr) -> list[int]:
    text = jvm.java.util.Arrays.toString(arr)[1:-1]
    return [int(v) for v in text.split(",")] if text else []


class Span:
    __slots__ = ("name", "start", "end", "parent", "op")

    def __init__(self, name, start, end, parent, op):
        self.name, self.start, self.end = name, start, end
        self.parent, self.op = parent, op


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.max_method_bytes = 0
        self.op = -1
        self.op_open = False
        self.n_ops = 0
        self.overhead_s = 0.0
        self.op_latencies: list[float] = []
        self._stack: list[int] = []
        self._spark = None

    # ------------------------------------------------------------ spans
    @contextmanager
    def span(self, name: str):
        """Record a span; outside an operation only ``session`` is
        recorded, so warm-up work in set-up is not charged to a layer."""
        if not self.op_open and name != "session":
            yield None
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), None, parent, self.op))
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def _add(self, name, start, end, parent):
        self.spans.append(Span(name, start, end, parent, self.op))

    def _innermost(self, first: int, t: float) -> int:
        """Deepest span of the current operation open at time ``t``."""
        best = first
        for sid in range(first, len(self.spans)):
            s = self.spans[sid]
            if s.op == self.op and s.start <= t <= (s.end or t) \
                    and s.name not in ("spark.executor", "spark.catalyst",
                                       "spark.codegen"):
                best = sid
        return best

    # ------------------------------------------------------- operations
    def bind(self, spark) -> None:
        self._spark = spark
        self._jvm = spark.sparkContext._jvm
        self._cg = self._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def _codegen_state(self):
        return (self._cg.METRIC_COMPILATION_TIME().getCount(),
                _long_array(self._jvm, self._cg.METRIC_COMPILATION_TIME()
                            .getSnapshot().getValues()),
                _long_array(self._jvm, self._cg
                            .METRIC_GENERATED_METHOD_BYTECODE_SIZE()
                            .getSnapshot().getValues()))

    @contextmanager
    def operation(self):
        """One operation: a job group, the root span, and on exit the
        JVM read-back (charged to ``trace.overhead_ms``)."""
        self.op += 1
        self.n_ops += 1
        sc = self._spark.sparkContext
        group = f"perfbench-{self.op}"
        t = time.perf_counter()
        cg0 = self._codegen_state()
        sc.setJobGroup(group, group)
        self.overhead_s += time.perf_counter() - t
        first = len(self.spans)
        ctx = {"df": None}
        self.op_open = True
        try:
            with self.span("op"):
                yield ctx
        finally:
            self.op_open = False
            root = self.spans[first]
            self.op_latencies.append(root.end - root.start)
            t = time.perf_counter()
            self._read_back(group, first, ctx.get("df"), cg0)
            sc.setJobGroup("perfbench-idle", "perfbench-idle")
            self.overhead_s += time.perf_counter() - t

    def _read_back(self, group, first, df, cg0) -> None:
        sc = self._spark.sparkContext
        store = sc._jsc.sc().statusStore()
        root = self.spans[first]
        job_ids = set(sc.statusTracker().getJobIdsForGroup(group))
        intervals = []
        for jid in sorted(job_ids):
            jd = store.job(jid)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if not sub.isDefined():
                continue
            start = sub.get().getTime() / 1e3
            end = comp.get().getTime() / 1e3 if comp.isDefined() else root.end
            parent = self._innermost(first, start)
            self._add("spark.executor", start, end, parent)
            intervals.append((max(start, root.start), min(end, root.end)))
            self.counts["spark.executor.jobs"] += 1
            layer = self.spans[parent].name
            if layer == "plans":
                self.counts["plans.build_jobs"] += 1
            elif layer == "schema":
                self.counts["schema.infer_jobs"] += 1
            for sid in _seq(jd.stageIds()):
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # stage skipped: never attempted
                    continue
                if sd.numCompleteTasks() == 0:
                    continue
                self.counts["spark.executor.stages"] += 1
                self.counts["spark.executor.tasks"] += sd.numCompleteTasks()
                for k, getter in STAGE_FIELDS.items():
                    v = getattr(sd, getter)()
                    self.counts[f"spark.executor.{k}"] += (
                        v / 1e6 if k == "cpu_ms" else v)
                self.counts["spark.executor.spill_bytes"] += (
                    sd.memoryBytesSpilled() + sd.diskBytesSpilled())
        covered = _union(intervals)
        self.counts["spark.driver.outside_jobs_ms"] += (
            (root.end - root.start) - covered) * 1e3
        self._python_udf(job_ids, root.start)
        self._codegen(cg0, first)
        if df is not None:
            self._catalyst(df, first)

    def _codegen(self, cg0, first) -> None:
        count, times, sizes = self._codegen_state()
        n = count - cg0[0]
        if n <= 0:
            return
        new_times = _added(cg0[1], times)
        new_sizes = _added(cg0[2], sizes)
        ms = float(sum(new_times))
        self.counts["spark.codegen.compiles"] += n
        self.counts["spark.codegen.compile_ms"] += ms
        self.max_method_bytes = max([self.max_method_bytes, *new_sizes])
        self._synthetic("spark.codegen", ms, first)

    def _catalyst(self, df, first) -> None:
        phases = df._jdf.queryExecution().tracker().phases()
        total = 0.0
        for p in ("analysis", "optimization", "planning"):
            o = phases.get(p)
            ms = float(o.get().durationMs()) if o.isDefined() else 0.0
            self.counts[f"spark.catalyst.{p}_ms"] += ms
            if p != "analysis":      # analysis runs inside the plans span
                total += ms
        self._synthetic("spark.catalyst", total, first)

    def _synthetic(self, name: str, ms: float, first: int) -> None:
        """Lay a duration-only span end to end from the start of the
        operation's ``spark.driver`` span (after any earlier synthetic
        sibling)."""
        if ms <= 0:
            return
        run = next((i for i in range(first, len(self.spans))
                    if self.spans[i].name == "spark.driver"
                    and self.spans[i].op == self.op), None)
        if run is None:
            return
        start = self.spans[run].start
        for s in self.spans[first:]:
            if s.parent == run and s.name in ("spark.catalyst",
                                              "spark.codegen"):
                start = max(start, s.end)
        end = min(start + ms / 1e3, self.spans[run].end)
        self._add(name, start, end, run)

    def _python_udf(self, job_ids: set, since: float) -> None:
        sq = self._spark._jsparkSession.sharedState().statusStore()
        execs = sq.executionsList()
        for i in range(execs.length() - 1, -1, -1):
            e = execs.apply(i)
            if e.submissionTime() / 1e3 < since - 1.0:
                break
            jobs = e.jobs()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            values = sq.executionMetrics(e.executionId())
            for node in _seq(sq.planGraph(e.executionId()).allNodes()):
                metrics = {m.name(): m.accumulatorId()
                           for m in _seq(node.metrics())}
                if "time to run Python workers" not in metrics:
                    continue
                for name, key in (("time to run Python workers", "time_ms"),
                                  ("number of output rows", "rows")):
                    v = values.get(metrics.get(name, -1))
                    if v.isDefined():
                        self.counts[f"python_udf.{key}"] += \
                            _metric_number(v.get())

    # ---------------------------------------------------------- summary
    def self_times(self) -> dict[str, float]:
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out = {layer: 0.0 for layer in SPAN_LAYERS}
        for sid, s in enumerate(self.spans):
            if s.name not in out:
                continue
            kids = [(max(c.start, s.start), min(c.end, s.end))
                    for c in children.get(sid, ())]
            out[s.name] += (s.end - s.start) - _union(kids)
        return out


def _added(before: list[int], after: list[int]) -> list[int]:
    """Samples present in ``after`` but not in ``before`` (multiset)."""
    pool = defaultdict(int)
    for v in before:
        pool[v] += 1
    out = []
    for v in after:
        if pool[v]:
            pool[v] -= 1
        else:
            out.append(v)
    return out


def _union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
