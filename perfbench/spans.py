"""Spans and Spark accounting for the traced run.

Everything here wraps the engine from outside: spans are recorded
around calls into the engine's public functions, and Spark's own
listener interfaces report the jobs, stages and query phases those
calls caused. Nothing inside ``fairy_spark`` is changed.

* ``Tracer`` keeps spans (name, start, end, parent, trace id) in
  memory; ``self_times`` subtracts the union of each span's children.
* ``SparkProbe`` attributes jobs and stage metrics to the span whose
  id the calling thread carried as a Spark local property, and
  records the analysis/optimization/planning phases and Python-worker
  time of every action.
* ``TracedEngine`` / ``TracedKV`` hand the serving plane a store whose
  public calls open ``kv.*`` spans, parented to the client request
  that caused them.
* ``patch_parks`` wraps ``park_persisted`` at every module that
  imported it.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from collections import defaultdict, deque
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    trace_id: int
    start_ns: int
    end_ns: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


class Tracer:
    """In-memory span recorder. Disabled, ``span`` yields None and
    records nothing, so the timed run pays one branch per call."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, parent: Span | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        par = parent or (stack[-1] if stack else None)
        sid = next(self._ids)
        s = Span(
            name, sid, par.span_id if par else None,
            par.trace_id if par else sid, time.perf_counter_ns(), attrs=attrs,
        )
        stack.append(s)
        try:
            yield s
        finally:
            s.end_ns = time.perf_counter_ns()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start_ns):
                f.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> self time in ms: the span's duration minus the part
    of its interval covered by the union of its children's intervals
    (overlapping children are counted once)."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered, cur_a, cur_b = 0, None, None
        for a, b in sorted(
            (max(c.start_ns, s.start_ns), min(c.end_ns, s.end_ns)) for c in kids[s.span_id]
        ):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.span_id] = (s.end_ns - s.start_ns - covered) / 1e6
    return out


# -- Spark side -----------------------------------------------------------


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


@dataclass
class StageStats:
    tasks: int = 0
    task_ms: float = 0.0
    task_cpu_ms: float = 0.0
    task_wait_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


@dataclass
class ActionStats:
    """Phases of one QueryExecution. ``build`` marks the eager analysis
    of a DataFrame at construction, recorded before its action runs."""

    span: str | None
    analysis_ms: float
    optimization_ms: float
    planning_ms: float
    python_ms: float
    build: bool = False


class SparkProbe:
    """Listener-fed Spark accounting, keyed by span id (as a string;
    None for work no span claimed)."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self._lock = threading.Lock()
        self.job_span: dict[int, str | None] = {}
        self.stage_span: dict[int, str | None] = {}
        self.stages: dict[int, tuple[str | None, StageStats]] = {}
        self._attempts: dict[int, int] = {}
        self.actions: list[ActionStats] = []
        self.sequential_span: Span | None = None
        self._cached_seen: set[int] = set()  # cached plans already walked
        self._listener = self._qe_listener = None

    # listeners -------------------------------------------------------
    def attach(self) -> "SparkProbe":
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        probe = self

        class _Jobs:
            class Java:
                implements = ["org.apache.spark.scheduler.SparkListenerInterface"]

            def onJobStart(self, ev):
                props = ev.properties()
                span = props.getProperty(SPAN_PROPERTY) if props is not None else None
                stage_ids = list(_scala_iter(ev.stageIds()))
                with probe._lock:
                    probe.job_span[ev.jobId()] = span
                    for sid in stage_ids:
                        probe.stage_span[sid] = span

            def onStageCompleted(self, ev):
                probe._stage_done(ev.stageInfo())

            def __getattr__(self, name):
                return lambda *a, **k: None

        class _Actions:
            class Java:
                implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

            def onSuccess(self, func_name, qe, duration_ns):
                probe._action_done(qe)

            def onFailure(self, func_name, qe, exc):
                probe._action_done(qe)

        self._listener = _Jobs()
        self._qe_listener = _Actions()
        self.sc._jsc.sc().addSparkListener(self._listener)
        self.spark._jsparkSession.listenerManager().register(self._qe_listener)
        return self

    def detach(self) -> None:
        if self._listener is not None:
            self.sc._jsc.sc().removeSparkListener(self._listener)
            self.spark._jsparkSession.listenerManager().unregister(self._qe_listener)
            self._listener = self._qe_listener = None

    def drain(self) -> None:
        """Block until the listener bus has delivered every event."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _stage_done(self, info) -> None:
        sid = info.stageId()
        tm = info.taskMetrics()
        st = StageStats(tasks=info.numTasks())
        if tm is not None:
            st.task_ms = tm.executorRunTime()
            st.task_cpu_ms = tm.executorCpuTime() / 1e6
            st.gc_ms = tm.jvmGCTime()
            st.shuffle_read_bytes = tm.shuffleReadMetrics().totalBytesRead()
            st.shuffle_write_bytes = tm.shuffleWriteMetrics().bytesWritten()
            st.spill_bytes = tm.memoryBytesSpilled() + tm.diskBytesSpilled()
        with self._lock:
            self.stages[sid] = (self.stage_span.get(sid), st)
            self._attempts[sid] = info.attemptNumber()

    def finish(self) -> None:
        """Drain events, then set each stage's ``task_wait_ms`` to the
        sum of its tasks' scheduler delay and result-fetch time, read
        from Spark's status store here rather than per task event so
        the traced window pays no per-task callback."""
        self.drain()
        store = self.sc._jsc.sc().statusStore()
        with self._lock:
            todo = [(sid, self._attempts[sid], st) for sid, (_, st) in self.stages.items()]
        for sid, attempt, st in todo:
            st.task_wait_ms = float(sum(
                t.schedulerDelay() + t.gettingResultTime()
                for t in _scala_iter(store.taskList(sid, attempt, 2**31 - 1))
            ))

    def _action_done(self, qe) -> None:
        self._record(qe, self.sequential_span, build=False)

    def built(self, df, span: Span | None) -> None:
        """Record the analysis a DataFrame's construction already ran."""
        self._record(df._jdf.queryExecution(), span, build=True)

    def _record(self, qe, span: Span | None, build: bool) -> None:
        phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        for kv in _scala_iter(qe.tracker().phases()):
            if kv._1() in phases:
                phases[kv._1()] = float(kv._2().durationMs())
        stats = ActionStats(
            str(span.span_id) if span else None,
            phases["analysis"], phases["optimization"], phases["planning"],
            0.0 if build else self._python_ms(qe.executedPlan()), build,
        )
        with self._lock:
            self.actions.append(stats)

    # attribution -----------------------------------------------------
    @contextmanager
    def attribute(self, span: Span | None):
        """Tag Spark jobs started by this thread with ``span``."""
        if span is None:
            yield
            return
        prev = self.sc.getLocalProperty(SPAN_PROPERTY)
        self.sc.setLocalProperty(SPAN_PROPERTY, str(span.span_id))
        try:
            yield
        finally:
            self.sc.setLocalProperty(SPAN_PROPERTY, prev)

    def jobs_by_span(self) -> dict[str | None, int]:
        out: dict[str | None, int] = defaultdict(int)
        with self._lock:
            for span in self.job_span.values():
                out[span] += 1
        return out

    def stages_by_span(self) -> dict[str | None, list[StageStats]]:
        out: dict[str | None, list[StageStats]] = defaultdict(list)
        with self._lock:
            for span, st in self.stages.values():
                out[span].append(st)
        return out


    def _python_ms(self, plan) -> float:
        """Sum of ``pythonTotalTime`` over the executed plan's Python
        nodes, descending through adaptive plans, query stages, command
        results and cached relations. A cached relation is walked once,
        at the first action that reads it: that action filled it."""
        identity = self.sc._jvm.java.lang.System.identityHashCode
        total, todo = 0.0, [plan]
        while todo:
            node = todo.pop()
            cls = node.getClass().getSimpleName()
            if cls == "AdaptiveSparkPlanExec":
                todo.append(node.executedPlan())
                continue
            if cls.endswith("QueryStageExec"):
                todo.append(node.plan())
                continue
            if cls == "CommandResultExec":
                todo.append(node.commandPhysicalPlan())
                continue
            if cls == "InMemoryTableScanExec":
                cached = node.relation().cachedPlan()
                key = identity(cached)
                with self._lock:
                    fresh = key not in self._cached_seen
                    self._cached_seen.add(key)
                if fresh:
                    todo.append(cached)
                continue
            metrics = node.metrics()
            if metrics.contains("pythonTotalTime"):
                m = metrics.apply("pythonTotalTime")
                v = m.value()
                total += v / 1e6 if m.metricType() == "nsTiming" else v
            todo.extend(_scala_iter(node.children()))
        return total


# -- engine-side proxies --------------------------------------------------


class RequestLinker:
    """Matches the store call a request handler makes to the client
    request span that caused it: the client registers (op, arg) before
    sending, the store proxy claims the oldest match."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._open: dict[tuple[str, str], deque] = defaultdict(deque)

    def register(self, op: str, arg: str, span: Span | None) -> None:
        if span is not None:
            with self._lock:
                self._open[(op, arg)].append(span)

    def claim(self, op: str, arg: str) -> Span | None:
        with self._lock:
            q = self._open.get((op, arg))
            return q.popleft() if q else None

    def release(self, op: str, arg: str, span: Span | None) -> None:
        """Drop a registration the handler never claimed."""
        with self._lock:
            q = self._open.get((op, arg))
            if q and span in q:
                q.remove(span)


@dataclass
class _TraceCtx:
    tracer: Tracer
    probe: SparkProbe
    linker: RequestLinker


# KVStore public calls the serving plane makes for GET and PUT
_KV_OPS = ("get", "put")


class TracedKV:
    def __init__(self, kv, tx: _TraceCtx) -> None:
        self._kv, self._tx = kv, tx

    def __getattr__(self, name):
        fn = getattr(self._kv, name)
        if name not in _KV_OPS:
            return fn
        tx = self._tx

        def call(*args, **kwargs):
            parent = tx.linker.claim(name, str(args[0]) if args else "")
            with tx.tracer.span(f"kv.{name}", parent=parent) as s:
                with tx.probe.attribute(s):
                    return fn(*args, **kwargs)

        return call


class TracedEngine:
    """Engine stand-in for ``serving.serve``: ``kv()`` returns a
    ``TracedKV`` over the real store; everything else delegates."""

    def __init__(self, engine, tracer: Tracer, probe: SparkProbe, linker: RequestLinker) -> None:
        self._engine = engine
        self._tx = _TraceCtx(tracer, probe, linker)

    def kv(self, name: str = "kv_default"):
        return TracedKV(self._engine.kv(name), self._tx)

    def __getattr__(self, name):
        return getattr(self._engine, name)


@contextmanager
def patch_parks(tracer: Tracer, probe: SparkProbe):
    """Wrap ``park_persisted`` in a ``pool.park`` span at the pool
    module and at every loaded module that imported the name."""
    from fairy_spark.operators import pool

    orig = pool.park_persisted

    def traced(*args, **kwargs):
        with tracer.span("pool.park") as s:
            with probe.attribute(s):
                return orig(*args, **kwargs)

    sites = [
        m for n, m in list(sys.modules.items())
        if n.startswith("fairy_spark") and getattr(m, "park_persisted", None) is orig
    ]
    for m in sites:
        m.park_persisted = traced
    try:
        yield
    finally:
        for m in sites:
            m.park_persisted = orig
