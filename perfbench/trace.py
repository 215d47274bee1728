"""Span recorder and Spark-side collectors for the traced run.

Nothing here runs unless the benchmark is started with ``--trace 1``.
``patch`` then wraps the engine's public entry points, at every module
that holds a reference to them, with span recorders.  A span has a
name, start, end, parent span and op id; spans stay in memory and
``Tracer.dump`` writes them out when the run ends.  A layer's self time
is its spans' wall time minus the part covered by their child spans.

Spark-side numbers are read per op:

* executor metrics from the stages of the op's own jobs: the jobs of the
  op's job group, plus the jobs of the streaming queries the op ran
  (a micro-batch runs under its query's run id as job group);
* Catalyst phase times of every query execution the op ran, from a
  ``QueryExecutionListener``;
* micro-batch durations from a ``StreamingQueryListener``.

The listeners are registered for the traced passes only, so the
untraced passes of the same run carry no tracing cost but a check of
``Tracer.op`` in each wrapper.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import threading
import time

from pyspark.java_gateway import ensure_callback_server_started
from pyspark.sql.streaming import StreamingQueryListener


class Span:
    __slots__ = ("id", "name", "parent", "op", "start", "end", "count")

    def __init__(self, span_id: int, name: str, parent: int | None, op: str | None):
        self.id = span_id
        self.name = name
        self.parent = parent
        self.op = op
        self.start = time.perf_counter()
        self.end = None
        self.count = 0


class Tracer:
    """Collects spans for the op currently running (one client, so at
    most one op runs at a time; its layers may run on several threads)."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self.op: str | None = None
        self.op_span: Span | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self.queries: list[dict] = []  # Catalyst phases per query execution
        self._executions: list = []  # (op, QueryExecution) awaiting end_op
        self.batches: list[dict] = []  # streaming progress per micro-batch
        self.stream_runs: dict[str, list[str]] = {}  # op -> query run ids
        ensure_callback_server_started(spark.sparkContext._gateway)
        self._streams = _StreamListener(self)

    # -- listeners -----------------------------------------------------
    # Registered for traced passes only: every callback is a round trip
    # from the JVM into Python, which untraced passes must not pay.
    def listen(self) -> None:
        self.spark.streams.addListener(self._streams)
        self.listen_session(self.spark)

    def listen_session(self, session) -> None:
        """Catalyst listeners are per session: call for every session a
        traced pass creates."""
        session._jsparkSession.listenerManager().register(_QueryListener(self))

    def unlisten(self) -> None:
        _flush_listeners(self.spark)
        self.spark.streams.removeListener(self._streams)
        # py4j gives the JVM a new proxy for every call that passes a
        # Python object, so ``unregister`` would not find the one that
        # was registered; the engine registers no listener of its own
        self.spark._jsparkSession.listenerManager().clear()

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin_op(self, op_id: str, kind: str) -> None:
        self.op = op_id
        self.op_span = Span(next(self._ids), f"op.{kind}", None, op_id)
        self.spans.append(self.op_span)
        self._local.stack = [self.op_span]
        self.spark.sparkContext.setJobGroup(op_id, kind)

    def end_op(self) -> None:
        self.op_span.end = time.perf_counter()
        _flush_listeners(self.spark)
        self.spark.sparkContext._jsc.clearJobGroup()
        # phases are read here, outside the op's wall time: each read is
        # a round trip into the JVM
        for op, qe in self._executions:
            phases = qe.tracker().phases()
            row = {"op": op}
            for phase in ("analysis", "optimization", "planning"):
                p = phases.get(phase)
                row[phase] = p.get().durationMs() if p.isDefined() else 0
            self.queries.append(row)
        self._executions.clear()
        self.op = None
        self.op_span = None
        self._local.stack = []

    def wrap(self, name: str, fn, count=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            if not stack or stack[0] is not tracer.op_span:
                # first span of this op on a worker thread: its jobs
                # belong to the op
                tracer.spark.sparkContext.setJobGroup(tracer.op, name)
                stack[:] = [tracer.op_span]
            with tracer._lock:
                span = Span(next(tracer._ids), name, stack[-1].id, tracer.op)
                tracer.spans.append(span)
            if count is not None:
                span.count = count(*args, **kwargs)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()

        traced.__wrapped_by_tracer__ = fn
        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.id,
                            "name": s.name,
                            "parent": s.parent,
                            "op": s.op,
                            "start": s.start,
                            "end": s.end,
                            "count": s.count,
                        }
                    )
                    + "\n"
                )


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed wall time minus the union of child spans."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        if s.end is None:
            continue
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            c_end = c.end if c.end is not None else s.end
            if cur_end is None or c.start > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = c.start, c_end
            else:
                cur_end = max(cur_end, c_end)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
    return out


def patch(tracer: Tracer, owner, attr: str, name: str, count=None) -> None:
    """Replace ``owner.attr`` with a span recorder.  For a module-level
    function, every loaded engine module that imported it by name gets
    the same wrapper, so internal calls are traced too."""
    original = getattr(owner, attr)
    wrapped = tracer.wrap(name, original, count)
    setattr(owner, attr, wrapped)
    if isinstance(owner, type):
        return
    for mod_name, mod in list(sys.modules.items()):
        if (
            mod_name.startswith("dataforge_core_spark")
            and mod is not owner
            and getattr(mod, attr, None) is original
        ):
            setattr(mod, attr, wrapped)


# -- Spark listeners -----------------------------------------------------


def _flush_listeners(spark) -> None:
    """Wait until the listener bus has delivered every queued event, so
    the listeners' callbacks for this op have run."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class _StreamListener(StreamingQueryListener):
    def __init__(self, tracer: Tracer):
        super().__init__()
        self.tracer = tracer

    def onQueryStarted(self, event):
        if self.tracer.op is not None:
            self.tracer.stream_runs.setdefault(self.tracer.op, []).append(str(event.runId))

    def onQueryProgress(self, event):
        if self.tracer.op is not None:
            p = event.progress
            self.tracer.batches.append(
                {"op": self.tracer.op, "run": str(p.runId), "ms": dict(p.durationMs)}
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


class _QueryListener:
    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        if self.tracer.op is not None:
            self.tracer._executions.append((self.tracer.op, qe))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# -- executor metrics -----------------------------------------------------

_STAGE_FIELDS = {
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / 2**20),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / 2**20),
    "output_mb": ("outputBytes", 1 / 2**20),
    "tasks": ("numCompleteTasks", 1),
    "failed_tasks": ("numFailedTasks", 1),
}


def op_stage_metrics(spark, groups: list[str]) -> dict[str, float]:
    """Executor metrics summed over the stages of the jobs in ``groups``,
    read stage by stage from the status store (totals of the whole
    store would lose stages the store has already evicted)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jvm = sc._gateway.jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = dict.fromkeys(list(_STAGE_FIELDS) + ["spill_mb", "jobs"], 0.0)
    stage_ids: set[int] = set()
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                out["jobs"] += 1
                stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, no_status, False, no_quantiles)
        except Exception:
            continue  # evicted
        for i in range(attempts.size()):
            st = attempts.apply(i)
            for key, (field, scale) in _STAGE_FIELDS.items():
                out[key] += getattr(st, field)() * scale
            out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
    return out
