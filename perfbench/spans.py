"""Layer spans and Spark counters for the traced run.

The tracer wraps the program's public entry points from outside, so the
program itself is unchanged. Every wrapped call records a span (layer,
start, end, parent span, operation id) in memory and runs under a Spark
job group named after its operation and layer, so the jobs, stages and
tasks each layer starts can be read back from Spark's status store at the
end. Catalyst phase times and plan metrics come from a query-execution
listener, which sees the plan that actually ran (a `noop` write or a
`take` plans a new query execution of its own).
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    layer: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0


# Plan metrics summed over every executed plan node (SQL metric names).
PLAN_METRICS = {
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "pythonNumRowsReceived": "python_rows",
}


class Tracer:
    """Span recorder. `enabled=False` gives the untraced path: `span`
    still works as a context manager but records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.op = 0
        self._stack: list[Span] = []
        self._sc = None
        self.overhead_s = 0.0
        self.catalyst: dict[str, float] = defaultdict(float)
        self.plan: dict[str, float] = defaultdict(float)
        self.listener_errors: list[str] = []
        self._lock = threading.Lock()

    # ---- spans -------------------------------------------------------
    def attach(self, spark) -> None:
        """Tag later spans with Spark job groups of this session."""
        self._sc = spark.sparkContext

    def reset(self) -> None:
        """Forget what set-up recorded; operations start at 1."""
        self.drain()
        self.spans.clear()
        self.counts.clear()
        self.catalyst.clear()
        self.plan.clear()
        self.overhead_s = 0.0
        self.op = 0

    def add_overhead(self, seconds: float) -> None:
        """Count tracer time spent off the span path (listener callbacks,
        which run on the py4j callback thread)."""
        with self._lock:
            self.overhead_s += seconds

    def inside(self, layer: str) -> bool:
        """Whether a span of `layer` is open on the current stack."""
        return any(s.layer == layer for s in self._stack)

    def next_op(self) -> int:
        self.op += 1
        return self.op

    def _group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(f"op{span.op}:{span.layer}", span.layer, False)

    def begin(self, layer: str) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        parent = self._stack[-1].sid if self._stack else None
        span = Span(len(self.spans), layer, self.op, parent, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        self._group(span)
        span.start = time.perf_counter()
        self.add_overhead(span.start - t0)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        self._group(self._stack[-1] if self._stack else None)
        self.add_overhead(time.perf_counter() - span.end)

    @contextmanager
    def span(self, layer: str):
        s = self.begin(layer)
        try:
            yield s
        finally:
            self.end(s)

    def wrap(self, fn, layer: str, count: str | None = None):
        """`fn` recording a `layer` span per call (and `count` += 1)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if count:
                self.counts[count] += 1
            s = self.begin(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(s)

        return traced

    # ---- summaries ---------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Seconds per layer, excluding time covered by child spans."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.layer] += (s.end - s.start) - child[s.sid]
        return dict(out)

    def total_times(self) -> dict[str, float]:
        """Seconds per layer, outermost spans of that layer only."""
        by_sid = {s.sid: s for s in self.spans}
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            p = by_sid.get(s.parent) if s.parent is not None else None
            nested = False
            while p is not None:
                if p.layer == s.layer:
                    nested = True
                    break
                p = by_sid.get(p.parent) if p.parent is not None else None
            if not nested:
                out[s.layer] += s.end - s.start
        return dict(out)

    def span_records(self) -> list[dict]:
        return [
            {"id": s.sid, "layer": s.layer, "op": s.op, "parent": s.parent,
             "start": round(s.start, 6), "end": round(s.end, 6)}
            for s in self.spans
        ]

    # ---- Spark status store ------------------------------------------
    def job_counts(self) -> dict[str, dict[str, int]]:
        """Per layer: jobs, stages and tasks started under its job groups."""
        if self._sc is None:
            return {}
        store = self._sc._jsc.sc().statusStore()
        jobs = store.jobsList(None)
        out: dict[str, dict[str, int]] = defaultdict(lambda: defaultdict(int))
        for i in range(jobs.size()):
            job = jobs.apply(i)
            group = job.jobGroup()
            if not group.isDefined():
                continue
            op, _, layer = str(group.get()).partition(":")
            if op == "op0":  # set-up
                continue
            out[layer]["jobs"] += 1
            out[layer]["stages"] += job.stageIds().size()
            out[layer]["tasks"] += job.numTasks()
        return {k: dict(v) for k, v in out.items()}

    # ---- Catalyst listener -------------------------------------------
    def install_listener(self, spark) -> None:
        """Register a query-execution listener that sums Catalyst phase
        times and plan metrics of every successful execution."""
        from pyspark.java_gateway import ensure_callback_server_started

        gw = spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self._listener = _QEListener(self)
        spark._jsparkSession.listenerManager().register(self._listener)
        self._bus = spark.sparkContext._jsc.sc().listenerBus()

    def drain(self) -> None:
        """Wait until the listener has seen every finished execution."""
        if getattr(self, "_bus", None) is not None:
            self._bus.waitUntilEmpty()

    def record_phases(self, qe) -> None:
        phases = qe.tracker().phases()
        got = {}
        it = phases.iterator()
        while it.hasNext():
            kv = it.next()
            got[str(kv._1())] = float(kv._2().durationMs())
        with self._lock:
            for name, ms in got.items():
                self.catalyst[name] += ms

    def record_plan(self, plan) -> None:
        sums: dict[str, float] = defaultdict(float)
        for node in _plan_nodes(plan):
            metrics = node.metrics()
            for key, out in PLAN_METRICS.items():
                m = metrics.get(key)
                if m.isDefined():
                    sums[out] += float(m.get().value())
        with self._lock:
            for k, v in sums.items():
                self.plan[k] += v


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def _plan_nodes(root):
    """Every physical node of an executed plan, through adaptive plans
    and query stages; reused exchanges are not walked twice."""
    stack = [root]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.startswith("Reused"):
            continue
        yield node
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        if name.endswith("QueryStage"):
            stack.append(node.plan())
            continue
        stack.extend(_seq(node.children()))


class _QEListener:
    """py4j proxy for `org.apache.spark.sql.util.QueryExecutionListener`."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - JVM interface
        t0 = time.perf_counter()
        try:
            self.tracer.record_phases(qe)
            self.tracer.record_plan(qe.executedPlan())
        except Exception as exc:  # noqa: BLE001 - listener must not throw into the JVM
            self.tracer.listener_errors.append(f"{type(exc).__name__}: {exc}")
        self.tracer.add_overhead(time.perf_counter() - t0)

    def onFailure(self, func_name, qe, exc):  # noqa: N802 - JVM interface
        t0 = time.perf_counter()
        try:
            self.tracer.record_phases(qe)
        except Exception as err:  # noqa: BLE001
            self.tracer.listener_errors.append(f"{type(err).__name__}: {err}")
        self.tracer.add_overhead(time.perf_counter() - t0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def patch_everywhere(prefix: str, original, replacement) -> int:
    """Rebind `original` to `replacement` in every loaded module under
    `prefix`, so `from x import f` bindings see the wrapper too."""
    n = 0
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == prefix or name.startswith(prefix + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                n += 1
    return n
