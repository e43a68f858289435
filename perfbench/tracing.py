"""In-memory spans around calls into the package's layers, plus Spark's own
job, stage and SQL counters for each operation, and each job's submission
and completion time (the boundary between planning and execution).

Spans come only from the benchmark's side of the boundary: ``Tracer.patch``
swaps a package function for a timing wrapper in every loaded module that
holds it (so ``from x import f`` call sites are covered too) and
``Tracer.close`` puts the originals back.  Spark work is attributed to an
operation by job submission time: the benchmark runs one operation at a
time, so every job submitted inside an operation's wall-clock window
belongs to it, including jobs that the package submits from its own
thread pools.  Each operation also sets a Spark job group, which labels
the jobs submitted from the benchmark's thread.
"""

from __future__ import annotations

import functools
import sys
import time
from dataclasses import dataclass, field

PACKAGE = "cardano_analytics_duckdb_spark"

# Status-store retention must cover a whole run; Spark's default keeps the
# last 1,000 jobs and stages.
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
    "spark.sql.ui.retainedExecutions": "1000000",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans and counters for one benchmark process.  A disabled tracer
    records operation windows only, which the untraced run needs for its
    caller-wait figures and which cost one clock read each."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.py4j_calls = 0
        self._op: int | None = None

    # -- spans ---------------------------------------------------------

    def begin(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(
            Span(name, time.time(), parent=parent, op=self._op, attrs=attrs)
        )
        self._stack.append(sid)
        return sid

    def end(self, sid: int) -> Span:
        span = self.spans[sid]
        span.end = time.time()
        self._stack.pop()
        return span

    def op(self, name: str, **attrs):
        """Context manager for one benchmark operation (a root span)."""
        tracer = self

        class _Op:
            def __enter__(self_inner):
                if tracer.enabled:
                    tracer.spark.sparkContext.setJobGroup(name, name)
                self_inner.sid = tracer.begin(name, kind="op", **attrs)
                tracer._op = self_inner.sid
                tracer.spans[self_inner.sid].op = self_inner.sid
                self_inner.py4j0 = tracer.py4j_calls
                return tracer.spans[self_inner.sid]

            def __exit__(self_inner, *exc):
                span = tracer.end(self_inner.sid)
                span.attrs["py4j_calls"] = tracer.py4j_calls - self_inner.py4j0
                span.attrs["failed"] = exc[0] is not None
                tracer._op = None
                return False

        return _Op()

    def span(self, name: str, **attrs):
        tracer = self

        class _Span:
            def __enter__(self_inner):
                self_inner.sid = tracer.begin(name, **attrs)
                self_inner.py4j0 = tracer.py4j_calls
                return tracer.spans[self_inner.sid]

            def __exit__(self_inner, *exc):
                span = tracer.end(self_inner.sid)
                span.attrs["py4j_calls"] = tracer.py4j_calls - self_inner.py4j0
                return False

        return _Span()

    # -- wrappers around package functions ------------------------------

    def patch(self, module: str, func: str, layer: str, on_result=None) -> None:
        """Wrap ``module.func`` in a span named ``layer.func`` wherever the
        package's loaded modules refer to it."""
        if not self.enabled:
            return
        import importlib

        original = getattr(importlib.import_module(module), func)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return original(*args, **kwargs)
            sid = tracer.begin(f"{layer}.{func}", layer=layer)
            try:
                result = original(*args, **kwargs)
            finally:
                span = tracer.end(sid)
            if on_result is not None:
                on_result(span, args, kwargs, result)
            return result

        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE) or mod is None:
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, attr, wrapper)
                    self._patched.append((mod, attr, original))

    def count_py4j(self) -> None:
        """Count gateway round-trips (every call from Python into the JVM)."""
        if not self.enabled:
            return
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            original = cls.send_command

            def counted(conn, command, *a, _orig=original, **k):
                if tracer.enabled:
                    tracer.py4j_calls += 1
                return _orig(conn, command, *a, **k)

            cls.send_command = counted
            self._patched.append((cls, "send_command", original))

    def close(self) -> None:
        for obj, attr, original in reversed(self._patched):
            setattr(obj, attr, original)
        self._patched.clear()

    # -- Spark counters ---------------------------------------------------

    def spark_counters(self) -> None:
        """Attach Spark's job, stage, task and SQL-scan counters to every
        operation span, by submission time."""
        if not self.enabled:
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        ops = [s for s in self.spans if s.attrs.get("kind") == "op"]
        for s in ops:
            s.attrs.update(jobs=0, stages=0, tasks=0, task_run_ms=0.0,
                           shuffle_write_bytes=0, input_bytes=0, files_read=0,
                           job_spans=[])

        def owner(ms: int):
            t = ms / 1000.0
            for s in ops:  # operations are few; a linear scan is fine
                if s.start <= t <= s.end:
                    return s
            return None

        jobs = store.jobsList(None)
        seen_stages: set[int] = set()
        for i in range(jobs.size()):
            job = jobs.apply(i)
            sub = job.submissionTime()
            if sub.isEmpty():
                continue
            s = owner(sub.get().getTime())
            if s is None:
                continue
            s.attrs["jobs"] += 1
            done = job.completionTime()
            if not done.isEmpty():
                s.attrs["job_spans"].append(
                    (sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0)
                )
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # a stage skipped by reuse has no attempt
                    continue
                if st.numCompleteTasks() == 0 and st.numTasks() > 0:
                    continue  # skipped stage: no task ran
                s.attrs["stages"] += 1
                s.attrs["tasks"] += st.numCompleteTasks()
                s.attrs["task_run_ms"] += st.executorRunTime()
                s.attrs["shuffle_write_bytes"] += st.shuffleWriteBytes()
                s.attrs["input_bytes"] += st.inputBytes()

        sql = self.spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            s = owner(ex.submissionTime())
            if s is None:
                continue
            metrics = ex.metrics()
            ids = {
                metrics.apply(k).accumulatorId()
                for k in range(metrics.size())
                if metrics.apply(k).name() == "number of files read"
            }
            if not ids:
                continue
            it = sql.executionMetrics(ex.executionId()).iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() in ids:
                    s.attrs["files_read"] += int(str(kv._2()).replace(",", "").split()[0])

    # -- derived figures ----------------------------------------------------

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def top_layer_spans(self, op_sid: int, layer: str) -> list[Span]:
        """Spans of ``layer`` under operation ``op_sid`` not nested in
        another span of the same layer."""
        out = []
        for i, s in enumerate(self.spans):
            if s.op != op_sid or s.attrs.get("layer") != layer:
                continue
            p = s.parent
            nested = False
            while p is not None:
                if self.spans[p].attrs.get("layer") == layer:
                    nested = True
                    break
                p = self.spans[p].parent
            if not nested:
                out.append(s)
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "op": s.op, **s.attrs}
            for i, s in enumerate(self.spans)
        ]
