"""The traced mode: spans around calls into the program's layers, Spark's
own job/stage counters and streaming progress, all kept in memory.

Nothing here edits the program. ``Tracer.wrap`` replaces a module
attribute with a timing wrapper for the length of a traced run and puts it
back afterwards; callers that look the name up at call time (as the
program's modules do) go through the wrapper.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent, op) recorded in memory. A span's
    parent is the enclosing span on the same thread, or the current op's
    span when it runs on another thread (a streaming ``foreachBatch``
    callback runs on its own)."""

    def __init__(self):
        self.spans: list[dict] = []
        self.op: int | None = None
        self._op_span: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self._op_span
        rec = {"name": name, "op": self.op, "parent": parent, "start": time.perf_counter(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()

    @contextlib.contextmanager
    def op_span(self, name: str, op: int):
        self.op = op
        with self.span(name) as rec:
            self._op_span = rec["id"]
            try:
                yield rec
            finally:
                self._op_span = None

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Time every call of ``owner.attr`` as a span ``name``;
        ``on_result(span, result)`` may add attributes to the span."""
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                result = original(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, result)
                return result

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, original))

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()

    def of_op(self, op: int, name: str) -> list[dict]:
        return [s for s in self.spans if s["op"] == op and s["name"] == name and "end" in s]

    def seconds(self, op: int, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.of_op(op, name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class NullTracer:
    """The untraced mode's stand-in: spans cost one ``nullcontext``."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})


class SparkCounters:
    """Deltas of the driver's in-process status store. Job ids are
    sequential, so the jobs of an interval are those numbered from the
    interval's start mark up to the next id at its end, whichever thread
    ran them (streaming jobs run on the query's own thread)."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._gw = spark.sparkContext._gateway
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def mark(self) -> int:
        return self._dag.nextJobId()  # py4j hands the AtomicInteger over as an int

    def since(self, mark: int) -> dict:
        """Jobs, stages, tasks and stage metrics of the jobs started since
        ``mark``. Waits for the listener bus so finished jobs are in."""
        self._bus.waitUntilEmpty()
        end = self.mark()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_mb", "input_mb", "output_mb"), 0.0
        )
        stage_ids: set[int] = set()
        for jid in range(mark, end):
            try:
                job = self._store.job(jid)
            except Exception:  # evicted from the store's retention window
                continue
            out["jobs"] += 1
            ids = job.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        no_quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        no_status = self._gw.jvm.java.util.ArrayList()
        for sid in sorted(stage_ids):
            try:
                st = self._store.stageAttempt(sid, 0, False, no_status, False, no_quantiles)._1()
            except Exception:
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["gc_s"] += st.jvmGcTime() / 1e3
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["input_mb"] += st.inputBytes() / 2**20
            out["output_mb"] += st.outputBytes() / 2**20
        return out


DRAIN_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


class DrainListener(StreamingQueryListener):
    """Collects each micro-batch's StreamingQueryProgress. Progress arrives
    asynchronously; ``wait_terminated(n)`` blocks until ``n`` queries have
    reported their termination, so a drain's batches are all in."""

    def __init__(self):
        self.progress: list[dict] = []
        self._terminated = 0
        self._cond = threading.Condition()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        rec = {f"{k}_ms": p.durationMs.get(k, 0) for k in DRAIN_PHASES}
        rec["state_commit_ms"] = sum(s.commitTimeMs for s in p.stateOperators)
        rec["state_rows"] = sum(s.numRowsTotal for s in p.stateOperators)
        with self._cond:
            self.progress.append(rec)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._cond:
            self._terminated += 1
            self._cond.notify_all()

    def wait_terminated(self, n: int, timeout_s: float = 30.0) -> None:
        with self._cond:
            self._cond.wait_for(lambda: self._terminated >= n, timeout=timeout_s)

    def take(self) -> list[dict]:
        with self._cond:
            out, self.progress = self.progress, []
        return out
