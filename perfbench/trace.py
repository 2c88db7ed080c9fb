"""Spans, Spark counters and layer wrappers for the traced run.

Nothing here runs unless the benchmark is started with ``--trace 1``:
the end-to-end runs import this module but never install a wrapper.

- ``Tracer.span`` records a span (name, start, end, parent, run id) and
  tags every Spark job the span launches with one job group, so the
  span's jobs, stages, tasks, shuffle bytes, spill and executor run time
  can be read back from the in-process status store. No UI, no network.
- ``install`` replaces a program function at every name a caller has
  bound it to (``pipeline`` binds ``write_table`` by name, the query
  modules bind ``shared_table`` and ``drain_to_batch`` by name), and
  ``uninstall`` puts the originals back.
- ``StreamCounter`` is a ``StreamingQueryListener`` that counts
  micro-batches and sums their ``addBatch`` time.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "instacart_medallion_lakehouse_spark"


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    run: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    job_ids: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one Spark job group per span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._t0 = time.perf_counter()
        # time spent on tracing itself, inside the traced calls
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def bookkeeping(self):
        """Count the enclosed time as tracing overhead."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _set_group(self, span: Span | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span.id, span.name)

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}/{len(self.spans) + len(self._stack)}",
            name=name,
            parent=parent.id if parent else None,
            run=self.run_id,
            start=time.perf_counter() - self._t0,
            attrs=dict(attrs),
        )
        self._stack.append(s)
        with self.bookkeeping():
            self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self._t0
            self._stack.pop()
            with self.bookkeeping():
                self._set_group(parent)
                s.job_ids = list(self.sc.statusTracker().getJobIdsForGroup(s.id))
            self.spans.append(s)

    def subtree(self, root: Span) -> list[Span]:
        """``root`` and every span recorded under it."""
        kids: dict[str | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out

    def jobs_under(self, root: Span) -> list[int]:
        return sorted({j for s in self.subtree(root) for j in s.job_ids})

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
                "start": round(s.start, 6), "end": round(s.end, 6),
                "jobs": len(s.job_ids), **s.attrs,
            }
            for s in self.spans
        ]


def spark_counters(spark, job_ids: list[int]) -> dict[str, float]:
    """Jobs, stages, tasks, shuffle write bytes, spill and executor run
    time of ``job_ids``, from the status tracker and the status store.

    Field names are the ones a per-query profile record uses:
    ``jobs, stages, tasks, shuffle_write_bytes, spill_bytes,
    executor_run_s``.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    # stage metrics arrive through the asynchronous listener bus; wait
    # for it to drain so a just-finished stage is not read as empty
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {
        "jobs": len(job_ids), "stages": 0, "tasks": 0,
        "shuffle_write_bytes": 0, "spill_bytes": 0, "executor_run_s": 0.0,
    }
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — skipped stages have no attempt
            continue
        if str(st.status()) == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled()
        out["executor_run_s"] += st.executorRunTime() / 1000.0
    return out


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the Spark JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class StreamCounter(StreamingQueryListener):
    """Counts micro-batches and sums ``addBatch`` time per query."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.batches: dict[str, int] = {}
        self.add_batch_ms: dict[str, int] = {}

    def onQueryStarted(self, event):
        with self._lock:
            self.started.add(str(event.id))

    def onQueryProgress(self, event):
        p = event.progress
        qid = str(p.id)
        with self._lock:
            self.batches[qid] = self.batches.get(qid, 0) + 1
            self.add_batch_ms[qid] = (
                self.add_batch_ms.get(qid, 0) + p.durationMs.get("addBatch", 0)
            )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self._lock:
            self.terminated.add(str(event.id))

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's termination event arrived."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if self.started <= self.terminated:
                    return
            time.sleep(0.01)

    def totals(self) -> tuple[int, float]:
        with self._lock:
            return sum(self.batches.values()), sum(self.add_batch_ms.values()) / 1000.0


def install(original, wrapper) -> list:
    """Bind ``wrapper`` at every package-module name bound to ``original``.

    Returns one undo callable per replaced binding, for ``uninstall``.
    """
    undo = []
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith(PACKAGE):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, wrapper)
                undo.append(functools.partial(setattr, mod, attr, original))
    return undo


def uninstall(undo: list) -> None:
    for restore in undo:
        restore()
    undo.clear()


def wrap_in_span(tracer: Tracer, name: str, fn, on_exit=None):
    """``fn`` inside a span named ``name``; ``on_exit(span, args, kwargs)``
    runs after the call, inside the span, to attach attributes."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name) as s:
            result = fn(*args, **kwargs)
            if on_exit is not None:
                on_exit(s, args, kwargs)
            return result

    return wrapper
