"""In-memory span tracer and Spark stage reader for the traced benchmark run.

Spans wrap calls into the program's layers from outside: the tracer replaces
a few public methods with timing wrappers for the life of a ``with Tracer``
block and restores them on exit.  Each wrapper also sets the Spark job
description of its own thread to the span id, so every stage the call runs
can be attributed to the innermost span that caused it.  The engine commits
tables from a thread pool, which is why this is done per call and per thread
rather than once on the driver's main thread.

Stage metrics come from Spark's status store, which is populated even with
the UI disabled.  Its ``stageList`` returns a Scala ``Seq``: index it with
``length()``/``apply(i)``.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import dataclass

DESC_PREFIX = "perfbench-span:"
STORE_COMMITS = ("commit", "commit_append_partitioned", "commit_partitions")
STORE_FOLDS = ("fold_segments", "rewrite_data_files")


@dataclass
class Span:
    id: int
    name: str  # "<layer>/<call>", e.g. "store.snapshot/commit"
    start: float
    end: float | None
    parent: int | None
    run: int
    tag: str | None = None  # the table of a store span, the query of a query span

    @property
    def layer(self) -> str:
        return self.name.split("/", 1)[0]

    @property
    def call(self) -> str:
        return self.name.split("/", 1)[1]

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Stage:
    stage_id: int
    attempt: int
    status: str
    num_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_mb: float
    input_mb: float
    submitted: float | None  # epoch seconds
    span: int | None  # span id from the job description, if any


class Tracer:
    """Record spans around the program's layer entry points.

    ``targets`` is a list of ``(layer, cls, method_names)`` to wrap while
    the tracer is entered; :meth:`span` times a block of the caller's own.
    A span opened in a thread with no open span of its own (a commit pool
    thread) takes as parent the innermost span open on the thread that
    entered the tracer.
    """

    def __init__(self, spark, targets, run_id: int = 0):
        self.sc = spark.sparkContext
        self.targets = targets
        self.run = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[Span] = []
        self._saved: list[tuple[type, str, object]] = []

    # -- span bookkeeping --------------------------------------------------
    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _open(self, name: str, tag: str | None) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            span = Span(next(self._ids), name, time.time(), None,
                        parent.id if parent else None, self.run, tag)
            self.spans.append(span)
        stack.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, tag: str | None = None):
        """Time the block as a span; Spark jobs it runs carry the span id."""
        span = self._open(name, tag)
        prev = self.sc.getLocalProperty("spark.job.description")
        self.sc.setJobDescription(f"{DESC_PREFIX}{span.id}")
        try:
            yield span
        finally:
            self.sc.setLocalProperty("spark.job.description", prev)
            span.end = time.time()
            self._stack().pop()

    def _wrap(self, layer: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(obj, *args, **kwargs):
            tag = getattr(obj, "name", None) if layer == "store.snapshot" else None
            with tracer.span(f"{layer}/{fn.__name__}", tag):
                return fn(obj, *args, **kwargs)

        return wrapper

    def __enter__(self) -> "Tracer":
        self._local.stack = self._main_stack
        for layer, cls, names in self.targets:
            for name in names:
                orig = cls.__dict__[name]
                self._saved.append((cls, name, orig))
                setattr(cls, name, self._wrap(layer, orig))
        return self

    def __exit__(self, *exc) -> None:
        for cls, name, orig in reversed(self._saved):
            setattr(cls, name, orig)
        self._saved.clear()

    # -- derived views -----------------------------------------------------
    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def descendants(self, span: Span) -> list[Span]:
        out, frontier = [], [span.id]
        while frontier:
            kids = [s for s in self.spans if s.parent in frontier]
            out.extend(kids)
            frontier = [s.id for s in kids]
        return out

    def to_json(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "run": s.run, "tag": s.tag}
            for s in self.spans
        ]


def union_seconds(intervals) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_stages(spark) -> list[Stage]:
    """Every stage the status store retains, with its span attribution."""
    sc = spark.sparkContext
    jvm = sc._jvm
    seq = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = []
    for i in range(seq.length()):
        s = seq.apply(i)
        desc = s.description()
        desc = desc.get() if desc.isDefined() else ""
        sub = s.submissionTime()
        out.append(Stage(
            stage_id=s.stageId(),
            attempt=s.attemptId(),
            status=s.status().toString(),
            num_tasks=s.numTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            shuffle_write_mb=s.shuffleWriteBytes() / 1e6,
            input_mb=s.inputBytes() / 1e6,
            submitted=sub.get().getTime() / 1e3 if sub.isDefined() else None,
            span=int(desc[len(DESC_PREFIX):]) if desc.startswith(DESC_PREFIX) else None,
        ))
    return out


def read_job_spans(spark) -> list[int | None]:
    """The span id of every job the status store retains (None if the job
    ran outside any span)."""
    sc = spark.sparkContext
    seq = sc._jsc.sc().statusStore().jobsList(sc._jvm.java.util.ArrayList())
    out = []
    for i in range(seq.length()):
        desc = seq.apply(i).description()
        desc = desc.get() if desc.isDefined() else ""
        out.append(int(desc[len(DESC_PREFIX):]) if desc.startswith(DESC_PREFIX) else None)
    return out


def jvm_heap_after_gc_mb(spark) -> float:
    rt = spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
    spark.sparkContext._jvm.java.lang.System.gc()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not found in the JVM's /proc status")
