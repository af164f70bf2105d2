"""Tracing for the benchmark's traced run.

Everything here observes the program from outside: spans are opened by the
benchmark around its calls into each layer, and Spark's own accounting is
read back afterwards.

* :class:`Recorder` keeps spans in memory (name, start, end, parent, run id)
  and writes them out as JSON lines when the run ends. Each span runs under
  its own Spark job group, so the stages a span launches can be attributed
  to it, and counts the py4j commands sent while it is the innermost open
  span on its thread.
* :func:`stage_rows` reads jobs and stage attempts from the status store
  (``statusStore().jobsList`` / ``stageList``), which works with the UI off.
* :class:`PhaseListener` is a ``QueryExecutionListener`` that records the
  Catalyst phase times of every executed query from
  ``queryExecution().tracker().phases()``.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from dataclasses import asdict, dataclass

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    start: float
    end: float | None = None
    py4j_calls: int = 0

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else time.time()) - self.start


def self_time(span: Span, children: list) -> float:
    """The span's duration minus the part of it that child spans cover
    (overlapping children are counted once; parts outside the span are
    ignored)."""
    return span.duration - covered(span, children)


def covered(span: Span, children: list) -> float:
    lo, hi = span.start, span.start + span.duration
    total, reach = 0.0, lo
    for c in sorted(children, key=lambda c: c.start):
        s, e = max(c.start, reach), min(c.start + c.duration, hi)
        if e > s:
            total += e - s
            reach = e
    return total


class Recorder:
    """In-memory span recorder. Once ``sc`` is set, spans set a Spark job
    group and :meth:`count_py4j` can be turned on; before that (set-up,
    unit tests) spans are plain timers."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.sc = None
        self.spans: list[Span] = []
        # parent of spans opened on a thread with no open span of its own,
        # such as the stream's foreachBatch callbacks
        self.ambient: Span | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._client = self._send = None

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def group_id(self, span: Span) -> str:
        return f"{self.run_id}:{span.span_id}"

    def span(self, name: str):
        return _SpanContext(self, name)

    @contextlib.contextmanager
    def quiet(self):
        """py4j calls made by the tracer itself on this thread are not counted."""
        self._local.quiet = True
        try:
            yield
        finally:
            self._local.quiet = False

    def children(self, span: Span) -> list:
        return [s for s in self.spans if s.parent == span.span_id]

    def count_py4j(self) -> None:
        """Count py4j commands per innermost open span (traced run only)."""
        client = self.sc._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            if getattr(self._local, "quiet", False):
                return send(*args, **kwargs)
            stack = getattr(self._local, "stack", None)
            target = stack[-1] if stack else self.ambient
            if target is not None:
                with self._lock:
                    target.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send
        self._client, self._send = client, send

    def stop_counting(self) -> None:
        if self._client is not None:
            self._client.send_command = self._send
            self._client = None

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"run_id": self.run_id, **asdict(s)}) + "\n")


class _SpanContext:
    def __init__(self, rec: Recorder, name: str):
        self.rec, self.name = rec, name

    def __enter__(self) -> Span:
        rec = self.rec
        stack = rec._stack()
        parent = stack[-1] if stack else rec.ambient
        span = Span(next(rec._ids), self.name, parent.span_id if parent else None, time.time())
        with rec._lock:
            rec.spans.append(span)
        self.saved = None
        if rec.sc is not None:
            with rec.quiet():
                self.saved = [rec.sc.getLocalProperty(k) for k in _GROUP_KEYS]
                rec.sc.setJobGroup(rec.group_id(span), self.name)
        stack.append(span)
        self.span = span
        return span

    def __exit__(self, *exc) -> None:
        rec = self.rec
        rec._stack().pop()
        if self.saved is not None:
            with rec.quiet():
                for k, v in zip(_GROUP_KEYS, self.saved):
                    rec.sc.setLocalProperty(k, v)
        self.span.end = time.time()


def _seq(sc, scala_seq) -> list:
    return list(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_seq))


@dataclass
class StageRow:
    job_group: str | None
    stage_id: int
    attempt: int
    tasks: int
    failed_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    input_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


def stage_rows(sc) -> list[StageRow]:
    """Every stage attempt in the status store, with the job group of the
    first job that ran it."""
    store = sc._jsc.sc().statusStore()
    group_of = {}
    for job in _seq(sc, store.jobsList(None)):
        group = job.jobGroup().get() if job.jobGroup().isDefined() else None
        for sid in _seq(sc, job.stageIds()):
            group_of.setdefault(int(sid), group)
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    rows = []
    for st in _seq(sc, store.stageList(None, False, False, no_quantiles, None)):
        sid = int(st.stageId())
        rows.append(StageRow(
            job_group=group_of.get(sid),
            stage_id=sid,
            attempt=int(st.attemptId()),
            tasks=int(st.numTasks()),
            failed_tasks=int(st.numFailedTasks()),
            run_s=st.executorRunTime() / 1e3,
            cpu_s=st.executorCpuTime() / 1e9,
            gc_s=st.jvmGcTime() / 1e3,
            input_bytes=int(st.inputBytes()),
            input_records=int(st.inputRecords()),
            shuffle_read_bytes=int(st.shuffleReadBytes()),
            shuffle_write_bytes=int(st.shuffleWriteBytes()),
            spill_bytes=int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled()),
        ))
    return rows


class PhaseListener:
    """Records (epoch seconds, {phase: ms}) for each executed query.
    Callbacks arrive on Spark's listener bus thread."""

    def __init__(self, quiet):
        self.events: list = []
        self._quiet = quiet
        self._lock = threading.Lock()

    def register(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 - Java interface
        phases, start = {}, None
        with self._quiet():
            it = qe.tracker().phases().iterator()
            while it.hasNext():
                kv = it.next()
                summary = kv._2()
                phases[kv._1()] = float(summary.durationMs())
                t = summary.startTimeMs() / 1e3
                start = t if start is None else min(start, t)
        with self._lock:
            self.events.append((start if start is not None else time.time(), phases))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 - Java interface
        self.onSuccess(func_name, qe, 0)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]
