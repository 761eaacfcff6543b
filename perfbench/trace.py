"""Spans and engine counters for the traced run.

Spans are recorded from outside the program: around the benchmark's own
calls into each layer, and around public functions the program looks up
at call time (DataFrameReader.parquet, feed_cache.cached_feed's build
callback, streaming.produce.validate_batch / segment_status,
store.write_event_log). Engine counters come from what Spark already
records in-process: the status store's jobs and stages, the SQL status
store's operator metrics, and a StreamingQueryListener's per-trigger
durationMs. Everything stays in memory until `dump`.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time
from dataclasses import asdict, dataclass, field

STREAM_PHASES = (
    "triggerExecution", "addBatch", "latestOffset",
    "queryPlanning", "walCommit", "commitOffsets",
)

_DURATION = re.compile(r"([\d.]+)\s*(ms|s|m|h)\b")
_SCALE_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    sid: int = 0


@dataclass
class OpRecord:
    """Everything the tracer learned about one op."""

    op: int
    name: str
    wall_s: float = 0.0
    counts: dict[str, float] = field(default_factory=dict)
    streams: list[dict[str, int]] = field(default_factory=list)


def python_worker_ms(formatted: str) -> float:
    """Total of a formatted SQL timing metric: either '9 ms' or
    'total (min, med, max ...)\\n7.4 s (1.8 s, ...)'."""
    line = formatted.strip().splitlines()[-1]
    m = _DURATION.search(line)
    return float(m.group(1)) * _SCALE_MS[m.group(2)] if m else 0.0


class Tracer:
    """Records spans while `active`; patches are installed once by
    `install` and removed by `uninstall`."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.active = False
        self.spans: list[Span] = []
        self.ops: list[OpRecord] = []
        self._stack: list[int] = []
        self._op: OpRecord | None = None
        self._main = threading.get_ident()
        self._undo: list[tuple[object, str, object]] = []
        self._listener = None
        self._job_mark = 0
        self._exec_mark = 0

    # -- spans ---------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active or threading.get_ident() != self._main:
            yield
            return
        sp = Span(
            name, time.perf_counter(), 0.0,
            self._stack[-1] if self._stack else None,
            self._op.op if self._op else None, len(self.spans),
        )
        self.spans.append(sp)
        self._stack.append(sp.sid)
        try:
            yield
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def count(self, key: str) -> None:
        if self.active and self._op is not None:
            self._op.counts[key] = self._op.counts.get(key, 0) + 1

    def _patch(self, owner, attr: str, wrap) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, wrap(orig))

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        from streams_spark import store
        from streams_spark.sources import feed_cache
        from streams_spark.streaming import produce

        tracer = self

        def timed(name, counter=None):
            def wrap(fn):
                def inner(*a, **kw):
                    if counter:
                        tracer.count(counter)
                    with tracer.span(name):
                        return fn(*a, **kw)
                return inner
            return wrap

        def feed(fn):
            def inner(sf_dir, op, extra_key, build):
                def traced_build(target):
                    with tracer.span("sources.feed_build"):
                        return build(target)
                return fn(sf_dir, op, extra_key, traced_build)
            return inner

        self._patch(DataFrameReader, "parquet",
                    timed("sources.parquet_read", "sources.parquet_reads"))
        self._patch(feed_cache, "cached_feed", feed)
        self._patch(produce, "validate_batch", timed("produce.validate"))
        self._patch(produce, "segment_status", timed("produce.status"))
        self._patch(store, "write_event_log", timed("store.write"))
        self._listener = _progress_listener(self)
        self.spark.streams.addListener(self._listener)
        self._job_mark = self._next_id(self._job, 0)
        self._exec_mark = self._next_id(self._execution, 0)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None

    # -- ops -------------------------------------------------------------

    def begin_op(self, op: int, name: str) -> None:
        self._op = OpRecord(op, name) if self.active else None

    def end_op(self, wall_s: float) -> None:
        """Close the op: wait for Spark's listener bus, then attribute
        every job, stage and SQL execution started since the last op."""
        if self._listener is None:  # not installed: an untraced run
            return
        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        rec, self._op = self._op, None
        jobs_end = self._next_id(self._job, self._job_mark)
        execs_end = self._next_id(self._execution, self._exec_mark)
        if rec is not None:
            rec.wall_s = wall_s
            rec.counts.update(self._exec_counts(range(self._job_mark, jobs_end)))
            rec.counts["multimodal.python_ms"] = sum(
                self._python_ms(e) for e in range(self._exec_mark, execs_end)
            )
            self.ops.append(rec)
        self._job_mark, self._exec_mark = jobs_end, execs_end

    def on_progress(self, durations: dict[str, int]) -> None:
        if self._op is not None:
            self._op.streams.append(durations)

    # -- status stores ---------------------------------------------------

    def _job(self, jid: int):
        return self.spark.sparkContext._jsc.sc().statusStore().job(jid)

    def _execution(self, eid: int):
        opt = self.spark._jsparkSession.sharedState().statusStore().execution(eid)
        if opt.isEmpty():
            raise LookupError(eid)
        return opt.get()

    @staticmethod
    def _next_id(lookup, start: int) -> int:
        """First id at or after `start` the store does not hold yet."""
        from py4j.protocol import Py4JJavaError

        i = start
        while True:
            try:
                lookup(i)
            except (Py4JJavaError, LookupError):
                return i
            i += 1

    def _exec_counts(self, job_ids: range) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        store = self.spark.sparkContext._jsc.sc().statusStore()
        out = dict.fromkeys(
            ("exec.jobs", "exec.stages", "exec.tasks", "exec.run_ms",
             "exec.cpu_ms", "exec.gc_ms", "exec.input_bytes",
             "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
             "exec.spill_bytes"), 0.0)
        seen = set()
        for jid in job_ids:
            out["exec.jobs"] += 1
            stage_ids = self._job(jid).stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # never submitted (skipped)
                    continue
                if st.status().toString() != "COMPLETE":
                    continue
                out["exec.stages"] += 1
                out["exec.tasks"] += st.numTasks()
                out["exec.run_ms"] += st.executorRunTime()
                out["exec.cpu_ms"] += st.executorCpuTime() / 1e6
                out["exec.gc_ms"] += st.jvmGcTime()
                out["exec.input_bytes"] += st.inputBytes()
                out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["exec.spill_bytes"] += st.diskBytesSpilled()
        return out

    def _python_ms(self, eid: int) -> float:
        """'time to run Python workers' summed over the MapInPandas /
        ArrowEvalPython operators of one SQL execution."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        ids = []
        it = self._execution(eid).metrics().iterator()
        while it.hasNext():
            m = it.next()
            if m.name() == "time to run Python workers":
                ids.append(m.accumulatorId())
        if not ids:
            return 0.0
        values = sql.executionMetrics(eid)
        return sum(
            python_worker_ms(values.apply(i)) for i in ids if values.contains(i)
        )

    # -- derived -----------------------------------------------------------

    def self_times(self, op: int) -> dict[str, float]:
        """Per-layer self time of one op's spans. A span's self time is
        its duration minus the part of it its children cover; children
        never overlap (spans are recorded on one thread only)."""
        spans = [s for s in self.spans if s.op == op]
        child: dict[int, float] = {}
        for s in spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + s.end - s.start - child.get(s.sid, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({
                **extra,
                "spans": [asdict(s) for s in self.spans],
                "ops": [asdict(o) for o in self.ops],
            }, fh)


def _progress_listener(tracer: Tracer):
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            tracer.on_progress(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()
