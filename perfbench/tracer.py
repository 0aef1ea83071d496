"""Outside-in tracer: spans and Spark job counts recorded from the benchmark's
code around its calls into the engine, plus the peak-RSS reader.

Spans live in memory and are written out once, when the benchmark ends.
Each span carries a name, start and end (``time.perf_counter`` seconds),
its parent span and the trace id shared by every span of one operation
(a drain, an open-loop phase, one dedupe cycle).  Per-batch spans come
from the streaming listener's progress events; Spark job counts come from
job groups (the stream's ``runId``, or a group set around a call).

With ``enabled=False`` spans and job-group lookups are no-ops; peak RSS
is read either way, because it is an end-to-end metric.
"""

from __future__ import annotations

import contextlib
import datetime
import itertools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass

from pyspark.sql.streaming import StreamingQueryListener


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    trace_id: int
    attrs: dict

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its
    children cover (children clipped to the parent, overlaps counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        ivs = sorted(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children.get(s.span_id, ())
        )
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s.span_id] = s.duration - covered
    return out


def epoch_of(iso_utc: str) -> float:
    """Epoch seconds of a progress-event timestamp (``...T..:..:..Z``)."""
    return datetime.datetime.fromisoformat(iso_utc.replace("Z", "+00:00")).timestamp()


def read_hwm_kb(pid: int) -> int:
    """Peak resident set size (``VmHWM``) of ``pid`` in KiB from /proc
    (0 once it exited)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


class PeakRss:
    """Peak RSS of the driver Python process plus the JVM: the sum of each
    process's high-water mark, read before the JVM exits.  The sum bounds
    their joint peak from above and, unlike a sampled RSS, cannot miss a
    short spike between samples."""

    def __init__(self):
        self.pids = [os.getpid()]

    def add_pid(self, pid: int) -> None:
        self.pids.append(pid)

    def peak_kb(self) -> int:
        return sum(read_hwm_kb(p) for p in self.pids)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self.rss = PeakRss()
        #: driver seconds spent inside tracer hooks (listener callbacks,
        #: job-group lookups): the tracing cost the traced run can see
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    # -- spans ---------------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, new_trace: bool = False, **attrs):
        """Time the block as a span, nested under the innermost open span
        of this thread; ``new_trace`` starts a new trace id."""
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        sid = next(self._ids)
        trace_id = sid if (new_trace or parent is None) else parent.trace_id
        s = Span(sid, name, time.perf_counter(), 0.0,
                 parent.span_id if parent else None, trace_id, dict(attrs))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def add_span(self, name: str, start: float, end: float, parent: Span | None, **attrs) -> None:
        if not self.enabled:
            return
        sid = next(self._ids)
        with self._lock:
            self.spans.append(Span(sid, name, start, end,
                                   parent.span_id if parent else None,
                                   parent.trace_id if parent else sid, dict(attrs)))

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        by_id = self_times(self.spans)
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + by_id[s.span_id]
        return out

    # -- Spark hooks -----------------------------------------------------------
    def jobs_in_group(self, spark, group: str) -> int:
        """Spark jobs recorded under a job group (0 when tracing is off)."""
        if not self.enabled:
            return 0
        t = time.perf_counter()
        n = len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))
        self.overhead_s += time.perf_counter() - t
        return n

    def jvm_gc_s(self, spark) -> float:
        """Seconds the JVM's collectors have spent so far."""
        beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    @contextlib.contextmanager
    def job_group(self, spark, group: str):
        """Run the block under a Spark job group (only when tracing)."""
        if not self.enabled:
            yield
            return
        sc = spark.sparkContext
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    @contextlib.contextmanager
    def jvm_error_lines(self, spark, path: str):
        """Count the JVM's ERROR log lines while the block runs: a log4j2
        file appender at ERROR on the root logger, writing to ``path``,
        removed afterwards.  Yields a dict whose ``"lines"`` holds the
        count once the block has ended."""
        jvm = spark.sparkContext._jvm
        log4j = jvm.org.apache.logging.log4j
        ctx = log4j.LogManager.getContext(False)
        layout = log4j.core.layout.PatternLayout.newBuilder().withPattern("%p %c %m%n").build()
        builder = log4j.core.appender.FileAppender.newBuilder()
        builder.withFileName(path)
        builder.setName("perfbench-errors")
        builder.setLayout(layout)
        appender = builder.build()
        appender.start()
        root = ctx.getConfiguration().getRootLogger()
        root.addAppender(appender, log4j.Level.ERROR, None)
        ctx.updateLoggers()
        out = {"lines": 0}
        try:
            yield out
        finally:
            root.removeAppender("perfbench-errors")
            ctx.updateLoggers()
            appender.stop()
            if os.path.exists(path):
                with open(path) as f:
                    out["lines"] = sum(1 for line in f if line.startswith("ERROR "))

    def write(self, path: str, extra: dict | None = None) -> None:
        doc = {
            "spans": [asdict(s) for s in sorted(self.spans, key=lambda s: s.start)],
            "self_time_s": self.self_time_by_name(),
            **(extra or {}),
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f, indent=1, default=str)
        os.replace(tmp, path)


class ProgressCollector(StreamingQueryListener):
    """Keeps every streaming progress event as a dict; when tracing, adds
    a span per micro-batch under the span open when it was registered."""

    def __init__(self, tracer: Tracer, parent: Span | None):
        self.tracer = tracer
        self.parent = parent
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t = time.perf_counter()
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)
        trig = p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0
        # progress "timestamp" is the batch start in UTC wall time
        start = epoch_of(p["timestamp"]) - (time.time() - time.perf_counter())
        self.tracer.add_span("ingest.batch", start, start + trig, self.parent,
                             batch_id=p["batchId"], rows=p["numInputRows"])
        self.tracer.overhead_s += time.perf_counter() - t

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass
