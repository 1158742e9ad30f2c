"""Instrumentation for the traced run.

The benchmark observes each layer from outside the package:

- spans: the layer-boundary functions are wrapped (module attributes
  replaced in memory, package files untouched); each span records name,
  start, end, parent and op id and runs under its own Spark job group, so
  the jobs it issued can be attributed to it;
- engine metrics: after each op, with the listener bus drained, Spark's own
  status stores are read for every job the op issued (job intervals,
  stages, tasks, executor run and CPU time, shuffle and I/O bytes) and for
  every SQL execution it ran (the Python-eval nodes' worker metrics);
- streaming progress: a ``StreamingQueryListener`` collects batch count,
  batch duration and input rows.

Spans stay in memory and are written out once, when the run ends. The
untraced run uses :class:`NullTracer`, whose spans cost nothing.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager, nullcontext
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

# "time to initialize Python workers" is left out: a reused worker stamps
# its boot time when it finishes its previous task, so the metric adds the
# worker's idle time between tasks (a probe of four reused workers idle
# 5 s / 10 s read 21.9 s / 41.6 s) and cannot be read as time spent
PYTHON_SQL_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    group: str
    start: float = 0.0
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    subtree_jobs: int = 0
    output_bytes: int = 0
    output_records: int = 0

    @property
    def wall(self) -> float:
        return self.end - self.start


class NullTracer:
    """Untraced run: ops are timed by the workload, nothing else is kept."""

    enabled = False

    def span(self, name: str):
        return nullcontext()

    def op(self, name: str):
        return nullcontext()


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op = -1
        self._op_name = ""
        self.ops: list[dict] = []
        self._progress: list[tuple[float, int]] = []
        self._drain()
        self._next_job = _first_free(self._job)
        self._next_exec = _first_free(self._execution)
        self._add_stream_listener()

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, self._op, parent, f"perfbench-{idx}")
        self.spans.append(s)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(s.group, name)
        self._stack.append(idx)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            for key, value in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(key, value)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` by a spanned call of the original."""
        original = getattr(module, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                return original(*args, **kwargs)

        spanned.__wrapped__ = original
        setattr(module, attr, spanned)

    def op(self, name: str):
        self._op += 1
        self._op_name = name
        return self.span(name)

    # -- engine readers ---------------------------------------------------
    def op_metrics(self) -> dict:
        """Engine metrics of the op that just ended; call outside its timer."""
        self._drain()
        first = next(i for i, s in enumerate(self.spans) if s.op == self._op)
        op_spans = self.spans[first:]
        op_span = op_spans[0]
        m = dict.fromkeys(
            (
                "spark.jobs", "spark.stages", "spark.stages_skipped",
                "spark.tasks", "spark.failed_tasks", "spark.executor_run_s",
                "spark.executor_cpu_s", "spark.shuffle_read_bytes",
                "spark.shuffle_write_bytes", "sources.scan_bytes",
                "sources.scan_rows", *PYTHON_SQL_METRICS.values(),
            ),
            0.0,
        )
        intervals, stage_ids = [], set()
        job = self._next_job
        while (jd := self._job(job)) is not None:
            m["spark.jobs"] += 1
            start, end = jd.submissionTime(), jd.completionTime()
            if start.isDefined() and end.isDefined():
                intervals.append((start.get().getTime(), end.get().getTime()))
            it = jd.stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
            job += 1
        self._next_job = job
        stage_out: dict[int, tuple[int, int]] = {}
        for sid in stage_ids:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # evicted from the store; counted as neither
            if sd.status().toString() == "SKIPPED":
                m["spark.stages_skipped"] += 1
                continue
            m["spark.stages"] += 1
            m["spark.tasks"] += sd.numTasks()
            m["spark.failed_tasks"] += sd.numFailedTasks()
            m["spark.executor_run_s"] += sd.executorRunTime() / 1e3
            m["spark.executor_cpu_s"] += sd.executorCpuTime() / 1e9
            m["spark.shuffle_read_bytes"] += sd.shuffleReadBytes()
            m["spark.shuffle_write_bytes"] += sd.shuffleWriteBytes()
            m["sources.scan_bytes"] += sd.inputBytes()
            m["sources.scan_rows"] += sd.inputRecords()
            stage_out[sid] = (sd.outputBytes(), sd.outputRecords())
        busy = _union(intervals) / 1e3  # job times are epoch ms
        m["spark.job_busy_s"] = busy
        m["spark.driver_gap_s"] = max(0.0, op_span.wall - busy)
        self._read_python_metrics(m)
        for s in op_spans:
            s.jobs = list(self.sc.statusTracker().getJobIdsForGroup(s.group))
            span_stages = set()
            for j in s.jobs:
                jd = self._job(j)
                if jd is None:
                    continue
                it = jd.stageIds().iterator()
                while it.hasNext():
                    span_stages.add(it.next())
            for sid in span_stages:
                ob, orec = stage_out.get(sid, (0, 0))
                s.output_bytes += ob
                s.output_records += orec
        # children start after their parent, so one reverse sweep totals
        # each span's jobs with its descendants'
        for s in reversed(op_spans):
            s.subtree_jobs += len(s.jobs)
            if s.parent is not None and s.parent >= first:
                self.spans[s.parent].subtree_jobs += s.subtree_jobs
        batches = self._progress
        self._progress = []
        m["streaming.batches"] = len(batches)
        m["streaming.rows_in"] = sum(rows for _, rows in batches)
        m["_stream_batch_s"] = [b for b, _ in batches]
        m["_spans"] = op_spans
        self.ops.append(
            {
                "op": self._op,
                "name": self._op_name,
                "wall": op_span.wall,
                "jobs": m["spark.jobs"],
                "stream_batch_s": m["_stream_batch_s"],
            }
        )
        return m

    def _read_python_metrics(self, m: dict) -> None:
        ex = self._next_exec
        while (ui := self._execution(ex)) is not None:
            values = self._sql.executionMetrics(ex)
            seen = set()
            it = ui.metrics().iterator()
            while it.hasNext():
                pm = it.next()
                key = PYTHON_SQL_METRICS.get(pm.name())
                if key is None or pm.accumulatorId() in seen:
                    continue
                seen.add(pm.accumulatorId())
                text = values.get(pm.accumulatorId())
                if text.isDefined():
                    m[key] += _parse_sql_metric(text.get())
            ex += 1
        self._next_exec = ex

    def _job(self, job_id: int):
        try:
            return self._store.job(job_id)
        except Py4JJavaError:
            return None

    def _execution(self, exec_id: int):
        opt = self._sql.execution(exec_id)
        return opt.get() if opt.isDefined() else None

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _add_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress._progress.append((p.batchDuration / 1e3, p.numInputRows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())

    def write(self, path: str) -> None:
        """Write ops and spans, each span with its self time: its wall
        minus the part of it that its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        spans = [
            asdict(s) | {"self_s": s.wall - _union(children.get(i, []))}
            for i, s in enumerate(self.spans)
        ]
        with open(path, "w") as f:
            json.dump({"ops": self.ops, "spans": spans}, f)


_GROUP_KEYS = (
    "spark.jobGroup.id",
    "spark.job.description",
    "spark.job.interruptOnCancel",
)


def _first_free(lookup) -> int:
    """First id, counting from 0, that ``lookup`` finds nothing for."""
    i = 0
    while lookup(i) is not None:
        i += 1
    return i


def _union(intervals) -> float:
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


def _parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric, e.g. ``"total (min, med, max ...)\\n
    4.3 s (1.0 s, ...)"`` or ``"8.8 KiB"``; seconds for times, bytes for
    sizes."""
    value, unit = text.strip().splitlines()[-1].split()[:2]
    value = float(value.replace(",", ""))
    if unit in _TIME_UNITS:
        return value * _TIME_UNITS[unit]
    return value * _SIZE_UNITS[unit]
