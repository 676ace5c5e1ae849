"""Spans and Spark counters for the traced run.

Spans are recorded only around calls the benchmark makes or wraps: each
module's public entry points are patched for the traced run and restored
afterwards, so the untraced run executes the program unmodified. Spans
stay in memory; ``Tracer.dump`` writes them once at the end.

Spark's own counters are joined to spans after the run, from the app
status store: a job belongs to the innermost span whose interval holds
its submission time. Operations also tag their jobs with a job group, but
job groups do not cross threads (streaming micro-batches run on the
stream thread), so attribution by time over the full job list is what
catches stream-thread jobs; the client is a single thread, so nothing
else submits jobs inside an operation's interval. ``layers`` takes a
job's operation from its job group where it has one.
"""

from __future__ import annotations

import contextlib
import json
import re
import time
from dataclasses import dataclass
from datetime import datetime


@dataclass
class Span:
    name: str
    start: float  # wall-clock seconds (same clock as Spark's job timestamps)
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder with a parent stack (single client thread)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.op: int | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.time(), 0.0, parent, self.op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def wrap(self, owner: object, attr: str, name: str, on_result=None) -> None:
        """Replace ``owner.attr`` with a spanned call for the traced run."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        def spanned(*args, **kwargs):
            with self.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(out)
            return out

        setattr(owner, attr, spanned)
        self._patched.append((owner, attr, orig))

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # -- span-tree arithmetic -------------------------------------------------

    def self_times(self) -> list[float]:
        """Each span's duration minus the union of its children's intervals."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids.get(i, []), key=lambda c: c.start):
                if cur_e is None or c.start > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = c.start, c.end
                else:
                    cur_e = max(cur_e, c.end)
            if cur_e is not None:
                covered += cur_e - cur_s
            out.append((s.end - s.start) - covered)
        return out

    def check_tree(self) -> list[str]:
        """Well-formedness: every child lies inside its parent, every span
        has ended, and self times are non-negative."""
        errs = []
        for i, s in enumerate(self.spans):
            if s.end < s.start:
                errs.append(f"span {i} {s.name} ends before it starts")
            if s.parent is not None:
                p = self.spans[s.parent]
                if s.start < p.start or s.end > p.end:
                    errs.append(f"span {i} {s.name} leaves parent {p.name}")
        for i, st in enumerate(self.self_times()):
            if st < -1e-6:
                errs.append(f"span {i} {self.spans[i].name} has self time {st}")
        return errs

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent,
                     "op": s.op, "self_s": round(st, 6)}
                    for s, st in zip(self.spans, selfs)
                ],
                f,
            )


# ---------------------------------------------------------------------------
# Spark counters
# ---------------------------------------------------------------------------

_UNITS_MS = {"ms": 1.0, "s": 1000.0, "m": 60_000.0, "min": 60_000.0, "h": 3_600_000.0}
_PY_EVAL = "time to run Python workers"


def _metric_ms(text: str) -> float:
    """Total of a formatted SQL timing metric ("8.8 s (2.1 s, ...)")."""
    m = re.match(r"\s*([\d.,]+)\s*([a-z]+)", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS_MS.get(m.group(2), 0.0)


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


@dataclass
class JobStat:
    job_id: int
    group: str | None
    submitted: float  # wall seconds
    completed: float
    stages: int = 0
    tasks: int = 0
    input_bytes: int = 0
    output_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    executor_run_ms: int = 0
    python_eval_ms: float = 0.0


def spark_jobs(spark, since: float) -> list[JobStat]:
    """Every job submitted at or after ``since`` with its stage totals and
    the Python-worker time of its SQL execution."""
    from py4j.protocol import Py4JJavaError

    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out: dict[int, JobStat] = {}
    for j in _seq(store.jobsList(None)):
        if not j.submissionTime().isDefined():
            continue
        sub = j.submissionTime().get().getTime() / 1000.0
        if sub < since:
            continue
        done = j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else sub
        group = j.jobGroup().get() if j.jobGroup().isDefined() else None
        js = JobStat(j.jobId(), group, sub, done)
        for sid in _seq(j.stageIds()):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage has no attempt
                continue
            js.stages += 1
            js.tasks += st.numCompleteTasks()
            js.input_bytes += st.inputBytes()
            js.output_bytes += st.outputBytes()
            js.shuffle_read_bytes += st.shuffleReadBytes()
            js.shuffle_write_bytes += st.shuffleWriteBytes()
            js.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
            js.executor_run_ms += st.executorRunTime()
        out[js.job_id] = js
    sql = spark._jsparkSession.sharedState().statusStore()
    for e in _seq(sql.executionsList()):
        jobs = [int(k) for k in _seq(e.jobs().keys().toSeq())]
        mine = [out[k] for k in jobs if k in out]
        if not mine:
            continue
        metrics = sql.executionMetrics(e.executionId())
        total = 0.0
        for node in _seq(sql.planGraph(e.executionId()).allNodes()):
            for m in _seq(node.metrics()):
                if m.name() == _PY_EVAL:
                    v = metrics.get(m.accumulatorId())
                    if v.isDefined():
                        total += _metric_ms(v.get())
        mine[0].python_eval_ms += total  # once per execution, on its first job
    return sorted(out.values(), key=lambda j: j.job_id)


def attribute(tracer: Tracer, jobs: list[JobStat]) -> dict[int, int | None]:
    """job id -> index of the innermost span holding its submission time."""
    out: dict[int, int | None] = {}
    for j in jobs:
        best = None
        for i, s in enumerate(tracer.spans):
            if s.start <= j.submitted <= s.end and (
                best is None or s.start >= tracer.spans[best].start
            ):
                best = i
        out[j.job_id] = best
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning milliseconds of an executed DataFrame."""
    phases = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[kv._1()] = float(kv._2().durationMs())
    return phases


class StreamProgress:
    """``StreamingQueryListener`` that keeps each micro-batch's durationMs."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                t = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
                batches.append({"t": t, "batch": p.batchId, "durationMs": dict(p.durationMs)})

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)
