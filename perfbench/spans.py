"""Spans, call wrapping and Spark harvesting for the traced run.

Spans open and close in the benchmark's own code: around each operation
it issues, and — in the traced run only — around public functions of the
engine that it wraps for the duration of one pass and then restores.

Spark work is attributed to a span by job and stage *id range*: the
scheduler hands out ids monotonically, so the jobs a span caused are the
ids issued between its open and its close. Ids are read from the
scheduler and resolved against Spark's in-process status store after the
span closes. Job groups and tags are not used: jobs submitted from a
thread pool lose the submitting thread's tags.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

import stats


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)
    jobs: tuple[int, int] | None = None  # [first, stop) job ids
    stages: tuple[int, int] | None = None  # [first, stop) stage ids


class Tracer:
    """In-memory span recorder for one harness thread."""

    def __init__(self, ids=None) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._ids = ids  # callable -> (next_job_id, next_stage_id), or None

    @contextlib.contextmanager
    def span(self, name: str, layer: str, spark: bool = True, **attrs):
        """Open a span; with ``spark`` it also records the job and stage
        ids issued while it was open (two scheduler reads, so layers that
        run no Spark jobs leave it off)."""
        parent = self._stack[-1] if self._stack else None
        s = Span(name=name, layer=layer, start=time.perf_counter(), parent=parent, attrs=attrs)
        ids0 = self._ids() if self._ids and spark else None
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            if ids0 is not None:
                ids1 = self._ids()
                s.jobs = (ids0[0], ids1[0])
                s.stages = (ids0[1], ids1[1])

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, idx: int) -> float:
        s = self.spans[idx]
        return stats.self_time(s.start, s.end, [(c.start, c.end) for c in self.children(idx)])

    def by_layer(self, layer: str) -> list[tuple[int, Span]]:
        return [(i, s) for i, s in enumerate(self.spans) if s.layer == layer]


def wrap(tracer: Tracer, owner, attr: str, layer: str, on_return=None, spark: bool = False):
    """Replace ``owner.attr`` with a traced wrapper; returns an undo
    callable. ``on_return(span, args, result)`` may record attributes."""
    orig = getattr(owner, attr)

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        with tracer.span(attr, layer, spark) as s:
            out = orig(*args, **kwargs)
            if on_return is not None:
                on_return(s, args, out)
            return out

    setattr(owner, attr, traced)
    return lambda: setattr(owner, attr, orig)


class SparkIds:
    """Next job and stage ids, read from the live scheduler."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def __call__(self) -> tuple[int, int]:
        ds = self._sc.dagScheduler()
        return int(ds.nextJobId()), int(ds.nextStageId())


@dataclass
class JobInfo:
    job_id: int
    submitted_ms: int | None
    completed_ms: int | None


@dataclass
class StageInfo:
    stage_id: int
    tasks: int
    executor_ms: int
    shuffle_write_bytes: int
    input_bytes: int


class StatusHarvester:
    """Resolve id ranges against Spark's status store (works with the UI
    disabled). Entries the store already evicted are counted, not
    guessed."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._jobs: dict[int, JobInfo | None] = {}
        self._stages: dict[int, StageInfo | None] = {}
        self.evicted_jobs = 0
        self.evicted_stages = 0

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        store reflects jobs that already returned to the caller."""
        self._sc.listenerBus().waitUntilEmpty(30_000)

    def job(self, jid: int) -> JobInfo | None:
        if jid not in self._jobs:
            try:
                j = self._sc.statusStore().job(jid)
            except Exception:  # evicted: NoSuchElementException through py4j
                self.evicted_jobs += 1
                self._jobs[jid] = None
            else:
                sub, comp = j.submissionTime(), j.completionTime()
                self._jobs[jid] = JobInfo(
                    job_id=jid,
                    submitted_ms=sub.get().getTime() if sub.isDefined() else None,
                    completed_ms=comp.get().getTime() if comp.isDefined() else None,
                )
        return self._jobs[jid]

    def stage(self, sid: int) -> StageInfo | None:
        if sid not in self._stages:
            try:
                s = self._sc.statusStore().lastStageAttempt(sid)
            except Exception:
                self.evicted_stages += 1
                self._stages[sid] = None
            else:
                if s.status().toString() == "SKIPPED":
                    self._stages[sid] = None
                else:
                    self._stages[sid] = StageInfo(
                        stage_id=sid,
                        tasks=int(s.numCompleteTasks()) + int(s.numFailedTasks()),
                        executor_ms=int(s.executorRunTime()),
                        shuffle_write_bytes=int(s.shuffleWriteBytes()),
                        input_bytes=int(s.inputBytes()),
                    )
        return self._stages[sid]

    def spark_metrics(self, span: Span, cores: int, wall_offset: float) -> dict:
        """Spark cost of one span. ``wall_offset`` maps the span's
        perf_counter clock onto epoch seconds, the clock of the store's
        job timestamps."""
        if span.jobs is None:
            return {}
        jobs = [self.job(j) for j in range(*span.jobs)]
        stages = [self.stage(s) for s in range(*span.stages)]
        run = [s for s in stages if s is not None]
        lo, hi = span.start + wall_offset, span.end + wall_offset
        busy = [
            (j.submitted_ms / 1000.0, (j.completed_ms or j.submitted_ms) / 1000.0)
            for j in jobs
            if j is not None and j.submitted_ms is not None
        ]
        wall = span.end - span.start
        executor_s = sum(s.executor_ms for s in run) / 1000.0
        tasks = sum(s.tasks for s in run)
        return {
            "wall_s": wall,
            "jobs": span.jobs[1] - span.jobs[0],
            "stages": len(run),
            "tasks": tasks,
            "tasks_per_stage": tasks / len(run) if run else 0.0,
            "executor_s": executor_s,
            "utilization": executor_s / (wall * cores) if wall > 0 else 0.0,
            "driver_gap_s": max(0.0, wall - stats.covered(busy, lo, hi)),
            "shuffle_write_mb": sum(s.shuffle_write_bytes for s in run) / 1e6,
            "input_mb": sum(s.input_bytes for s in run) / 1e6,
        }


def sum_metrics(rows: list[dict]) -> dict:
    """Add per-span Spark metrics; ratios are recomputed by the caller."""
    out: dict[str, float] = {}
    for r in rows:
        for k, v in r.items():
            out[k] = out.get(k, 0.0) + v
    return out


class StreamProgress:
    """Collects ``StreamingQueryProgress`` events through a listener the
    benchmark registers for the traced run."""

    def __init__(self) -> None:
        self.started: list[str] = []
        self.progress: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        rec = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                rec.started.append(str(event.runId))

            def onQueryProgress(self, event):
                p = event.progress
                rec.progress.append(
                    {
                        "run_id": str(p.runId),
                        "batch_id": p.batchId,
                        "input_rows": p.numInputRows,
                        "duration_ms": dict(p.durationMs),
                    }
                )

            def onQueryTerminated(self, event):
                pass

        return _Listener()

    def metrics(self) -> dict:
        trig = [p["duration_ms"].get("triggerExecution", 0) / 1000.0 for p in self.progress]

        def phase(key: str) -> float:
            return sum(p["duration_ms"].get(key, 0) for p in self.progress) / 1000.0

        return {
            "stream.queries": len(self.started),
            "stream.triggers": len(self.progress),
            "stream.input_rows": sum(p["input_rows"] for p in self.progress),
            "stream.trigger_p50_s": stats.percentile(trig, 50.0) if trig else 0.0,
            "stream.trigger_max_s": max(trig) if trig else 0.0,
            "stream.addbatch_s": phase("addBatch"),
            "stream.walcommit_s": phase("walCommit"),
            "stream.commit_s": phase("commitOffsets"),
            "stream.planning_s": phase("queryPlanning"),
            "stream.latest_offset_s": phase("latestOffset"),
        }
