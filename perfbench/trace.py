"""In-memory spans and Spark-side counters for the traced run.

Spans are recorded by the benchmark around calls into the program's
public functions; nothing inside ``debias_spark`` is instrumented.  A
span is ``(name, start, end, parent index, operation id)``.  A layer's
self time is its spans' durations minus the time covered by their child
spans.  Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

from pyspark.accumulators import AccumulatorParam
from pyspark.sql.streaming import StreamingQueryListener

from debias_spark.annotate.lexicon import LexiconClient


class Tracer:
    """Span recorder; every method is a no-op while ``enabled`` is false."""

    def __init__(self) -> None:
        self.enabled = False
        self.op_id: int | None = None
        self.spans: list[list] = []
        self.counts: Counter = Counter()
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = [name, time.perf_counter(), None, self._stack[-1] if self._stack else None, self.op_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counts[name] += n

    def self_times(self) -> dict[str, float]:
        """Seconds per span name, minus the time covered by child spans."""
        child = defaultdict(float)
        for _, start, end, parent, _ in self.spans:
            if parent is not None:
                child[parent] += end - start
        out: Counter = Counter()
        for i, (name, start, end, _, _) in enumerate(self.spans):
            out[name] += (end - start) - child[i]
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    "fields": ["name", "start", "end", "parent", "op"],
                    "spans": self.spans,
                    "counts": dict(self.counts),
                },
                fh,
            )


class _TupleSum(AccumulatorParam):
    def zero(self, value):
        return (0, 0, 0.0, 0)

    def addInPlace(self, a, b):
        return tuple(x + y for x, y in zip(a, b))


def annotate_accumulator(sc):
    """(client calls, records, client seconds, failed calls), summed over
    every executor task."""
    return sc.accumulator((0, 0, 0.0, 0), _TupleSum())


class CountingClient:
    """``LexiconClient`` that adds each call to an accumulator.  Built on
    the executor by ``AnnotateConfig.client_factory``."""

    def __init__(self, acc) -> None:
        self._acc = acc
        self._inner = LexiconClient()
        self.use_ner = True
        self.use_llm = False

    def __call__(self, values: list[str], language: str) -> dict:
        start, failed = time.perf_counter(), 1
        try:
            out = self._inner(values, language)
            failed = 0
            return out
        finally:
            self._acc.add((1, len(values), time.perf_counter() - start, failed))


class TriggerListener(StreamingQueryListener):
    """Collects per-trigger ``durationMs`` phases and the run ids (which are
    the job groups of the micro-batch jobs) of queries started in an
    operation."""

    def __init__(self) -> None:
        self.run_ids: list[str] = []
        self.triggers = 0
        self.phase_ms: Counter = Counter()

    def onQueryStarted(self, event) -> None:
        self.run_ids.append(str(event.runId))

    def onQueryProgress(self, event) -> None:
        self.triggers += 1
        for phase, ms in (event.progress.durationMs or {}).items():
            self.phase_ms[phase] += ms

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def drain_listener_bus(sc) -> None:
    """Wait until Spark's listener bus has delivered every queued event, so
    the status store and the streaming listener are complete."""
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def stage_metrics(sc, groups: list[str], build_end: float) -> dict:
    """Jobs, stages and task metrics of every job in ``groups``, read from
    Spark's status store (works with the UI off).  ``build_jobs`` counts
    the jobs submitted before ``build_end`` (epoch seconds)."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = sorted({j for g in groups for j in tracker.getJobIdsForGroup(g)})
    stage_ids = set()
    m = Counter(jobs=len(jobs), build_jobs=0)
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
        submitted = store.job(j).submissionTime()
        if submitted.isDefined() and submitted.get().getTime() <= build_end * 1e3:
            m["build_jobs"] += 1
    spans = []
    for sid in sorted(stage_ids):
        try:
            sd = store.lastStageAttempt(sid)
        except Exception:  # py4j error for a stage the store never saw
            continue
        if str(sd.status()) == "SKIPPED":
            continue
        m["stages"] += 1
        m["tasks"] += sd.numCompleteTasks()
        m["task_s"] += sd.executorRunTime() / 1e3
        m["task_cpu_s"] += sd.executorCpuTime() / 1e9
        m["shuffle_read_mb"] += (sd.shuffleRemoteBytesRead() + sd.shuffleLocalBytesRead()) / 1e6
        m["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        m["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
        sub, done = sd.submissionTime(), sd.completionTime()
        if sub.isDefined() and done.isDefined():
            spans.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
    m["stage_wall_s"] = _covered(spans)
    return dict(m)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``: the time at least one stage
    ran, the critical path of an operation's stages."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total
