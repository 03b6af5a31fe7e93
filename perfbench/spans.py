"""Spans for the traced run, recorded from the benchmark's side only.

A span is a Spark job group set around one call into the program's
public API (``CheckpointManager.materialize`` for a pipeline stage,
``QUERIES[name]`` for a catalog query). Every job the call launches
carries the group, so the span's Spark work is read back afterwards
from the application status store (jobs -> stages -> task time,
shuffle, spill) and the SQL status store (Python worker time). Both
stores are filled with ``spark.ui.enabled=false`` too.

Metrics are resolved after the operation, outside its timed region,
so the traced wall time carries only the job-group bookkeeping.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_GROUP_KEY = "spark.jobGroup.id"
_DESC_KEY = "spark.job.description"
#: SQL metric that holds the wall time tasks spent in Python workers
_PYTHON_RUN_METRIC = "time to run Python workers"
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_DURATION = re.compile(r"([0-9.]+) (ms|s|m|h)\b")


@dataclass
class Span:
    name: str
    group: str
    wall_s: float
    stats: dict[str, float] = field(default_factory=dict)


def _total_seconds(formatted: str) -> float:
    """Seconds in a formatted SQL timing metric: either a bare duration
    ("25 ms") or "total (min, med, max ...)\\n<total> (...)"."""
    m = _DURATION.search(formatted.rsplit("\n", 1)[-1])
    return float(m.group(1)) * _UNIT_S[m.group(2)] if m else 0.0


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class Tracer:
    """Collects spans for one operation; ``resolve`` attaches each
    span's Spark stage metrics once the operation has finished."""

    def __init__(self, spark, cores: int) -> None:
        self.spark = spark
        self.cores = cores
        self.spans: list[Span] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        prev = (sc.getLocalProperty(_GROUP_KEY), sc.getLocalProperty(_DESC_KEY))
        group = f"perfbench-{next(self._ids)}-{name}"
        sc.setLocalProperty(_GROUP_KEY, group)
        sc.setLocalProperty(_DESC_KEY, name)
        t0 = time.monotonic()
        try:
            yield
        finally:
            self.spans.append(Span(name, group, time.monotonic() - t0))
            sc.setLocalProperty(_GROUP_KEY, prev[0])
            sc.setLocalProperty(_DESC_KEY, prev[1])

    def resolve(self) -> list[Span]:
        """Fill ``stats`` of every recorded span and hand them over."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = {sp.group: sc.statusTracker().getJobIdsForGroup(sp.group)
                for sp in self.spans}
        python_s = self._python_seconds_by_job(
            {j for ids in jobs.values() for j in ids})
        for sp in self.spans:
            task_ms = shuffle = spill = 0
            py = 0.0
            for job_id in jobs[sp.group]:
                py += python_s.get(job_id, 0.0)
                for stage_id in _scala_iter(store.job(job_id).stageIds()):
                    sd = store.lastStageAttempt(stage_id)
                    task_ms += sd.executorRunTime()
                    shuffle += sd.shuffleWriteBytes()
                    spill += sd.diskBytesSpilled()
            task_s = task_ms / 1000.0
            sp.stats = {
                "task_s": task_s,
                "shuffle_bytes": float(shuffle),
                "spill_bytes": float(spill),
                "python_s": py,
                "util": task_s / (sp.wall_s * self.cores) if sp.wall_s else 0.0,
            }
        spans, self.spans = self.spans, []
        return spans

    def _python_seconds_by_job(self, wanted: set[int]) -> dict[int, float]:
        """Python worker run time per SQL execution that ran any of the
        ``wanted`` jobs, keyed by the first such job (an execution's
        metrics are totals, so they are counted once)."""
        sql = self.spark._jsparkSession.sharedState().statusStore()
        out: dict[int, float] = {}
        # a nested execution (a write's inner query) repeats its parent's
        # plan metrics: count every accumulator once
        seen: set[int] = set()
        for ex in _scala_iter(sql.executionsList()):
            ours = wanted.intersection(_scala_iter(ex.jobs().keys()))
            if not ours:
                continue
            values = sql.executionMetrics(ex.executionId())
            total = 0.0
            for m in _scala_iter(ex.metrics()):
                acc = m.accumulatorId()
                if m.name() == _PYTHON_RUN_METRIC and acc not in seen:
                    seen.add(acc)
                    v = values.get(acc)
                    if v.isDefined():
                        total += _total_seconds(v.get())
            if total:
                out[min(ours)] = total
        return out
