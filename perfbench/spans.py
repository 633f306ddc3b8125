"""Spans around the benchmark's calls into the engine, and the Spark work
attributed to them.

A span has a name ``<layer>.<what>``, start and end times, the span that
encloses it, and the id of the operation it belongs to. Spans are kept in
memory; :func:`self_times` derives each layer's self time from them.

When tracing is on, each leaf span runs under its own Spark job group, so
the jobs it launches can be found in Spark's status store afterwards.
Jobs launched on threads that do not carry the group (streaming
micro-batches) are attributed by submission time to the innermost span
open at that moment. The status store is read by :meth:`Tracer.harvest`,
between passes, never inside a timed pass.

With tracing off, :meth:`Tracer.span` does nothing but yield.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    op_id: int | None
    parent: int | None
    start: float  # time.perf_counter()
    end: float = 0.0
    wall_start_ms: float = 0.0  # epoch ms, for job attribution
    wall_end_ms: float = 0.0
    group: str | None = None
    attrs: dict = field(default_factory=dict)
    jobs: list[int] = field(default_factory=list)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class StageTotals:
    """Sums over the non-skipped stages of a set of jobs."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_s: float = 0.0
    jvm_cpu_s: float = 0.0
    input_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    scan_time_s: float = 0.0

    def add(self, other: "StageTotals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class Tracer:
    def __init__(self, spark=None, enabled: bool = False):
        self.sc = spark.sparkContext if spark is not None else None
        self._jspark = spark._jsparkSession if spark is not None else None
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_job = 0
        self._next_exec = 0
        self._groups = 0

    @contextmanager
    def span(self, name: str, op_id: int | None = None, jobs: bool = True, **attrs):
        """Record one span; with ``jobs`` its Spark jobs get their own
        job group."""
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op_id, parent, 0.0, attrs=dict(attrs))
        self.spans.append(sp)
        self._stack.append(idx)
        prev_group = None
        if jobs and self.sc is not None:
            self._groups += 1
            sp.group = f"perfbench-{self._groups}"
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setLocalProperty("spark.jobGroup.id", sp.group)
        sp.wall_start_ms = time.time() * 1000.0
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            sp.wall_end_ms = time.time() * 1000.0
            if sp.group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev_group)
            self._stack.pop()

    def skip_past_jobs(self) -> None:
        """Ignore every job and SQL execution that already exists."""
        if not self.enabled:
            return
        self._wait_listener()
        while self._job(self._next_job) is not None:
            self._next_job += 1
        ex = self._executions()
        if ex:
            self._next_exec = max(ex) + 1

    # -- status store ------------------------------------------------------

    def _wait_listener(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _sql_store(self):
        return self._jspark.sharedState().statusStore()

    def _job(self, job_id: int):
        try:
            return self._store().job(job_id)
        except Exception:  # py4j wraps NoSuchElementException
            return None

    def _executions(self) -> dict:
        """SQL execution id -> java execution data, newer than the cursor."""
        seq = self._sql_store().executionsList()
        out = {}
        for i in range(seq.size()):
            e = seq.apply(i)
            if e.executionId() >= self._next_exec:
                out[e.executionId()] = e
        return out

    def harvest(self, spans: list[Span]) -> dict[int, StageTotals]:
        """Attribute every job launched since the last harvest to one of
        ``spans``; returns per-span totals keyed by span index."""
        self._wait_listener()
        store = self._store()
        by_group = {sp.group: i for i, sp in enumerate(spans) if sp.group}
        per_span: dict[int, StageTotals] = {}
        job_span: dict[int, int] = {}
        seen_stages: set[int] = set()
        while True:
            job = self._job(self._next_job)
            if job is None:
                break
            jid = self._next_job
            self._next_job += 1
            idx = None
            grp = job.jobGroup()
            if grp.isDefined() and grp.get() in by_group:
                idx = by_group[grp.get()]
            else:
                sub = job.submissionTime()
                if sub.isDefined():
                    idx = _innermost(spans, sub.get().getTime())
            if idx is None:
                continue
            job_span[jid] = idx
            spans[idx].jobs.append(jid)
            tot = per_span.setdefault(idx, StageTotals())
            tot.jobs += 1
            stage_ids = job.stageIds()
            for k in range(stage_ids.size()):
                sid = stage_ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # stage never submitted
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                tot.stages += 1
                tot.tasks += st.numCompleteTasks() + st.numFailedTasks()
                tot.run_s += st.executorRunTime() / 1e3
                tot.jvm_cpu_s += st.executorCpuTime() / 1e9
                tot.input_bytes += st.inputBytes()
                tot.shuffle_read_bytes += st.shuffleReadBytes()
                tot.shuffle_write_bytes += st.shuffleWriteBytes()
                tot.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        self._harvest_scan_time(job_span, per_span)
        return per_span

    def _harvest_scan_time(self, job_span, per_span) -> None:
        """Add the SQL "scan time" metric of each execution to the span
        that ran the execution's jobs."""
        sql_store = self._sql_store()
        execs = self._executions()
        for eid, ex in sorted(execs.items()):
            self._next_exec = max(self._next_exec, eid + 1)
            jobs = ex.jobs().keys().toSeq()
            idx = None
            for k in range(jobs.size()):
                idx = job_span.get(int(jobs.apply(k)))
                if idx is not None:
                    break
            if idx is None:
                continue
            acc_ids = []
            metrics = ex.metrics()
            for k in range(metrics.size()):
                m = metrics.apply(k)
                if m.name() == "scan time":
                    acc_ids.append(m.accumulatorId())
            if not acc_ids:
                continue
            values = sql_store.executionMetrics(eid)
            for acc in acc_ids:
                v = values.get(acc)
                if v.isDefined():
                    per_span[idx].scan_time_s += parse_duration_s(v.get())


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_duration_s(text: str) -> float:
    """Total of a Spark SQL timing metric string, in seconds.

    Multi-task values read ``total (min, med, max ...)\\n<total> (...)``;
    single values are just ``<total>``."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _DURATION.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]


def _innermost(spans: list[Span], t_ms: float) -> int | None:
    """Index of the latest-starting leaf-most span open at ``t_ms``."""
    best = None
    for i, sp in enumerate(spans):
        if sp.wall_start_ms <= t_ms <= sp.wall_end_ms:
            if best is None or sp.wall_start_ms >= spans[best].wall_start_ms:
                best = i
    return best


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per layer: the sum over its spans of duration minus the part of
    that interval covered by the span's children."""
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    out: dict[str, float] = {}
    for i, sp in enumerate(spans):
        covered, cur_end = 0.0, sp.start
        for ch in sorted(children.get(i, ()), key=lambda c: c.start):
            lo, hi = max(ch.start, cur_end), min(ch.end, sp.end)
            if hi > lo:
                covered += hi - lo
                cur_end = hi
        out[sp.layer] = out.get(sp.layer, 0.0) + sp.dur - covered
    return out
