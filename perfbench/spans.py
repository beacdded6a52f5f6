"""Per-call spans with Spark job counters, recorded from the benchmark's side.

A span wraps one call into the program (plus whatever forces its result). In
a traced run each span tags the Spark jobs it starts with its own job group;
after the run, ``harvest`` reads every job's stages from the status tracker
and the status store and charges them to spans.

Job groups are thread-local, so jobs the program starts from its own threads
(the two write threads inside ``lsh.save``) carry no group. The benchmark has
one client thread, so such a job belongs to the innermost span whose interval
holds its submission time. Each stage is counted once, in the span during
which it was submitted; stages skipped because their shuffle output was
reused have no submission time and count nowhere.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# Slack between the JVM's millisecond clock and Python's time.time().
_CLOCK_SLACK_MS = 5


@dataclass
class Span:
    name: str
    parent: int | None
    group: str
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    busy_s: float = 0.0  # union of stage intervals inside the span

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def gap_s(self) -> float:
        return self.wall_s - self.busy_s


class NullTracer:
    """Untraced runs: spans cost nothing and record nothing."""

    @contextmanager
    def span(self, name: str):
        yield


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.tag_s = 0.0  # time spent setting and clearing job groups

    def _set_group(self, span: Span | None) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return
        t0 = time.perf_counter()
        if span is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(span.group, span.name)
        self.tag_s += time.perf_counter() - t0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name=name, parent=parent, group=f"perfbench-span-{idx}")
        self.spans.append(sp)
        self._stack.append(idx)
        self._set_group(sp)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self.spans[parent] if parent is not None else None)

    def _owner(self, t_ms: float) -> Span | None:
        """Innermost span whose interval holds the epoch-ms instant ``t_ms``."""
        best = None
        for sp in self.spans:
            if sp.start * 1000 - _CLOCK_SLACK_MS <= t_ms <= sp.end * 1000 + _CLOCK_SLACK_MS:
                if best is None or sp.start >= best.start:
                    best = sp
        return best

    def harvest(self, sc) -> float:
        """Charge every recorded job and stage to its span. Returns the
        seconds spent, which is part of the tracing overhead."""
        from py4j.protocol import Py4JError

        t0 = time.perf_counter()
        jsc = sc._jsc.sc()
        try:  # let the listener bus post the last stage completions
            jsc.listenerBus().waitUntilEmpty()
        except Py4JError:  # a private API; a short wait is the fallback
            time.sleep(0.5)
        tracker, store = sc.statusTracker(), jsc.statusStore()
        owners: dict[int, Span] = {}
        for sp in self.spans:
            for jid in tracker.getJobIdsForGroup(sp.group):
                owners[jid] = sp
        for jid in tracker.getJobIdsForGroup(None):
            sub = store.job(jid).submissionTime()
            if sub.isDefined():
                sp = self._owner(sub.get().getTime())
                if sp is not None:
                    owners[jid] = sp
        intervals: dict[int, list[tuple[float, float]]] = {}
        seen_stages: set[int] = set()
        for jid in sorted(owners):
            owners[jid].jobs.append(jid)
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info is not None else ():
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JError:  # the stage was evicted or never ran
                    continue
                if not st.submissionTime().isDefined():
                    continue
                s_ms = st.submissionTime().get().getTime()
                e_ms = (
                    st.completionTime().get().getTime()
                    if st.completionTime().isDefined()
                    else s_ms
                )
                sp = self._owner(s_ms)
                if sp is None:
                    continue
                sp.tasks += st.numCompleteTasks()
                sp.cpu_s += st.executorCpuTime() / 1e9
                sp.shuffle_mb += st.shuffleWriteBytes() / 1e6
                lo, hi = max(s_ms, sp.start * 1000), min(e_ms, sp.end * 1000)
                if hi > lo:
                    intervals.setdefault(id(sp), []).append((lo, hi))
        for sp in self.spans:
            sp.busy_s = _union_ms(intervals.get(id(sp), [])) / 1000
        return time.perf_counter() - t0


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


FIELDS = ("wall_s", "jobs", "tasks", "cpu_s", "shuffle_mb", "gap_s")


def per_call_medians(spans: list[Span], calls: list[str]) -> dict[str, float]:
    """``<call>.<field>`` → median over that call's spans, 0 for a call the
    workload does not make."""
    out = {}
    for call in calls:
        mine = [sp for sp in spans if sp.name == call]
        for f in FIELDS:
            vals = [len(sp.jobs) if f == "jobs" else getattr(sp, f) for sp in mine]
            out[f"{call}.{f}"] = float(statistics.median(vals)) if vals else 0.0
    return out
