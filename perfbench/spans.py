"""In-memory spans and Spark job-group counts for the traced run.

Spans are recorded only from the benchmark's own code, around its calls
into the engine's public functions: one span per pass, one per op inside
it, and a ``build`` and an ``exec`` span inside each op. Spans of one pass
share a trace id (``<workload>#<pass>``). Every build/exec half runs in its
own Spark job group, so the jobs, tasks and executor time it caused are
read back from the Spark driver's status store after the pass, outside the
timed region, and attached to the span.
"""

from __future__ import annotations

import json
import time
from dataclasses import asdict, dataclass, field

#: executor counters summed per job group (from Spark's StageData)
COUNTERS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
)


@dataclass
class Span:
    span_id: int
    name: str
    layer: str
    trace_id: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    counts: dict = field(default_factory=dict)


class Tracer:
    """Collects spans for one run; ``enabled=False`` records nothing and
    sets no job groups, which is the untraced (end-to-end) mode."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def start(self, name: str, layer: str, trace_id: str, group: str | None = None) -> Span | None:
        if not self.enabled:
            return None
        parent = self._stack[-1] if self._stack else None
        span = Span(len(self.spans), name, layer, trace_id, parent, time.perf_counter(), group=group)
        self.spans.append(span)
        self._stack.append(span.span_id)
        if group is not None:
            self.spark.sparkContext.setJobGroup(group, name, interruptOnCancel=False)
        return span

    def end(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = time.perf_counter()
        self._stack.pop()
        if span.group is not None:
            self.spark.sparkContext.setJobGroup("", "")

    def unwind(self, depth: int) -> None:
        """End every open span above the first ``depth`` (after an op raised)."""
        while len(self._stack) > depth:
            self.end(self.spans[self._stack[-1]])

    def attach_groups(self, spans: list[Span], extra_groups: dict[int, list[str]] | None = None) -> None:
        """Fill ``counts`` of every span that ran in a job group. Streaming
        micro-batches run in the query's own group (its run id); callers
        pass those as ``extra_groups`` keyed by span id."""
        from py4j.protocol import Py4JJavaError

        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for span in spans:
            groups = ([span.group] if span.group else []) + (extra_groups or {}).get(span.span_id, [])
            if not groups:
                continue
            c = dict.fromkeys(COUNTERS, 0.0)
            seen: set[int] = set()
            for g in groups:
                for jid in tracker.getJobIdsForGroup(g):
                    info = tracker.getJobInfo(jid)
                    c["jobs"] += 1
                    for sid in info.stageIds if info is not None else ():
                        if sid in seen:
                            continue
                        seen.add(sid)
                        try:
                            st = store.lastStageAttempt(sid)
                        except Py4JJavaError:  # stage never ran or was evicted
                            continue
                        c["tasks"] += int(st.numCompleteTasks())
                        c["executor_run_s"] += st.executorRunTime() / 1e3
                        c["executor_cpu_s"] += st.executorCpuTime() / 1e9
                        c["gc_s"] += st.jvmGcTime() / 1e3
                        c["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                        c["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
            span.counts = c

    def self_time_by_layer(self) -> dict[str, float]:
        """Each span's duration minus the part its children cover, summed
        per layer over the run."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.end - s.start
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - child[s.span_id]
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump(
                {
                    **extra,
                    "self_time_s_by_layer": self.self_time_by_layer(),
                    "spans": [asdict(s) for s in self.spans],
                },
                fh,
            )
