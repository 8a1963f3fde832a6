"""Spans around the benchmark's calls into each layer, and a streaming
fold of Spark's event log into per-job-group execution totals.

Spans are kept in memory and written once, as JSON, when the run ends.
Each span has a name, start and end (seconds since the run began), the
index of its parent span and the run id. A disabled tracer still times
every span, so untraced runs measure the same regions, but keeps none.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool, t0: float) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.t0 = t0
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter() - self.t0, parent=parent,
                 attrs=attrs)
        if self.enabled:
            self.spans.append(s)
            self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter() - self.t0
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "run_id": self.run_id,
                    "spans": [
                        {"name": s.name, "start": round(s.start, 6),
                         "end": round(s.end, 6), "parent": s.parent,
                         "run_id": self.run_id, **s.attrs}
                        for s in self.spans
                    ],
                },
                f,
            )


#: Stage accumulables folded per job group, with the unit divisor that
#: turns each into seconds or MB.
_STAGE_METRICS = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**20),
    # Arrow/pandas UDF SQL metrics of the Python-evaluating operators
    "data sent to Python workers": ("python_mb", 2**20),
    "data returned from Python workers": ("python_mb", 2**20),
}

EXEC_FIELDS = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
               "shuffle_write_mb", "spill_mb", "python_mb")


def fold_event_log(paths: list[str]) -> dict[str, dict[str, float]]:
    """Per job group: completed stages, their tasks and the summed stage
    metrics of :data:`_STAGE_METRICS`.

    The log is read a line at a time and only job-start and
    stage-completed events are decoded; task events, most of the file,
    are skipped on a prefix test.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    for line in _lines(paths):
        head = line[:48]
        if '"SparkListenerJobStart"' in head:
            ev = json.loads(line)
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            if group is not None:
                for sid in ev.get("Stage IDs", ()):
                    stage_group[sid] = group
        elif '"SparkListenerStageCompleted"' in head:
            info = json.loads(line)["Stage Info"]
            group = stage_group.get(info["Stage ID"])
            if group is None or info.get("Failure Reason"):
                continue
            rec = out.setdefault(group, dict.fromkeys(EXEC_FIELDS, 0.0))
            rec["stages"] += 1
            rec["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", ()):
                hit = _STAGE_METRICS.get(acc.get("Name"))
                if hit is not None:
                    try:
                        rec[hit[0]] += float(acc["Value"]) / hit[1]
                    except (KeyError, TypeError, ValueError):
                        pass
    return out


def _lines(paths: list[str]):
    for path in paths:
        with open(path) as f:
            yield from f
