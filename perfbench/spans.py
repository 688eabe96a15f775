"""In-memory spans around the engine's public calls, plus Spark task metrics
per span read from the Spark driver's status store.

A span sets its own Spark job group, so every job it (or nothing nested in
it) submits is attributed to it. After a rep, ``layer_metrics`` reads the
status store (``jobsList`` -> ``lastStageAttempt`` / ``taskSummary``) and
folds spans into layers by self time. A span may name a ``minus`` span:
a prefix of its work that the traced rep also ran as its own noop-sink
action, whose wall time and task metrics are subtracted from it.

With tracing off every span is a no-op, so untraced reps pay nothing.
"""

from __future__ import annotations

import contextlib
import itertools
import statistics
import time
from dataclasses import dataclass, field

LAYERS = ("skew", "fused", "plan", "join", "io", "featuregen", "checkpoint", "cache")
# Status-store stage fields summed per span: (metric suffix, getter, scale).
_STAGE_FIELDS = (
    ("cpu_s", lambda s: s.executorCpuTime(), 1e-9),
    ("gc_s", lambda s: s.jvmGcTime(), 1e-3),
    ("shuffle_write_mb", lambda s: s.shuffleWriteBytes(), 1 / 2**20),
    ("shuffle_read_mb", lambda s: s.shuffleReadBytes(), 1 / 2**20),
    ("spill_mb", lambda s: s.memoryBytesSpilled() + s.diskBytesSpilled(), 1 / 2**20),
    ("input_mb", lambda s: s.inputBytes(), 1 / 2**20),
    ("output_mb", lambda s: s.outputBytes(), 1 / 2**20),
    ("tasks", lambda s: s.numTasks(), 1),
    ("failed_tasks", lambda s: s.numFailedTasks(), 1),
)
FIELDS = ("wall_s", "busy", "task_skew") + tuple(f for f, _, _ in _STAGE_FIELDS)


@dataclass
class Span:
    sid: str
    layer: str
    parent: str | None
    t0: float
    t1: float = 0.0
    minus: str | None = None
    metrics: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    @contextlib.contextmanager
    def span(self, layer: str, minus: str | None = None):
        """Yields the span id (None when tracing is off)."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(f"span-{next(self._ids)}", layer, parent and parent.sid,
                 time.perf_counter(), minus=minus)
        self.spans.append(s)
        self._stack.append(s)
        sc.setJobGroup(s.sid, layer)
        try:
            yield s.sid
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.sid, parent.layer)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def _collect_task_metrics(self) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        gw = self.spark.sparkContext._gateway
        store = jsc.statusStore()
        by_sid = {s.sid: s for s in self.spans}
        for s in self.spans:
            s.metrics = {f: 0.0 for f, _, _ in _STAGE_FIELDS}
            s.metrics["_widest"] = (0, 0, 0)  # (tasks, stage id, attempt)
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        jobs = store.jobsList(None)
        for i in range(jobs.size()):
            job = jobs.apply(i)
            grp = job.jobGroup()
            s = by_sid.get(grp.get()) if grp.isDefined() else None
            if s is None:
                continue
            stage_ids = job.stageIds()
            for j in range(stage_ids.size()):
                stage = store.lastStageAttempt(stage_ids.apply(j))
                for f, get, scale in _STAGE_FIELDS:
                    s.metrics[f] += get(stage) * scale
                if stage.numTasks() > s.metrics["_widest"][0] and str(stage.status()) == "COMPLETE":
                    s.metrics["_widest"] = (stage.numTasks(), stage.stageId(), stage.attemptId())
        for s in self.spans:
            widest = s.metrics.pop("_widest")
            s.metrics["task_skew"] = 0.0
            if widest[0]:
                summ = store.taskSummary(widest[1], widest[2], quant)
                if summ.isDefined():
                    rt = summ.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    s.metrics["task_skew"] = mx / med if med > 0 else 1.0

    def layer_metrics(self, cores: int) -> dict[str, float]:
        """Per-layer self time and task metrics of the spans recorded so far."""
        self._collect_task_metrics()
        by_sid = {s.sid: s for s in self.spans}
        child_wall: dict[str, float] = {}
        for s in self.spans:
            if s.parent:
                child_wall[s.parent] = child_wall.get(s.parent, 0.0) + (s.t1 - s.t0)
        out = {f"{layer}.{f}": 0.0 for layer in LAYERS for f in FIELDS}
        skews: dict[str, list] = {}
        for s in self.spans:
            wall = s.t1 - s.t0 - child_wall.get(s.sid, 0.0)
            m = dict(s.metrics)
            if s.minus:
                pre = by_sid[s.minus]
                wall -= pre.t1 - pre.t0
                for f, _, _ in _STAGE_FIELDS:
                    m[f] = max(0.0, m[f] - pre.metrics[f])
            out[f"{s.layer}.wall_s"] += max(0.0, wall)
            for f, _, _ in _STAGE_FIELDS:
                out[f"{s.layer}.{f}"] += m[f]
            if m["task_skew"]:
                skews.setdefault(s.layer, []).append((m["tasks"], m["task_skew"]))
        for layer in LAYERS:
            w = out[f"{layer}.wall_s"]
            out[f"{layer}.busy"] = out[f"{layer}.cpu_s"] / (w * cores) if w > 0 else 0.0
            if layer in skews:
                out[f"{layer}.task_skew"] = max(skews[layer])[1]
        out.update(self.counts)
        return out

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()


def median_of(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
