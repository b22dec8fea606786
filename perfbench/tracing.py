"""Outside-in tracer: spans around the benchmark's calls into the engine.

A span covers one public call into a ``networkframe_spark`` module plus
the forced materialization of its output, and is named
``<module>.<function>``; its layer is the module part.  While a span is
open the Spark job group is the span id, so every job the call starts
(including AQE and broadcast jobs, which inherit local properties) is
attributed to that span.  Stage metrics are read from the SparkContext's
status store after each timed operation, which works with the UI disabled.

Spans stay in memory and are written out by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = (
    "sources",
    "frame",
    "groupby",
    "algorithms",
    "functions.text",
    "functions.pipeline",
    "functions.dedup",
    "functions.search",
    "functions.similarity",
)
LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("calls", "count", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("failed_tasks", "count", "lower"),
    ("task_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_write_mb", "MB", "lower"),
    ("spill_mb", "MB", "lower"),
    ("core_util", "ratio", "higher"),
)
EXTRA_METRICS = (
    ("session.start_s", "s", "lower"),
    ("functions.dedup.recall", "ratio", "higher"),
    ("functions.similarity.recall_at_10", "ratio", "higher"),
    ("trace.overhead_s", "s", "lower"),
)
PER_LAYER = tuple(
    (f"{layer}.{m}", unit, better) for layer in LAYERS for m, unit, better in LAYER_METRICS
) + EXTRA_METRICS
_COUNTS = ("jobs", "tasks", "failed_tasks", "task_s", "gc_s", "shuffle_write_mb", "spill_mb")
_MB = 1024.0 * 1024.0


@dataclass
class Span:
    id: str
    name: str
    start: float
    parent: str | None
    run_id: str
    timed: bool
    end: float = 0.0
    child_s: float = 0.0
    stats: dict = field(default_factory=dict)

    @property
    def layer(self) -> str | None:
        """Module part of ``<module>.<function>``; None for spans the
        benchmark opens around its own passes and requests."""
        module, _, _ = self.name.rpartition(".")
        return module if module in LAYERS or module == "session" else None

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """Records spans when ``enabled``; otherwise :meth:`span` only runs
    its body, so untraced runs pay nothing but a context manager."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self._seen_stages: set[tuple[int, int]] = set()
        self.sc = None
        self.timed = False
        self.overhead_s = 0.0  # wall time spent in tracer code

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=f"{self.run_id}-{self._next}",
            name=name,
            start=t0,
            parent=parent.id if parent else None,
            run_id=self.run_id,
            timed=self.timed,
        )
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s.id, name)
        t1 = time.perf_counter()
        try:
            yield
        finally:
            t2 = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent.id, parent.name)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            s.end = time.perf_counter()
            if parent is not None:
                parent.child_s += s.end - s.start
            self.overhead_s += (t1 - t0) + (s.end - t2)

    def attach(self, sc) -> None:
        """Start attributing Spark jobs once the context exists."""
        self.sc = sc if self.enabled else None

    def harvest(self) -> None:
        """Read job and stage metrics of every span not yet harvested.

        Waits for the listener bus to drain first, so the status store
        holds every stage the spans' jobs ran."""
        from py4j.protocol import Py4JJavaError

        if self.sc is None:
            return
        t0 = time.perf_counter()
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if s.stats or s.end == 0.0:
                continue
            st = dict.fromkeys(_COUNTS, 0.0)
            for job_id in tracker.getJobIdsForGroup(s.id):
                st["jobs"] += 1
                info = tracker.getJobInfo(job_id)
                for stage_id in info.stageIds if info else ():
                    try:
                        sd = store.lastStageAttempt(stage_id)
                    except Py4JJavaError:  # stage never submitted or evicted
                        continue
                    key = (stage_id, sd.attemptId())
                    if key in self._seen_stages or sd.status().toString() == "SKIPPED":
                        continue
                    self._seen_stages.add(key)
                    st["tasks"] += sd.numCompleteTasks()
                    st["failed_tasks"] += sd.numFailedTasks()
                    st["task_s"] += sd.executorRunTime() / 1000.0
                    st["gc_s"] += sd.jvmGcTime() / 1000.0
                    st["shuffle_write_mb"] += sd.shuffleWriteBytes() / _MB
                    st["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / _MB
            s.stats = st
        self.overhead_s += time.perf_counter() - t0

    def layer_metrics(self, per: int, cores: int) -> dict[str, float]:
        """Per-layer totals for every layer in :data:`LAYERS`.

        A layer called in the timed loop reports its timed spans divided
        by ``per`` (the number of traced passes or requests); a layer
        called only during set-up reports its set-up spans, once per
        run; a layer the workload does not call reads 0."""
        out = {}
        for layer in LAYERS:
            spans = [s for s in self.spans if s.layer == layer and s.timed]
            n = per
            if not spans:
                spans = [s for s in self.spans if s.layer == layer and s.end]
                n = 1
            tot = dict.fromkeys(_COUNTS, 0.0)
            for s in spans:
                for k in _COUNTS:
                    tot[k] += s.stats.get(k, 0.0)
            wall = sum(s.self_s for s in spans)
            out[f"{layer}.wall_s"] = wall / n
            out[f"{layer}.calls"] = len(spans) / n
            for k in _COUNTS:
                out[f"{layer}.{k}"] = tot[k] / n
            out[f"{layer}.core_util"] = tot["task_s"] / (wall * cores) if wall else 0.0
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(asdict(s), layer=s.layer) for s in self.spans], f)
