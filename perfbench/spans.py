"""Spans around calls into the program's layers, with Spark job stats.

The tracer never edits the package: ``install`` swaps public functions
for wrappers in the namespaces the engine calls them from, and
``uninstall`` puts them back. Every span runs under its own Spark job
group, so the jobs a span fires are the jobs of that group; their
stages and tasks come from ``statusTracker`` and their executor times,
shuffle bytes, spill and stage wait from the status store. Work a lazy
builder defers runs inside a later action and is counted in that
action's span.

One deferred span is opened on purpose: ``DistCpPlusEngine.execute``
materializes the lazily built copy (``execute_copy``'s result) in its
own ``count()``. That action runs from the return of ``execute_copy``
to the call of ``cleanup_tmp``, and is recorded as the copier span
``copier.run``.

Spans stay in memory; ``Tracer.dump`` writes them when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

import distcpplus_spark.engine as engine_mod
from distcpplus_spark.engine import DistCpPlusEngine


@dataclass
class Span:
    name: str
    layer: str
    group: str
    start: float
    end: float = 0.0
    deferred: bool = False
    children: list[Span] = field(default_factory=list)
    stats: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - sum(c.duration for c in self.children)

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()

    def to_json(self, t0: float) -> dict:
        return {
            "name": self.name,
            "layer": self.layer,
            "start_s": round(self.start - t0, 6),
            "end_s": round(self.end - t0, 6),
            "self_s": round(self.self_s, 6),
            **self.stats,
            "children": [c.to_json(t0) for c in self.children],
        }


STAT_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "stage_wait_s", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
)

# (namespace, attribute, layer, deferred span opened on return)
WRAPPED = (
    (engine_mod, "list_tree", "lister", None),
    (engine_mod, "plan_updates", "copy_plan", None),
    (engine_mod, "check_duplicates_and_total", "copy_plan", None),
    (engine_mod, "assign_cost_buckets", "copy_plan", None),
    (engine_mod, "plan_mirror_delete", "copy_plan", None),
    (engine_mod, "execute_copy", "copier", "copier.run"),
    (engine_mod, "finalize_dir_attrs", "copier", None),
    (engine_mod, "cleanup_tmp", "copier", None),
    (engine_mod, "counters", "engine", None),
    (DistCpPlusEngine, "plan", "engine", None),
    (DistCpPlusEngine, "execute", "engine", None),
    (DistCpPlusEngine, "_execute_deletes", "engine", None),
)


class Tracer:
    """Span recorder for one Spark context. ``enabled`` switches
    recording per operation, so one process can time traced and
    untraced operations alike."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.enabled = False
        self.roots: list[Span] = []
        self.stack: list[Span] = []
        self._seq = 0
        # job groups must not repeat across tracers of one session
        self._prefix = f"perfbench-{uuid.uuid4().hex[:8]}"
        self._saved: list[tuple] = []
        # last return value of each wrapped call, by span name
        self.results: dict = {}
        self.t0 = time.perf_counter()

    # -- spans ---------------------------------------------------------
    def _open(self, name: str, layer: str, deferred: bool = False) -> Span:
        self._seq += 1
        parent = self.stack[-1] if self.stack else None
        span = Span(name, layer, f"{self._prefix}-{self._seq}",
                    time.perf_counter(), deferred=deferred)
        (parent.children if parent else self.roots).append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span.group, name)
        return span

    def _close(self) -> None:
        span = self.stack.pop()
        span.end = time.perf_counter()
        if self.stack:
            top = self.stack[-1]
            self.sc.setJobGroup(top.group, top.name)
        else:
            self.sc._jsc.sc().clearJobGroup()

    def _close_deferred(self) -> None:
        if self.stack and self.stack[-1].deferred:
            self._close()

    def span(self, name: str, layer: str):
        return _SpanCtx(self, name, layer)

    # -- wrappers ------------------------------------------------------
    def install(self) -> None:
        for ns, attr, layer, deferred in WRAPPED:
            fn = getattr(ns, attr)
            self._saved.append((ns, attr, fn))
            setattr(ns, attr, self._wrap(fn, f"{layer}.{attr}", layer, deferred))

    def uninstall(self) -> None:
        for ns, attr, fn in reversed(self._saved):
            setattr(ns, attr, fn)
        self._saved.clear()

    def _wrap(self, fn, name: str, layer: str, deferred: str | None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                out = fn(*args, **kwargs)
            self.results[name] = out
            if deferred:
                self._open(deferred, layer, deferred=True)
            return out

        return wrapper

    # -- job statistics ------------------------------------------------
    def harvest(self, root: Span) -> None:
        """Fill ``stats`` of every span under ``root`` from the jobs of
        its group. Call after the operation, outside the timed region."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for span in root.walk():
            span.stats = _group_stats(tracker, store, span.group)

    def stage_run_s(self, stage_id: int) -> float:
        """Executor run time of one stage, summed over its tasks."""
        store = self.sc._jsc.sc().statusStore()
        return store.lastStageAttempt(stage_id).executorRunTime() / 1e3

    def stage_task_run_max(self, stage_id: int) -> float:
        """Executor run time in seconds of one stage's slowest task."""
        store = self.sc._jsc.sc().statusStore()
        sd = store.lastStageAttempt(stage_id)
        gw = self.sc._gateway
        qs = gw.new_array(gw.jvm.double, 1)
        qs[0] = 1.0
        dist = store.taskSummary(stage_id, sd.attemptId(), qs)
        if not dist.isDefined():
            return 0.0
        return dist.get().executorRunTime().apply(0) / 1e3

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {**extra, "spans": [r.to_json(self.t0) for r in self.roots]},
                f, indent=1,
            )


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, layer: str):
        self.tracer, self.name, self.layer = tracer, name, layer
        self.span: Span | None = None

    def __enter__(self) -> Span | None:
        t = self.tracer
        if t.enabled:
            t._close_deferred()
            self.span = t._open(self.name, self.layer)
        return self.span

    def __exit__(self, *exc) -> None:
        if self.span is not None:
            self.tracer._close_deferred()
            self.tracer._close()


def _group_stats(tracker, store, group: str) -> dict:
    out = dict.fromkeys(STAT_KEYS, 0)
    out["stage_ids"] = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        for sid in info.stageIds:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            if sd.numCompleteTasks() == 0 and sd.numTasks() > 0:
                continue
            out["stage_ids"].append(sid)
            out["stages"] += 1
            out["tasks"] += sd.numCompleteTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sub, first = sd.submissionTime(), sd.firstTaskLaunchedTime()
            if sub.isDefined() and first.isDefined():
                out["stage_wait_s"] += max(
                    0, first.get().getTime() - sub.get().getTime()) / 1e3
    return out
