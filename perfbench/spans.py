"""Per-layer spans recorded from outside the program.

The span run wraps the public functions of each layer (the module attributes
its callers look up at call time) in timers, and tags every Spark job with
the operation, phase and innermost layer that launched it through the job
group property.  Nothing under ``python_dtl_spark/`` changes: wrappers are
installed before a spanned pass and removed after it, so plain passes run
the program's own functions.

Self time of a layer is its span's duration minus the part covered by the
child spans of other wrapped calls.  Jobs go to the innermost layer whose
span was open when the job started; Spark counters (stages, tasks, executor
time, shuffle and spill) are read from the status store per job group after
the operation ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import os
import time
from collections import Counter

JOB_GROUP = "spark.jobGroup.id"

#: Spark counters read per operation (status store ``StageData`` getters).
STAGE_COUNTERS = {
    "spark.tasks": "numTasks",
    "spark.executor_run_ms": "executorRunTime",
    "spark.shuffle_read_bytes": "shuffleReadBytes",
    "spark.shuffle_write_bytes": "shuffleWriteBytes",
    "spark.spill_bytes": "diskBytesSpilled",
}


def dir_bytes(path: str) -> int:
    """Total size of the files under ``path`` (0 when it does not exist)."""
    total = 0
    for base, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(base, name))
    return total


class Spans:
    """Span recorder for one Spark session.

    ``wrap``/``replace`` patch callables in place until ``uninstall``;
    ``begin_op``/``end_op`` bracket one operation and return its per-layer
    numbers.  Outside an operation the wrappers call straight through.
    """

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._patches: list[tuple[object, str, object]] = []
        self.op: str | None = None
        self._phase = "run"
        self._stack: list[list] = []
        self._group: str | None = None
        self.values: Counter = Counter()
        self.frames: list = []  # DataFrames whose Catalyst phases are read
        self._tags: set[str] = set()

    # -- installation ---------------------------------------------------------

    def wrap(self, owner, attr: str, layer: str) -> None:
        """Replace ``owner.attr`` with a timed wrapper attributed to
        ``layer``; ``uninstall`` restores the original."""
        fn = inspect.getattr_static(owner, attr)
        spans = self

        @functools.wraps(fn)
        def timed(*args, **kwargs):
            with spans.layer(layer):
                return fn(*args, **kwargs)

        self.replace(owner, attr, timed)

    def replace(self, owner, attr: str, value) -> None:
        """Set ``owner.attr`` to ``value`` until ``uninstall``."""
        self._patches.append((owner, attr, inspect.getattr_static(owner, attr)))
        setattr(owner, attr, value)

    def wrap_module(self, module, layer: str) -> None:
        """Wrap every public function defined in ``module``."""
        for name, obj in list(vars(module).items()):
            if (
                not name.startswith("_")
                and inspect.isfunction(obj)
                and obj.__module__ == module.__name__
            ):
                self.wrap(module, name, layer)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._patches):
            setattr(owner, attr, fn)
        self._patches.clear()

    # -- spans ----------------------------------------------------------------

    def _set_group(self, layer: str) -> None:
        tag = f"{self.op}|{self._phase}|{layer}"
        if tag != self._group:
            self.sc.setLocalProperty(JOB_GROUP, tag)
            self._group = tag
            self._tags.add(tag)

    def _current_layer(self) -> str:
        return self._stack[-1][0] if self._stack else "other"

    @contextlib.contextmanager
    def layer(self, layer: str):
        """A span of ``layer``: self time, and the layer part of every job
        tag started inside."""
        if self.op is None:
            yield
            return
        frame = [layer, time.perf_counter(), 0.0]
        parent = self._current_layer()
        self._stack.append(frame)
        self._set_group(layer)
        try:
            yield
        finally:
            dt = time.perf_counter() - frame[1]
            self._stack.pop()
            self.values[f"{layer}.self_s"] += dt - frame[2]
            if self._stack:
                self._stack[-1][2] += dt
            self._set_group(parent)

    @contextlib.contextmanager
    def phase(self, name: str):
        """An operation-level phase (``construct``, ``action``): inclusive
        wall time, and the phase part of every job tag started inside."""
        if self.op is None:
            yield
            return
        prev, self._phase = self._phase, name
        self._set_group(self._current_layer())
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.values[f"{name}.s"] += time.perf_counter() - t0
            self._phase = prev
            self._set_group(self._current_layer())

    def add(self, key: str, value: float) -> None:
        if self.op is not None:
            self.values[key] += value

    # -- operations -----------------------------------------------------------

    def begin_op(self, op: str) -> None:
        self.op = op
        self._phase = "run"
        self._stack = []
        self._group = None
        self._tags = set()
        self.values = Counter()
        self.frames = []
        self._set_group("other")

    def end_op(self) -> Counter:
        """Close the operation: clear the job group and fold job counts and
        Spark stage counters into the returned per-layer values."""
        self.sc.setLocalProperty(JOB_GROUP, None)
        self.op = None
        values = self.values
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        stages: set[int] = set()
        for tag in self._tags:
            _op, phase, layer = tag.split("|")
            jobs = list(tracker.getJobIdsForGroup(tag))
            values[f"{layer}.jobs"] += len(jobs)
            values[f"{phase}.jobs"] += len(jobs)
            values["spark.jobs"] += len(jobs)
            for job in jobs:
                info = tracker.getJobInfo(job)
                if info is not None:
                    stages.update(info.stageIds)
        for stage in stages:
            data = store.lastStageAttempt(stage)
            if str(data.status()) == "SKIPPED":
                continue
            values["spark.stages"] += 1
            for key, getter in STAGE_COUNTERS.items():
                values[key] += getattr(data, getter)()
        return values

    def catalyst(self, df) -> dict[str, float]:
        """Analysis, optimization and planning seconds of ``df``'s plan,
        from its ``QueryPlanningTracker``, plus the analyzed plan's node
        count.  Forces planning of ``df`` itself: call it after the timed
        region."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        phases = qe.tracker().phases()
        out = {"plan_nodes": qe.analyzed().treeString().count("\n")}
        for phase in ("analysis", "optimization", "planning"):
            summary = phases.get(phase)
            out[f"catalyst.{phase}_s"] = (
                summary.get().durationMs() / 1000.0 if summary.isDefined() else 0.0
            )
        return out
