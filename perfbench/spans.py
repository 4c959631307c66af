"""Spans around the benchmark's calls into each layer, with Spark job
accounting, recorded from outside the library.

A span is one call into a layer's public function. Spans that may run
Spark jobs get their own job group (``sc.setJobGroup``); the jobs of
each group, the stages that ran tasks and those tasks are read back
from ``sc.statusTracker()`` after the round, which works with
``spark.ui.enabled=false``. Jobs belong to the innermost span that
runs them. The ``plans.fs`` helpers are counted by swapping every
reference to them in the loaded ``pydala2_spark`` modules for a
wrapper while tracing is on.

An untraced ``Tracer`` (``enabled=False``) records nothing and adds
one ``with`` per call.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import sys
import time
from dataclasses import asdict, dataclass, field

FS_LIST_FUNCS = {"list_files", "iter_file_statuses", "file_mtimes", "file_sizes"}


@dataclass
class Span:
    id: int
    name: str  # "<layer>.<call>", e.g. "merge.merge"
    layer: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    group: str | None = None
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


@dataclass
class Tracer:
    sc: object  # SparkContext
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    op_id: int | None = None
    _stack: list[Span] = field(default_factory=list)
    _ids: itertools.count = field(default_factory=itertools.count)
    _fs_patches: list[tuple[object, str, object]] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        """Record ``name`` (``"<layer>.<call>"``) around the body. With
        ``spark_jobs`` the body runs under its own job group."""
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(
            id=next(self._ids),
            name=name,
            layer=name.rsplit(".", 1)[0],
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            op_id=self.op_id,
        )
        if spark_jobs:
            s.group = f"perfbench-{s.id}"
            self.sc.setJobGroup(s.group, name, False)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if spark_jobs:
                enclosing = next((p for p in reversed(self._stack) if p.group), None)
                if enclosing:
                    self.sc.setJobGroup(enclosing.group, enclosing.name, False)
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)

    def resolve_counts(self) -> None:
        """Fill jobs/stages/tasks of every span from the status tracker.
        Waits for the listener bus first so the last jobs are visible."""
        if not self.enabled:
            return
        with contextlib.suppress(Exception):
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        for s in self.spans:
            if not s.group or s.jobs:
                continue
            for jid in tracker.getJobIdsForGroup(s.group):
                info = tracker.getJobInfo(jid)
                if info is None:
                    continue
                s.jobs += 1
                for sid in info.stageIds:
                    # stages skipped for a reused shuffle ran no tasks
                    st = tracker.getStageInfo(sid)
                    if st is not None and st.numCompletedTasks:
                        s.stages += 1
                        s.tasks += st.numCompletedTasks

    # -- plans.fs wrapping -------------------------------------------------

    def install_fs_wrappers(self) -> None:
        """Swap every reference to a ``plans.fs`` function, in every
        loaded ``pydala2_spark`` module, for a span-recording wrapper."""
        from pydala2_spark.plans import fs

        originals = {
            name: obj
            for name, obj in vars(fs).items()
            if callable(obj) and getattr(obj, "__module__", None) == fs.__name__
        }
        wrappers = {id(f): self._wrap_fs(name, f) for name, f in originals.items()}
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("pydala2_spark"):
                continue
            for attr, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj))
                if w is not None:
                    self._fs_patches.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def uninstall_fs_wrappers(self) -> None:
        for mod, attr, obj in reversed(self._fs_patches):
            setattr(mod, attr, obj)
        self._fs_patches.clear()

    def _wrap_fs(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(f"fs.{name}", spark_jobs=False):
                result = fn(*args, **kwargs)
                # iter_file_statuses is a generator: drain it inside the span
                return list(result) if name == "iter_file_statuses" else result

        return wrapper

    def export(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f, indent=1)


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of it
    its direct children cover (children of one span never overlap:
    the benchmark is single-threaded)."""
    child_time: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - child_time.get(s.id, 0.0)
        out[s.layer] = out.get(s.layer, 0.0) + own
    return out


def layer_totals(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per layer: calls, inclusive busy time of its outermost spans
    (a span nested in a span of the same layer is not counted twice),
    and the jobs/stages/tasks its spans ran."""
    by_id = {s.id: s for s in spans}
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        t = out.setdefault(s.layer, {"calls": 0, "busy_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0})
        t["calls"] += 1
        t["jobs"] += s.jobs
        t["stages"] += s.stages
        t["tasks"] += s.tasks
        p = by_id.get(s.parent) if s.parent is not None else None
        while p is not None and p.layer != s.layer:
            p = by_id.get(p.parent) if p.parent is not None else None
        if p is None:
            t["busy_s"] += s.end - s.start
    return out
