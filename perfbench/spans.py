"""Span recorder for the traced benchmark run.

Layers are timed from outside: :meth:`Tracer.wrap` replaces a public
function of ``customkb_spark`` with a wrapper that records a span around
each call. The package source is never edited; the wrapper is installed
on the defining module or class and on every ``customkb_spark`` module
that imported the same function object by name, so calls from inside the
engine are seen too.

Each span carries its name, start, end and parent, and runs its calls
under a Spark job group of its own, so the jobs and stages a layer starts
can be counted from the status tracker once the run is over. Spans stay
in memory; :meth:`Tracer.summary` turns them into per-layer totals.

A span's self time is its duration minus the time covered by its direct
children. Several of the wrapped calls only build a lazy DataFrame; their
spans time plan construction, and the work shows up as self time of the
caller that forces the plan.
"""

from __future__ import annotations

import functools
import inspect
import json
import sys
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str
    phase: str
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0
    stages: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


def patch(owner, attr: str, make_wrapper) -> list:
    """Replace ``owner.attr`` by ``make_wrapper(func)``. For a module
    function, also rebind every ``customkb_spark`` module global that is
    the same object. Returns undo records for :func:`unpatch`."""
    static = inspect.getattr_static(owner, attr)
    is_cm = isinstance(static, classmethod)
    func = static.__func__ if is_cm else static
    wrapper = functools.wraps(func)(make_wrapper(func))
    setattr(owner, attr, classmethod(wrapper) if is_cm else wrapper)
    undo = [(owner, attr, static)]
    if not isinstance(owner, type):
        for name, mod in list(sys.modules.items()):
            if mod is owner or not name.startswith("customkb_spark"):
                continue
            for key, val in list(vars(mod).items()):
                if val is func:
                    setattr(mod, key, wrapper)
                    undo.append((mod, key, func))
    return undo


def unpatch(undo: list) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)


class Tracer:
    """In-memory span recorder. Spans are only recorded while
    ``enabled`` is true; otherwise the wrappers call straight through."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self.enabled = False
        self.phase = "setup"
        self._stack: list[int] = []
        self._undo: list = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), parent, f"perfbench-span-{idx}", self.phase)
        self.spans.append(s)
        self._stack.append(idx)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                p = self.spans[parent]
                p.child_s += s.duration
                self.sc.setJobGroup(p.group, p.name)

    def wrap(self, owner, attr: str, name: str, on_result=None) -> None:
        """Record a span ``name`` around every call of ``owner.attr``;
        ``on_result(span, args, kwargs, result)`` may add attributes."""
        tracer = self

        def make(func):
            def wrapper(*args, **kwargs):
                with tracer.span(name) as s:
                    out = func(*args, **kwargs)
                    if s is not None and on_result is not None:
                        on_result(s, args, kwargs, out)
                    return out

            return wrapper

        self._undo += patch(owner, attr, make)

    def close(self) -> None:
        unpatch(self._undo)
        self._undo = []

    # ------------------------------------------------------- read-out
    def resolve_jobs(self) -> None:
        """Fill in each span's own job and stage counts (inclusive of
        its children). Run after the last span has closed: the status
        tracker is fed asynchronously by the listener bus."""
        time.sleep(0.5)
        st = self.sc.statusTracker()
        for s in self.spans:
            jobs = st.getJobIdsForGroup(s.group)
            stages = set()
            for j in jobs:
                info = st.getJobInfo(j)
                if info is not None:
                    stages.update(info.stageIds)
            s.jobs, s.stages = len(jobs), len(stages)
        for s in reversed(self.spans):
            if s.parent is not None:
                self.spans[s.parent].jobs += s.jobs
                self.spans[s.parent].stages += s.stages

    def summary(self, phase: str) -> dict[str, dict]:
        """Per span name over one phase: calls, inclusive and self
        seconds, jobs, stages and summed attributes."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.phase != phase:
                continue
            a = out.setdefault(
                s.name, {"calls": 0, "incl_s": 0.0, "self_s": 0.0, "jobs": 0, "stages": 0}
            )
            a["calls"] += 1
            a["incl_s"] += s.duration
            a["self_s"] += s.self_s
            a["jobs"] += s.jobs
            a["stages"] += s.stages
            for k, v in s.attrs.items():
                a[k] = a.get(k, 0) + v
        return out


def stage_totals(sc, group: str) -> tuple[int, float]:
    """(completed tasks, executor run seconds) over the stages of the
    jobs in ``group``, read from the driver's own status REST endpoint
    (loopback, proxies bypassed). The status tracker has task counts but
    no run time."""
    st = sc.statusTracker()
    stage_ids = set()
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    tasks, run_ms = 0, 0.0
    port = urllib.parse.urlsplit(sc.uiWebUrl).port
    base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}/stages"
    opener = urllib.request.build_opener(urllib.request.ProxyHandler({}))
    for sid in sorted(stage_ids):
        try:
            with opener.open(f"{base}/{sid}", timeout=10) as r:
                attempts = json.load(r)
        except OSError:  # skipped stage: never submitted, so unknown here
            continue
        for a in attempts:
            tasks += int(a.get("numCompleteTasks", 0))
            run_ms += float(a.get("executorRunTime", 0))
    return tasks, run_ms / 1000.0
