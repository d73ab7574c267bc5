"""Outside-in tracer: spans around the engine's public functions, patched in
from the benchmark, never inside the engine.

A span records (name, start, end, parent, op id, thread). While a span is
the innermost one on its thread it

* owns that thread's Spark job group (``perfbench:<name>``; set on entry,
  the parent's restored on exit), so each job is tagged with exactly one
  span name — job groups are thread-local in PySpark's pinned-thread mode;
* is credited with every py4j ``send_command`` the thread makes.

Threads started through ``ThreadPoolExecutor.submit`` inherit the
submitting span as the PARENT of their own spans (so self time subtracts
parallel children), but not its job group: a job a pool thread runs
outside any span is reported as unattributed.

Self time is a span's duration minus the union of its children's
intervals. Spans stay in memory until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import concurrent.futures
import functools
import inspect
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str | None
    thread: int
    spark: bool = True  # whether the span owns its thread's job group
    py4j: int = 0


class Tracer:
    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.py4j_total = 0

    # -- per-thread state ---------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def _set_group(self, name: str | None) -> None:
        if getattr(self._tls, "group", None) == name:
            return
        self._tls.group = name
        self._tls.internal = True
        try:
            self.sc.setLocalProperty(
                "spark.jobGroup.id", None if name is None else GROUP_PREFIX + name
            )
        finally:
            self._tls.internal = False

    def _group_owner(self, st: list[int]) -> str | None:
        """Name of the innermost span on this thread that may run jobs."""
        for i in reversed(st):
            if self.spans[i].spark:
                return self.spans[i].name
        return None

    # -- spans ----------------------------------------------------------------
    def enter(self, name: str, op: str | None = None, spark: bool = True) -> int:
        """Open a span. ``spark=False`` marks a pure-Python layer that
        never submits jobs: it keeps its parent's job group, which saves
        two py4j round trips per call."""
        st = self._stack()
        parent = st[-1] if st else getattr(self._tls, "inherited", None)
        if op is None and parent is not None:
            op = self.spans[parent].op
        span = Span(name, time.perf_counter(), 0.0, parent, op, threading.get_ident(), spark)
        with self._lock:
            self.spans.append(span)
            idx = len(self.spans) - 1
        st.append(idx)
        if spark:
            self._set_group(name)
        return idx

    def exit(self, idx: int) -> None:
        self.spans[idx].end = time.perf_counter()
        st = self._stack()
        st.pop()
        if self.spans[idx].spark:
            self._set_group(self._group_owner(st))

    def span(self, name: str, op: str | None = None, spark: bool = True):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.enter(name, op, spark)

            def __exit__(self, *exc):
                tracer.exit(self.idx)
                return False

        return _Ctx()

    # -- patching ---------------------------------------------------------------
    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type)
                              and attr in owner.__dict__ else getattr(owner, attr)))
        setattr(owner, attr, new)

    def wrap(self, owner, attr: str, name: str | None = None, name_of=None, op_of=None,
             spark: bool = True) -> None:
        """Replace ``owner.attr`` (a module function, class method or
        instance method) by a spanning wrapper. ``name_of(*args)`` may derive
        the span name from the call; ``op_of(*args)`` its op id. A generator
        result is traced per ``next()``, where its body actually runs."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.enter(name_of(*args) if name_of else name,
                               op_of(*args) if op_of else None, spark)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer.exit(idx)
            if inspect.isgenerator(result):
                return tracer._traced_iter(result, tracer.spans[idx].name, spark)
            return result

        is_static = isinstance(owner, type) and isinstance(owner.__dict__.get(attr), staticmethod)
        self._patch(owner, attr, staticmethod(wrapper) if is_static else wrapper)

    def _traced_iter(self, it, name: str, spark: bool):
        while True:
            idx = self.enter(name, None, spark)
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                self.exit(idx)
            yield item

    def install_py4j_counter(self) -> None:
        client = self.sc._gateway._gateway_client
        send = client.send_command
        tracer, tls = self, self._tls

        def counted(*args, **kwargs):
            if not getattr(tls, "internal", False):
                st = getattr(tls, "stack", None)
                with tracer._lock:
                    tracer.py4j_total += 1
                    if st:
                        tracer.spans[st[-1]].py4j += 1
            return send(*args, **kwargs)

        self._patches.append((client, "send_command", None))
        client.send_command = counted

    def install_thread_parenting(self) -> None:
        submit = concurrent.futures.ThreadPoolExecutor.submit
        tracer = self

        def traced_submit(pool, fn, /, *args, **kwargs):
            st = tracer._stack()
            parent = st[-1] if st else getattr(tracer._tls, "inherited", None)

            def run(*a, **kw):
                tracer._tls.inherited = parent
                try:
                    return fn(*a, **kw)
                finally:
                    tracer._tls.inherited = None

            return submit(pool, run, *args, **kwargs)

        self._patch(concurrent.futures.ThreadPoolExecutor, "submit", traced_submit)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if orig is None:
                delattr(owner, attr)  # instance attribute shadowing the class's
            else:
                setattr(owner, attr, orig)
        self._patches.clear()

    # -- results ----------------------------------------------------------------
    def self_times(self) -> list[float]:
        children: dict[int, list[int]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                children[s.parent].append(i)
        out = []
        for i, s in enumerate(self.spans):
            ivs = sorted(
                (max(self.spans[c].start, s.start), min(self.spans[c].end, s.end))
                for c in children.get(i, ())
            )
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in ivs:
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append(max(0.0, (s.end - s.start) - covered))
        return out

    def by_name(self) -> dict[str, dict[str, float]]:
        """{span name: {calls, self_s, py4j}}"""
        agg: dict[str, dict[str, float]] = defaultdict(lambda: {"calls": 0, "self_s": 0.0, "py4j": 0})
        for s, self_s in zip(self.spans, self.self_times()):
            a = agg[s.name]
            a["calls"] += 1
            a["self_s"] += self_s
            a["py4j"] += s.py4j
        return dict(agg)

    def jobs_by_name(self, names, job_range: tuple[int, int]) -> dict[str, int]:
        """Jobs tagged with each span name whose id lies in ``job_range``
        (exclusive bounds)."""
        lo, hi = job_range
        tracker = self.sc.statusTracker()
        return {
            n: sum(1 for j in tracker.getJobIdsForGroup(GROUP_PREFIX + n) if lo < j < hi)
            for n in names
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({"i": i, **asdict(s)}) + "\n")


def job_shape(sc, job_range: tuple[int, int]) -> tuple[int, int, int]:
    """(jobs, stages, tasks) of the jobs with ids strictly inside
    ``job_range``; skipped stages (reused shuffle output) are not counted."""
    lo, hi = job_range
    tracker = sc.statusTracker()
    stages: set[int] = set()
    jobs = 0
    for j in range(lo + 1, hi):
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        stages.update(info.stageIds)
    tasks = 0
    n_stages = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None and st.numCompletedTasks:
            n_stages += 1
            tasks += st.numCompletedTasks
    return jobs, n_stages, tasks
