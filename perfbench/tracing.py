"""In-memory span recorder and the wrappers that feed it.

A span is (id, name, start, end, parent, request, thread).  Spans nest
per thread; a span opened on another thread names its parent
explicitly.  Asynchronous work that the parent does not wait for (the
compaction job a commit fires) is recorded under the firing commit's
request but marked ``detached``, so it does not count against that
commit's self time.

Wrappers are installed on module attributes by the harness and removed
afterwards; code that imported a wrapped function by name before the
wrapper was installed bypasses it, which ``bypass_sites`` reports.
"""

from __future__ import annotations

import ast
import functools
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    request: str | None
    thread: str
    detached: bool = False
    counters: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(start, a), min(end, b)) for a, b in intervals if min(end, b) > max(start, a)
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its attached children cover.

    Children may run on other threads and overlap each other; their
    union is taken, clipped to the parent's interval.  Detached
    children are excluded: the parent did not wait for them."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and not s.detached and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.id: s.duration - covered(s.start, s.end, kids.get(s.id, ()))
        for s in spans
        if s.end is not None
    }


class Tracer:
    """Records spans; optionally tags the Spark jobs each span submits."""

    def __init__(self, spark_context=None) -> None:
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._sc = spark_context
        self._undo: list = []

    # -- spans -----------------------------------------------------------

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(
        self,
        name: str,
        request: str | None = None,
        parent: Span | None = None,
        detached: bool = False,
        tag_jobs: bool = True,
    ):
        """Record one span.  With ``tag_jobs`` the Spark jobs submitted
        inside it carry the tag ``pbspan-<id>`` for per-span counters."""
        st = self._stack()
        up = parent if parent is not None else (st[-1] if st else None)
        if request is None and up is not None:
            request = up.request
        s = Span(
            id=next(self._ids),
            name=name,
            start=time.perf_counter(),
            end=None,
            parent=up.id if up is not None else None,
            request=request,
            thread=threading.current_thread().name,
            detached=detached,
        )
        with self._lock:
            self.spans.append(s)
        tag = f"pbspan-{s.id}" if self._sc is not None and tag_jobs else None
        if tag:
            self._sc.addJobTag(tag)
        st.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            st.pop()
            if tag:
                self._sc.removeJobTag(tag)

    # -- wrappers --------------------------------------------------------

    def traced(self, fn, name: str, tag_jobs: bool = True):
        """``fn`` wrapped so that each call records a span."""

        @functools.wraps(fn)
        def inner(*args, **kwargs):
            with self.span(name, tag_jobs=tag_jobs):
                return fn(*args, **kwargs)

        return inner

    def on_uninstall(self, undo) -> None:
        self._undo.append(undo)

    def wrap(self, owner, attr: str, name: str, tag_jobs: bool = True) -> None:
        """Replace ``owner.attr`` with a traced version until uninstall."""
        original = getattr(owner, attr)
        setattr(owner, attr, self.traced(original, name, tag_jobs))
        self.on_uninstall(lambda: setattr(owner, attr, original))

    def wrap_async_job(self, executor_cls, name: str) -> None:
        """Record an executor's worker-thread run under the span that
        submitted it: ``execute`` captures the caller's span, ``_run``
        (the thread target) reopens it as a detached child."""
        execute, run = executor_cls.execute, executor_cls._run
        tracer = self

        def traced_execute(inst, *args, **kwargs):
            inst._perfbench_parent = tracer.current()
            return execute(inst, *args, **kwargs)

        def traced_run(inst, *args, **kwargs):
            parent = getattr(inst, "_perfbench_parent", None)
            with tracer.span(name, parent=parent, detached=True):
                return run(inst, *args, **kwargs)

        executor_cls.execute, executor_cls._run = traced_execute, traced_run

        def undo():
            executor_cls.execute, executor_cls._run = execute, run

        self.on_uninstall(undo)

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- output ----------------------------------------------------------

    def write(self, path: str, t0: float) -> None:
        """Write spans as JSON lines, times relative to ``t0``."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                d = asdict(s)
                d["start"] = round(s.start - t0, 6)
                d["end"] = round(s.end - t0, 6) if s.end is not None else None
                fh.write(json.dumps(d) + "\n")


def bypass_sites(package_dir: str, wrapped: dict[str, tuple[str, ...]]) -> list[str]:
    """``from <module> import <fn>`` sites for wrapped functions.

    ``wrapped`` maps a module's last dotted component (``maintenance``)
    to the wrapped attribute names.  Such an import binds the original
    function, so calls through it are not traced."""
    sites = []
    for root, _, files in os.walk(package_dir):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            with open(path, encoding="utf-8") as fh:
                tree = ast.parse(fh.read(), path)
            for node in ast.walk(tree):
                if not isinstance(node, ast.ImportFrom) or not node.module:
                    continue
                names = wrapped.get(node.module.rsplit(".", 1)[-1], ())
                for alias in node.names:
                    if alias.name in names:
                        rel = os.path.relpath(path, os.path.dirname(package_dir))
                        sites.append(f"{rel}:{node.lineno} imports {node.module}.{alias.name}")
    return sorted(sites)
