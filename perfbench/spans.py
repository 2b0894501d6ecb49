"""In-memory spans around calls into the library's public functions.

A span records its name, start, end, parent span, workload and pass, plus
the process-tree CPU it covered (without JIT compilation; see
:mod:`procstat`) and the Python workers' share of it. While a span
is open its id is the Spark job group, so every job Spark runs inside it is
attributed to it in the event log (see :mod:`eventlog`). Self time is the
span's duration minus the time its direct children cover.

:func:`instrumented` swaps named module attributes for wrappers that open a
span, call the original and — for DataFrame results — persist and count the
output inside the span, so the span covers that layer's work and not just
the building of a lazy plan.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass
from typing import Any, Callable, Iterator

import procstat

UNTRACED_GROUP = "untraced"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    workload: str
    pass_no: int
    start: float
    end: float = 0.0
    cpu_s: float = 0.0
    py_cpu_s: float = 0.0
    rows_out: int = 0
    self_wall_s: float = 0.0
    self_cpu_s: float = 0.0
    self_py_cpu_s: float = 0.0
    # the span's eventlog.GroupStats, filled after the session stops
    events: Any = None

    @property
    def group(self) -> str:
        return f"span-{self.id}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


@dataclass(frozen=True)
class Target:
    """A module attribute to wrap: ``owner.attr`` becomes a span ``name``.

    ``rows(args, output)``: how to count the output without materializing
    it (for calls whose result is already on disk); ``None`` persists and
    counts it.
    """
    owner: Any
    attr: str
    name: str
    rows: Callable[[tuple, Any], int] | None = None


class Tracer:
    def __init__(self, sc, root_pid: int, workload: str,
                 usage: Callable[[int], procstat.TreeUsage] = procstat.tree_usage,
                 clock: Callable[[], float] = time.perf_counter) -> None:
        self.sc, self.root_pid, self.workload = sc, root_pid, workload
        self._usage, self._clock = usage, clock
        self.t0 = clock()
        self.pass_no = 0
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        #: outputs materialized inside spans, by span name, for the counts
        #: taken outside the spans; all are released at pass end
        self.outputs: dict[str, list] = {}
        self._persisted: list = []

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans) + 1, name, parent.id if parent else None,
                  self.workload, self.pass_no, 0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        u0 = self._usage(self.root_pid)
        sp.start = self._clock() - self.t0
        try:
            yield sp
        finally:
            sp.end = self._clock() - self.t0
            u1 = self._usage(self.root_pid)
            sp.cpu_s = u1.work_cpu_s - u0.work_cpu_s
            sp.py_cpu_s = u1.py_cpu_s - u0.py_cpu_s
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setJobGroup(UNTRACED_GROUP, UNTRACED_GROUP)

    def _materialize(self, name: str, out: Any) -> int:
        from pyspark.sql import DataFrame

        dfs = [o for o in (out if isinstance(out, tuple) else (out,))
               if isinstance(o, DataFrame)]
        counts = []
        for df in dfs:
            df.persist()
            self._persisted.append(df)
            counts.append(df.count())
        self.outputs.setdefault(name, []).append(out)
        return counts[0] if counts else 0

    def wrap(self, t: Target) -> Callable:
        orig = getattr(t.owner, t.attr)

        def traced(*args, **kwargs):
            with self.span(t.name) as sp:
                out = orig(*args, **kwargs)
                sp.rows_out = (t.rows(args, out) if t.rows
                               else self._materialize(t.name, out))
            return out

        return traced

    def release(self) -> None:
        """Unpersist what spans materialized; call after each pass."""
        while self._persisted:
            self._persisted.pop().unpersist(blocking=True)
        self.outputs.clear()

    def finish(self) -> None:
        """Fill each span's self times from its direct children."""
        kids: dict[int, list[Span]] = {}
        for sp in self.spans:
            if sp.parent is not None:
                kids.setdefault(sp.parent, []).append(sp)
        for sp in self.spans:
            ch = kids.get(sp.id, [])
            sp.self_wall_s = sp.wall_s - sum(c.wall_s for c in ch)
            sp.self_cpu_s = sp.cpu_s - sum(c.cpu_s for c in ch)
            sp.self_py_cpu_s = sp.py_cpu_s - sum(c.py_cpu_s for c in ch)

    def write(self, path: str, header: dict) -> None:
        """Write ``header`` (run facts) and every span as one JSON file."""
        with open(path, "w") as fh:
            json.dump({**header, "workload": self.workload,
                       "spans": [asdict(sp) for sp in self.spans]}, fh, indent=1)


@contextlib.contextmanager
def instrumented(tracer: Tracer, targets: list[Target]) -> Iterator[None]:
    """Swap every target for its traced wrapper; restore on exit."""
    saved = [(t, getattr(t.owner, t.attr)) for t in targets]
    try:
        for t in targets:
            setattr(t.owner, t.attr, tracer.wrap(t))
        yield
    finally:
        for t, orig in saved:
            setattr(t.owner, t.attr, orig)
