"""Spans recorded around the calls into each layer, from the
benchmark's own files.

``Tracer.wrap(module, attr, name)`` replaces a public module attribute
with a wrapper that records a span — name, start, end, parent span and
operation id — and tags the Spark jobs launched inside it with a job
group, so the status store can attribute jobs, stages, tasks and
shuffle bytes to the layer. The package calls these functions through
module attributes, so the wrappers see every call. Spans stay in
memory; ``dump`` writes them out when the run ends. Untraced runs
install no wrappers.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    span_id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.groups: dict[str, set[str]] = {}  # op -> job groups used
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self.op = "setup"

    # -- spans ---------------------------------------------------------

    def _set_group(self, name: str) -> None:
        group = f"{self.op}|{name}"
        self.groups.setdefault(self.op, set()).add(group)
        self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, self.op, parent.span_id if parent else None, time.perf_counter())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].name if self._stack else "op")

    def start_op(self, op: str) -> None:
        self.op = op
        self._set_group("op")

    # -- wrappers ------------------------------------------------------

    def patch(self, owner, attr: str, replacement) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, before=None, after=None) -> None:
        """Record a span around every call of ``owner.attr``.
        ``before(args, kwargs)`` sees the arguments and may add keyword
        arguments; ``after(result)`` sees the result."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if before is not None:
                before(args, kwargs)
            with self.span(name):
                out = fn(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        self.patch(owner, attr, traced)

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # -- queries -------------------------------------------------------

    def of(self, op: str, name: str) -> list[Span]:
        return [s for s in self.spans if s.op == op and s.name == name]

    def total(self, op: str, name: str) -> float:
        return sum(s.dur for s in self.of(op, name))

    def job_ids(self, op: str, name: str | None = None) -> list[int]:
        """Jobs launched in ``op``, or only those launched directly
        inside spans named ``name`` (a job belongs to the innermost
        span open when it started)."""
        groups = self.groups.get(op, set())
        if name is not None:
            groups = {g for g in groups if g == f"{op}|{name}"}
        ids: list[int] = []
        for g in groups:
            ids.extend(self.sc.statusTracker().getJobIdsForGroup(g))
        return ids

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))
