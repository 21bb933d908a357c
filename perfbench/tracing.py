"""In-memory spans and call probes for traced runs.

Spans are recorded from the benchmark's own files, around its calls into
each layer: one per operation, one per phase inside it, and one per Spark
job. A ``Probe`` wraps a layer's public function where it is looked up, so
calls made from inside the program (for example ``load_table`` from a query
builder) are counted too. Nothing is written until ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import itertools
import json
import sys
import time
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    parent_id: int | None
    name: str
    kind: str                       # op | phase | job
    start: float
    end: float = 0.0
    job_ids: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Collects spans; ``enabled=False`` makes every call a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self.overhead_s = 0.0

    def open(self, name: str, kind: str, parent: Span | None = None, **attrs) -> Span | None:
        if not self.enabled:
            return None
        t0 = time.perf_counter()
        span = Span(next(self._ids), parent.span_id if parent else None, name, kind,
                    time.time(), attrs=attrs)
        self.spans.append(span)
        self.overhead_s += time.perf_counter() - t0
        return span

    def add(self, name: str, kind: str, parent: Span | None, start: float, end: float,
            job_ids: list[int], **attrs) -> None:
        """Record a finished span after the passes (not counted as overhead)."""
        if self.enabled:
            self.spans.append(Span(next(self._ids), parent.span_id if parent else None,
                                   name, kind, start, end, job_ids, attrs))

    def close(self, span: Span | None) -> None:
        if span is not None:
            span.end = time.time()

    def timed(self, fn, *args):
        """``fn(*args)``, with its time counted as tracing overhead."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


class Probe:
    """Counts calls to, and time in, one function of the program.

    ``install`` replaces the attribute on its owner and every name bound to
    the same object in a loaded ``dbt_meshify_spark`` module (``from x import
    f as g`` included).
    ``measure`` maps a call's arguments and result to extra counters (for
    example bytes read).
    """

    def __init__(self, owner, attr: str, measure=None) -> None:
        self.owner, self.attr, self.measure = owner, attr, measure
        self.calls = 0
        self.seconds = 0.0
        self.extra: dict[str, float] = {}

    def install(self) -> "Probe":
        original = self.owner.__dict__[self.attr]
        is_cm = isinstance(original, (classmethod, staticmethod))
        fn = original.__func__ if is_cm else original

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                out = fn(*args, **kwargs)
            finally:
                self.seconds += time.perf_counter() - t0
                self.calls += 1
            if self.measure is not None:
                for k, v in self.measure(args, kwargs, out).items():
                    self.extra[k] = self.extra.get(k, 0) + v
            return out

        replacement = type(original)(wrapper) if is_cm else wrapper
        targets = [(self.owner, self.attr)]
        if not is_cm:
            targets += [(m, name) for mod_name, m in list(sys.modules.items())
                        if mod_name.startswith("dbt_meshify_spark") and m is not self.owner
                        for name, value in list(vars(m).items()) if value is fn]
        for target, name in targets:
            setattr(target, name, replacement)
        return self

    def reset(self) -> None:
        self.calls, self.seconds, self.extra = 0, 0.0, {}
