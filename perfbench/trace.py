"""In-memory spans around calls into the package's layers.

The tracer wraps module attributes of the package from the benchmark's
side: every binding of a traced function is replaced, including the
names other modules bound with ``from … import`` (found by identity),
so a call through ``pipelines.jobs.write_snapshot`` is traced the same
as one through ``sources.io.write_snapshot``. While a span is open, the
Spark job description names it, which is how the event log attributes
jobs, stages and tasks to spans afterwards.
"""

from __future__ import annotations

import functools
import itertools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "gcp_dataengineering_spark"
DESC_PREFIX = "span:"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    failed: bool = False
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Probe:
    """Counters taken around one traced call, outside its timed interval.
    ``before`` sees the call's arguments; ``after`` gets its state back
    with the result and returns the counters to attach to the span."""

    def before(self, args: tuple, kwargs: dict):
        return None

    def after(self, args: tuple, kwargs: dict, result, state) -> dict:
        return {}


class Tracer:
    def __init__(self, spark_context=None):
        self.sc = spark_context
        self.spans: list[Span] = []
        self.context: dict = {}
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ spans
    def _describe(self, span: Span | None) -> None:
        if self.sc is not None:
            self.sc.setJobDescription(f"{DESC_PREFIX}{span.id}" if span else None)

    def _open(self, name: str, attrs: dict | None) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(next(self._ids), name, parent.id if parent else None, 0.0,
                    attrs={**self.context, **(attrs or {})})
        self._stack.append(span)
        self._describe(span)
        span.start = time.time()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._stack.pop()
        self._describe(self._stack[-1] if self._stack else None)
        self.spans.append(span)

    @contextmanager
    def span(self, name: str, **attrs):
        s = self._open(name, attrs)
        try:
            yield s
        except BaseException:
            s.failed = True
            raise
        finally:
            self._close(s)

    def call(self, name: str, fn, args: tuple, kwargs: dict, probe: Probe | None):
        state = probe.before(args, kwargs) if probe else None
        s = self._open(name, None)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            s.failed = True
            raise
        finally:
            self._close(s)
        if probe:
            s.attrs.update(probe.after(args, kwargs, result, state))
        return result

    # --------------------------------------------------------- patching
    def wrap(self, module_name: str, attr: str, probe: Probe | None = None,
             span_name: str | None = None) -> None:
        """Trace ``<package>.<module_name>.<attr>`` under the span name
        ``<module_name>.<attr>``, at every binding of that function in
        the package's loaded modules."""
        __import__(f"{PACKAGE}.{module_name}")
        original = getattr(sys.modules[f"{PACKAGE}.{module_name}"], attr)
        name = span_name or f"{module_name}.{attr}"

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, args, kwargs, probe)

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == PACKAGE or mod_name.startswith(PACKAGE + ".")):
                continue
            for key, value in list(vars(mod).items()):
                if value is original:
                    setattr(mod, key, traced)
                    self._patched.append((mod, key, original))

    def unwrap_all(self) -> None:
        for mod, key, original in reversed(self._patched):
            setattr(mod, key, original)
        self._patched.clear()

    def bindings(self) -> list[str]:
        return sorted(f"{m.__name__}.{k}" for m, k, _ in self._patched)


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered = union_length([(max(c.start, span.start), min(c.end, span.end)) for c in children])
    return span.wall - covered


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
