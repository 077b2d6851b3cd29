"""In-memory spans, recorded from the benchmark's side of each call into
a layer, plus the call-site labels that let Spark's event log attribute
stages to the same layers.

A span records name, start, end, its parent and the trace (workload
iteration) it belongs to. Nothing is written until :meth:`Tracer.dump`.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from dataclasses import asdict, dataclass, field
from typing import Callable, Iterator

CALLSITE_KEY = "callSite.short"  # Spark names a job's stages after this local property


@dataclass
class Span:
    span_id: int
    trace_id: int
    parent_id: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; a disabled tracer is a no-op, so the
    untraced run executes the same code path without the recording."""

    def __init__(self, enabled: bool, spark=None) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_trace = 0
        self._sc = spark.sparkContext if (enabled and spark is not None) else None

    @contextlib.contextmanager
    def span(self, name: str, label: str | None = None) -> Iterator[Span | None]:
        """A span around one call into a layer. ``label`` also names the
        Spark stages the call runs, for the event-log attribution."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            trace_id = self._next_trace
            self._next_trace += 1
        else:
            trace_id = parent.trace_id
        sp = Span(
            span_id=len(self.spans),
            trace_id=trace_id,
            parent_id=None if parent is None else parent.span_id,
            name=name,
            start=time.perf_counter(),
            attrs={} if label is None else {"label": label},
        )
        self.spans.append(sp)
        self._stack.append(sp)
        prev_label = None
        if label is not None and self._sc is not None:
            prev_label = self._sc.getLocalProperty(CALLSITE_KEY)
            self._sc.setLocalProperty(CALLSITE_KEY, label)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if label is not None and self._sc is not None:
                self._sc.setLocalProperty(CALLSITE_KEY, prev_label)

    def current_label(self) -> str | None:
        return self._sc.getLocalProperty(CALLSITE_KEY) if self._sc is not None else None

    def wrap(self, owner, attr: str, name: str) -> Callable[[], None]:
        """Replace ``owner.attr`` with a version that runs inside a span
        (and under a call-site label extending the current one). Returns
        the function that restores the original."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def traced(*args, **kwargs):
            outer = tracer.current_label()
            label = f"{outer}:{name}" if outer else None
            with tracer.span(name, label=label):
                return original(*args, **kwargs)

        setattr(owner, attr, traced)
        return lambda: setattr(owner, attr, original)

    def traces(self, root: str, labels: list[str]) -> list[dict[str, list[Span]]]:
        """The spans of each trace whose root span is named ``root`` and
        carries one of ``labels``, grouped by span name."""
        ids = {sp.trace_id for sp in self.spans if sp.name == root and sp.attrs.get("label") in labels}
        traces: dict[int, dict[str, list[Span]]] = {t: {} for t in ids}
        for sp in self.spans:
            if sp.trace_id in traces:
                traces[sp.trace_id].setdefault(sp.name, []).append(sp)
        return list(traces.values())

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part covered by
        child spans, summed over all traces."""
        child_time: dict[int, float] = {}
        for sp in self.spans:
            if sp.parent_id is not None:
                child_time[sp.parent_id] = child_time.get(sp.parent_id, 0.0) + sp.duration
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp.name] = out.get(sp.name, 0.0) + sp.duration - child_time.get(sp.span_id, 0.0)
        return out

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)
