"""Spans recorded around each layer call, and the executed-plan counters
read through py4j after an action.

A span records name, start, end and the span that was open when it
began. Spans stay in memory and are written once, with the run artifact.
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        """Yield the span's ``attrs`` dict, for counts taken at the same
        boundary."""
        s = Span(len(self.spans), self._open[-1] if self._open else None,
                 name, time.perf_counter())
        self.spans.append(s)
        self._open.append(s.id)
        try:
            yield s.attrs
        finally:
            s.end = time.perf_counter()
            self._open.pop()

    def seconds(self, name: str) -> list[float]:
        return [s.seconds for s in self.spans if s.name == name]

    def median_s(self, name: str) -> float:
        return statistics.median(self.seconds(name))

    def last_attrs(self, name: str) -> dict:
        return [s.attrs for s in self.spans if s.name == name][-1]

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


class NullTracer:
    """Tracing off: spans cost one context manager and record nothing."""

    enabled = False

    @contextmanager
    def span(self, name: str):
        yield {}


# ------------------------------------------------------- plan counters
# nodeName() of the wrappers AQE puts around a finished stage
_STAGE_WRAPPERS = {"ShuffleQueryStage", "BroadcastQueryStage",
                   "TableCacheQueryStage", "ResultQueryStage"}


def _metric(node, key: str) -> int:
    opt = node.metrics().get(key)
    return int(opt.get().value()) if opt.isDefined() else 0


def plan_counters(df) -> dict[str, int]:
    """Counters of the executed (final AQE) plan of ``df``, which must
    already have run an action: exchange, sort and window node counts,
    shuffle records and bytes written, and the spill bytes of the nodes
    that spill (sorts, windows, aggregates). Query stages are unwrapped;
    a reused exchange is counted once, where it first ran. Metrics are
    read only from those nodes, as every py4j call costs a round trip."""
    out = dict(exchanges=0, sorts=0, windows=0, shuffle_records=0,
               shuffle_bytes=0, spill_bytes=0)
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        kind = node.nodeName()
        if kind == "AdaptiveSparkPlan":
            todo.append(node.finalPhysicalPlan())
            continue
        if kind in _STAGE_WRAPPERS:
            todo.append(node.plan())
            continue
        if kind == "ReusedExchange":
            continue
        if kind.endswith("Exchange"):
            out["exchanges"] += 1
            out["shuffle_records"] += _metric(node, "shuffleRecordsWritten")
            out["shuffle_bytes"] += _metric(node, "shuffleBytesWritten")
        elif kind in ("Sort", "Window") or kind.endswith("Aggregate"):
            if not kind.endswith("Aggregate"):
                out[f"{kind.lower()}s"] += 1
            out["spill_bytes"] += _metric(node, "spillSize")
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return out
