"""Timing spans around the trainer's layer functions, installed from outside.

``GStreamTrainer.step`` looks its collaborators up at call time as
attributes of the ``streaming.train`` module (``estep_local``,
``compute_point_stats``, ``write_snapshot``, ``write_snapshot_text``) and
of ``GStreamModel`` (``update``).  ``Tracer.installed()`` swaps each for a
wrapper that records a span, and puts the originals back on exit, so the
package itself carries no tracing code.

Spans stay in memory; ``self_ms`` subtracts the part of a span that its
child spans cover.
"""

from __future__ import annotations

import functools
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    count: int = 0  # layer-specific work count (e.g. point ids returned)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


def _ids_returned(stats) -> int:
    """Point ids the distributed E-step shipped back to the driver."""
    return sum(len(getattr(st, "ids", None) or ()) for st in stats.values())


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._local = threading.local()

    def _wrap(self, name: str, fn, counter=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._local.__dict__.setdefault("stack", [])
            span = Span(name, time.perf_counter(), 0.0, stack[-1] if stack else None)
            self.spans.append(span)
            stack.append(len(self.spans) - 1)
            try:
                out = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
            if counter is not None:
                span.count = counter(out)
            return out

        return traced

    @contextmanager
    def installed(self):
        from spark_streaming_clustering_spark.streaming import train
        from spark_streaming_clustering_spark.streaming.gstream_model import GStreamModel

        targets = [
            (train.GStreamTrainer, "step", "step", None),
            (train, "estep_local", "estep_local", None),
            (train, "compute_point_stats", "estep_dist", _ids_returned),
            (GStreamModel, "update", "mstep", None),
            (train, "write_snapshot", "snapshot", None),
            (train, "write_snapshot_text", "snapshot", None),
        ]
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _, _ in targets]
        try:
            for owner, attr, name, counter in targets:
                setattr(owner, attr, self._wrap(name, getattr(owner, attr), counter))
            yield self
        finally:
            for owner, attr, original in saved:
                setattr(owner, attr, original)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self, index: int) -> float:
        """Span duration minus the union of its children's intervals."""
        span = self.spans[index]
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == index
        )
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in kids:
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
        return (span.end - span.start - covered) * 1000.0
