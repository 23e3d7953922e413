"""In-memory spans around the benchmark's calls into the program.

A span has a name, start, end, parent and an op id that the top-level
span of an op shares with all its children. With a SparkContext, each
open span also adds a Spark job tag ``perfbench-span-<id>``, so every
Spark job (and SQL execution) carries the tags of the spans it ran in,
which is how the event-log metrics are attributed to spans afterwards.
Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Iterator, Optional

from sparkenv import now

TAG_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: Optional[int]
    op: int
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def tag(self) -> str:
        return f"{TAG_PREFIX}{self.id}"

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` costs one
    ``nullcontext``."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        # epoch seconds minus perf_counter: maps event-log wall clock
        # times onto the spans' clock
        self.epoch_offset = time.time() - now()

    def span(self, name: str, **attrs):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(name, attrs)

    @contextlib.contextmanager
    def _span(self, name: str, attrs: dict) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans) + 1
        s = Span(sid, name, 0.0, parent.id if parent else None,
                 parent.op if parent else sid, attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.addJobTag(s.tag)
        s.start = now()
        try:
            yield s
        finally:
            s.end = now()
            if self.sc is not None:
                self.sc.removeJobTag(s.tag)
            self._stack.pop()

    def dump(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(
            {"spans": [asdict(s) for s in self.spans], **extra}, indent=1, default=str
        ))


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(span: Span, intervals: list[tuple[float, float]]) -> float:
    """Part of ``span``'s interval covered by ``intervals``."""
    clipped = [(max(s, span.start), min(e, span.end)) for s, e in intervals]
    return union_length([(s, e) for s, e in clipped if e > s])


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part its child spans cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.duration - covered(s, kids.get(s.id, [])) for s in spans}


def self_time_by_name(spans: list[Span]) -> dict[str, float]:
    own = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + own[s.id]
    return out


def child_coverage(op: Span, spans: list[Span]) -> float:
    """Share of ``op``'s wall time that its direct child spans cover."""
    kids = [(s.start, s.end) for s in spans if s.parent == op.id]
    return covered(op, kids) / op.duration if op.duration > 0 else 0.0
