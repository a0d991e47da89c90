"""In-memory spans and self-time arithmetic for the traced replay.

A span is (name, start_ns, end_ns, parent, trace_id): ``parent`` is
the index of the enclosing span or -1, ``trace_id`` the document id,
shared by every span of one document.  Spans stay in memory until the
replay ends; ``write_jsonl`` writes them out afterwards.
"""

from __future__ import annotations

import json
from pathlib import Path
from time import perf_counter_ns
from typing import NamedTuple


class Span(NamedTuple):
    name: str
    start: int
    end: int
    parent: int
    trace_id: int


class Tracer:
    """Records one span per ``call``; nesting follows the call stack."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.trace_id = -1

    def call(self, name: str, fn, *args):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append(None)  # reserve the slot: children come after
        self._stack.append(idx)
        start = perf_counter_ns()
        try:
            return fn(*args)
        finally:
            end = perf_counter_ns()
            self._stack.pop()
            self.spans[idx] = Span(name, start, end, parent, self.trace_id)

    def write_jsonl(self, path: Path) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s._asdict()) + "\n")


def untraced_call(name: str, fn, *args):
    """The replay's call hook when no spans are recorded."""
    return fn(*args)


def _covered(intervals: list[tuple[int, int]], lo: int, hi: int) -> int:
    """Length of the union of ``intervals`` clipped to [lo, hi)."""
    total, cur_lo, cur_hi = 0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if a >= b:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[int]:
    """Per span: its duration minus the part of its interval that its
    direct children cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[int, int]]] = {}
    for s in spans:
        if s.parent >= 0:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def self_time_by_name(spans: list[Span]) -> dict[str, int]:
    """Summed self time (ns) per span name."""
    out: dict[str, int] = {}
    for s, t in zip(spans, self_times(spans)):
        out[s.name] = out.get(s.name, 0) + t
    return out
