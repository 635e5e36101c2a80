"""In-memory spans for the traced run, written out once at the end.

A span is (id, parent, name, layer, start, end) on the benchmark's
``perf_counter`` clock. Spark stages arrive with wall-clock epoch
milliseconds from the status store; ``Tracer.from_epoch_ms`` maps them
onto the same clock so a stage becomes a child span of the action that
ran it. A layer's self time is the time its spans cover minus the part
of each span its child spans cover.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, enabled=True):
        self.enabled = enabled
        self.spans = []
        self._stack = []
        self._epoch_minus_perf = time.time() - time.perf_counter()

    def from_epoch_ms(self, ms):
        return ms / 1000.0 - self._epoch_minus_perf

    def add(self, name, layer, start, end, parent=None, **attrs):
        """Record a finished span; returns its id (None when disabled)."""
        if not self.enabled:
            return None
        span = {
            "id": len(self.spans),
            "parent": self._stack[-1] if parent is None and self._stack else parent,
            "name": name,
            "layer": layer,
            "start": start,
            "end": end,
        }
        span.update(attrs)
        self.spans.append(span)
        return span["id"]

    @contextlib.contextmanager
    def span(self, name, layer, **attrs):
        """Time the block as a span; yields the span's id (None when disabled)."""
        if not self.enabled:
            yield None
            return
        sid = self.add(name, layer, time.perf_counter(), None, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.perf_counter()

    def self_times(self, root=None):
        """{layer: seconds} of span time not covered by child spans, over
        every span, or over ``root``'s descendants when given."""
        children = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        if root is None:
            spans = self.spans
        else:
            spans, pending = [], list(children.get(root, ()))
            while pending:
                s = pending.pop()
                spans.append(s)
                pending.extend(children.get(s["id"], ()))
        out = {}
        for s in spans:
            covered = _union_length(
                [(max(c["start"], s["start"]), min(c["end"], s["end"])) for c in children.get(s["id"], ())]
            )
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out

    def write(self, path):
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f, indent=1)


def _union_length(intervals):
    total, cur_start, cur_end = 0.0, None, None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
