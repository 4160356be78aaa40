"""In-memory span recorder for traced runs.

Spans are recorded from the benchmark's own files, around calls into each
layer's public functions: ``wrap`` replaces a module attribute or class
method with a timing shim for the duration of a ``with`` block and puts the
original back afterwards. Each span holds (name, start, end, parent id,
op id); spans stay in memory and are written out once, when the run ends.
A span's self time is its duration minus the part of it its child spans
cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import defaultdict
from pathlib import Path


class Tracer:
    def __init__(self) -> None:
        self.spans: list = []  # [name, start, end, parent, op]
        self._stack: list = []
        self.op = 0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), 0.0, parent, self.op]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec[2] = time.perf_counter()

    def traced(self, name: str, fn):
        @functools.wraps(fn)
        def shim(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return shim

    @contextlib.contextmanager
    def wrap(self, targets):
        """Patch ``(owner, attr, span_name)`` triples with timing shims."""
        saved = []
        try:
            for owner, attr, name in targets:
                orig = getattr(owner, attr)
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.traced(name, orig))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def self_times(self, since: int = 0) -> dict:
        """{span name: summed self seconds} over spans[since:]."""
        child = defaultdict(float)
        spans = self.spans[since:]
        for name, start, end, parent, _ in spans:
            if parent >= since:
                child[parent] += end - start
        out = defaultdict(float)
        for i, (name, start, end, _, _) in enumerate(spans, start=since):
            out[name] += (end - start) - child.get(i, 0.0)
        return dict(out)

    def totals(self, since: int = 0) -> dict:
        """{span name: (count, summed wall seconds)} over spans[since:]."""
        out: dict = {}
        for name, start, end, _, _ in self.spans[since:]:
            n, s = out.get(name, (0, 0.0))
            out[name] = (n + 1, s + end - start)
        return out

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        keys = ("name", "start", "end", "parent", "op")
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(dict(zip(keys, rec))) + "\n")
