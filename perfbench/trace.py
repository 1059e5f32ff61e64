"""Span recording for the traced run.

Every benchmark call into a layer becomes a span (name, start, end,
parent, op id). Spans stay in memory and are written once when the run
ends. ``wrap_module`` swaps a module's public functions for recording
wrappers; it must run before the query modules import them by name, so
those imports bind the wrappers.
"""

from __future__ import annotations

import functools
import inspect
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench.stats import self_times


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: str | None = None
        self._perf0, self._epoch0 = time.perf_counter(), time.time()

    def epoch(self, perf: float) -> float:
        """A span timestamp on the wall clock the Spark event log uses."""
        return self._epoch0 + (perf - self._perf0)

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(sp)
        self._stack.append(sp["id"])
        try:
            yield
        finally:
            self._stack.pop()
            sp["end"] = time.perf_counter()

    def wrap_module(self, module, layer: str) -> None:
        """Replace each public function defined in ``module`` by a wrapper
        that records a ``<layer>.<function>`` span."""
        for name, fn in list(vars(module).items()):
            if (
                name.startswith("_")
                or not inspect.isfunction(fn)
                or fn.__module__ != module.__name__
            ):
                continue
            setattr(module, name, self._wrap(fn, f"{layer}.{name}"))

    def _wrap(self, fn, span_name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        return wrapper

    def layer_self_times(self, op_ids: set[str]) -> dict[str, float]:
        """Self time summed per layer (the span name up to its last dot)
        over the spans of the given ops."""
        spans = [s for s in self.spans if s["op"] in op_ids and s["end"] is not None]
        own = self_times(spans)
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"].rsplit(".", 1)[0]] += own[s["id"]]
        return dict(out)

    def total(self, name: str, op_ids: set[str]) -> float:
        """Summed length of the spans called ``name`` in the given ops."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["end"] is not None and s["op"] in op_ids
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
