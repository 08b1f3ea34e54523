"""Spans around calls into the program's layers.

The program is not edited: :meth:`Tracer.wrap` replaces a module or class
attribute with a wrapper that records a span.  Spans are kept in memory
and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import inspect
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        # name, layer, start, end, parent index, round id
        self.spans: list[tuple[str, str, float, float, int, int]] = []
        self.round = -1
        self._stack = threading.local()
        self._undo: list[tuple[object, str, object]] = []

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, layer: str):
        parents = self._parents()
        idx = len(self.spans)
        parent = parents[-1] if parents else -1
        self.spans.append((name, layer, time.perf_counter(), 0.0, parent, self.round))
        parents.append(idx)
        try:
            yield
        finally:
            parents.pop()
            n, lay, start, _, par, rnd = self.spans[idx]
            self.spans[idx] = (n, lay, start, time.perf_counter(), par, rnd)

    def wrap(self, owner, attr: str, layer: str, name: str | None = None) -> None:
        """Record a span named ``name`` (default ``attr``) around every call
        of ``owner.attr``; :meth:`unwrap_all` restores the original."""
        orig = inspect.getattr_static(owner, attr)
        fn = orig.__func__ if isinstance(orig, staticmethod) else orig
        label = name or attr

        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(label, layer):
                return fn(*a, **kw)

        setattr(owner, attr, staticmethod(traced) if isinstance(orig, staticmethod) else traced)
        self._undo.append((owner, attr, orig))

    def wrap_module(self, module, layer: str, prefix: str) -> None:
        """Wrap every public function defined in ``module``."""
        for attr, val in list(vars(module).items()):
            if (
                inspect.isfunction(val)
                and not attr.startswith("_")
                and val.__module__ == module.__name__
            ):
                self.wrap(module, attr, layer, f"{prefix}.{attr}")

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    def self_ms(self, rounds: set[int]) -> dict[str, float]:
        """Per layer: summed span time minus the time its direct child
        spans cover, over the given rounds, in milliseconds."""
        out: dict[str, float] = {}
        child_time = [0.0] * len(self.spans)
        for name, layer, start, end, parent, rnd in self.spans:
            if parent >= 0:
                child_time[parent] += end - start
        for i, (name, layer, start, end, parent, rnd) in enumerate(self.spans):
            if rnd in rounds:
                out[layer] = out.get(layer, 0.0) + (end - start - child_time[i]) * 1e3
        return out

    def layer_ms(self, rounds: set[int], layer: str, name: str | None = None) -> float:
        """Summed duration of the spans of ``layer`` (only those named
        ``name``, if given) in the given rounds, in milliseconds.  A span
        inside another span it would be summed with is not counted twice."""
        def counted(span) -> bool:
            return span[1] == layer and (name is None or span[0] == name)

        total = 0.0
        for span in self.spans:
            _, _, start, end, parent, rnd = span
            if rnd in rounds and counted(span) and not (
                parent >= 0 and counted(self.spans[parent])
            ):
                total += (end - start) * 1e3
        return total

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for name, layer, start, end, parent, rnd in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": name,
                            "layer": layer,
                            "start": start,
                            "end": end,
                            "parent": parent,
                            "round": rnd,
                        }
                    )
                    + "\n"
                )
