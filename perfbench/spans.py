"""Driver-side spans around calls into the package's public functions.

The benchmark changes no package code: a span is a wrapper installed on a
module attribute for the duration of a traced phase and removed after it.
Each span accumulates busy seconds and a call count. A layer's self time is
its span's seconds minus those of the spans nested inside it, as
``replay._layers`` computes for the dispatcher and the UDF body.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import threading
import time


class Spans:
    def __init__(self):
        self.seconds: dict[str, float] = {}
        self.calls: dict[str, int] = {}
        self._lock = threading.Lock()

    def add(self, name: str, seconds: float) -> None:
        with self._lock:
            self.seconds[name] = self.seconds.get(name, 0.0) + seconds
            self.calls[name] = self.calls.get(name, 0) + 1

    def s(self, name: str) -> float:
        return self.seconds.get(name, 0.0)

    def n(self, name: str) -> int:
        return self.calls.get(name, 0)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*a, **kw)
            finally:
                self.add(name, time.perf_counter() - t0)
        return timed

    @contextlib.contextmanager
    def patched(self, targets: dict[str, list[str]]):
        """Install spans on ``{span name: ["module:attr", ...]}`` and
        restore the originals on exit. One span may cover the same function
        imported under several module names."""
        saved = []
        try:
            for name, where in targets.items():
                for spec in where:
                    mod_name, attr = spec.split(":")
                    mod = importlib.import_module(mod_name)
                    orig = getattr(mod, attr)
                    saved.append((mod, attr, orig))
                    setattr(mod, attr, self.wrap(name, orig))
            yield self
        finally:
            for mod, attr, orig in reversed(saved):
                setattr(mod, attr, orig)
