"""In-memory spans recorded around calls into the engine's public functions.

The benchmark wraps module attributes of the engine (``sinks.append_ledger``,
``rollups.daily_rollup``, ...) for the duration of a traced run. Each call
records a span ``(name, start, end, parent, request)``; spans nest per thread,
so a layer's self time is its duration minus the part its child spans cover.
Nothing is written until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.request: int | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": stack[-1] if stack else None,
            "request": self.request,
        }
        self.spans.append(rec)
        stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def wrap(self, module: object, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper until :meth:`restore`."""
        if not self.enabled:
            return
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def spanned(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        self._patched.append((module, attr, fn))
        setattr(module, attr, spanned)

    def restore(self) -> None:
        for module, attr, fn in reversed(self._patched):
            setattr(module, attr, fn)
        self._patched.clear()

    def self_times(self) -> dict[tuple[str, int | None], list[float]]:
        """``(name, request) -> [self seconds per span]`` for finished spans."""
        child: dict[int, float] = {}
        for rec in self.spans:
            if rec["end"] is not None and rec["parent"] is not None:
                child[rec["parent"]] = child.get(rec["parent"], 0.0) + rec["end"] - rec["start"]
        out: dict[tuple[str, int | None], list[float]] = {}
        for i, rec in enumerate(self.spans):
            if rec["end"] is None:
                continue
            own = rec["end"] - rec["start"] - child.get(i, 0.0)
            out.setdefault((rec["name"], rec["request"]), []).append(own)
        return out

    def per_request(self, name: str, requests: list[int]) -> list[float]:
        """Summed self time of ``name`` in each of ``requests``."""
        st = self.self_times()
        return [sum(st.get((name, r), [])) for r in requests]

    def durations(self, name: str, requests: list[int]) -> list[float]:
        """Summed full duration (children included) of ``name`` per request."""
        out = {r: 0.0 for r in requests}
        for rec in self.spans:
            if rec["name"] == name and rec["request"] in out and rec["end"] is not None:
                out[rec["request"]] += rec["end"] - rec["start"]
        return [out[r] for r in requests]

    def count(self, name: str, requests: list[int]) -> list[int]:
        st = self.self_times()
        return [len(st.get((name, r), [])) for r in requests]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)
