"""Spans around the benchmark's calls into each layer.

A span has a name, start, end, parent and key (the query or program it
belongs to). Spans stay in memory and are written once, at exit, each
with its self time: its duration minus the part its child spans cover.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, key: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        rec = {
            "name": name,
            "key": key if key is not None else (parent or {}).get("key"),
            "parent": parent["id"] if parent else None,
            "start": time.time(),
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if isinstance(out, int):
                    rec["count"] = out
                return out

        return traced

    def patch(self, module_name: str, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a traced wrapper, and every other
        loaded binding of the same function (``from m import f`` copies)."""
        original = getattr(sys.modules[module_name], attr)
        traced = self.wrap(original, name)
        for mod in list(sys.modules.values()):
            modname = getattr(mod, "__name__", "")
            if not (
                modname.startswith("flink_streaming_2_10_spark")
                or modname == "__spark_entry__"
            ):
                continue
            if getattr(mod, attr, None) is original:
                setattr(mod, attr, traced)
                self._patched.append((mod, attr, original))

    def unpatch(self) -> None:
        for mod, attr, original in reversed(self._patched):
            setattr(mod, attr, original)
        self._patched.clear()

    def finished(self) -> list[dict]:
        return [s for s in self.spans if "end" in s]

    def self_times(self) -> None:
        """Set ``self_s`` on every finished span."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                children.setdefault(s["parent"], []).append(s)
        for s in self.spans:
            if "end" not in s:
                continue
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            s["self_s"] = (s["end"] - s["start"]) - covered

    def write(self, path: str) -> None:
        self.self_times()
        with open(path, "w") as f:
            json.dump(self.finished(), f)
