"""Span recording around each layer's public functions.

The engine reaches its layers through module attributes (``ST.commit_batch``,
``POL.admit_window``, ``FP.parse_article_pages`` ...), so swapping those
attributes for wrappers traces every call without touching the engine.
Spans live in memory and are written out once, when the run ends. Their
times are epoch seconds, the clock of the store's commit markers.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        # parent for spans opened on threads with no open span of their own
        # (the engine's commit and verify pools)
        self._root: int | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        sid = next(self._ids)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._root
        prev_root = self._root
        if root:
            self._root = sid
        stack.append(sid)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            stack.pop()
            if root:
                self._root = prev_root
            with self._lock:
                self.spans.append({"id": sid, "name": name, "parent": parent,
                                   "start": start, "end": end,
                                   "run": self.run_id, **attrs})

    def wrap(self, module, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``module.attr`` with a span-recording wrapper.
        ``attrs_fn(*args, **kwargs)`` may add attributes to each span."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = attrs_fn(*args, **kwargs) if attrs_fn else {}
            with self.span(name, **extra):
                return orig(*args, **kwargs)

        self.patch(module, attr, traced)

    def patch(self, module, attr: str, fn) -> None:
        """Replace ``module.attr`` with ``fn`` until ``unpatch``."""
        self._patched.append((module, attr, getattr(module, attr)))
        setattr(module, attr, fn)

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    # --- queries ---------------------------------------------------------
    def since(self, t0: float) -> "Tracer":
        """The spans that started at or after ``t0``, plus the root spans
        still open at ``t0``, cut to start there."""
        view = Tracer(self.run_id)
        view.spans = [s if s["start"] >= t0 else {**s, "start": t0}
                      for s in self.spans
                      if s["start"] >= t0 or (s["parent"] is None and s["end"] > t0)]
        return view

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_time(self, span: dict) -> float:
        """Duration minus the union of its children's intervals."""
        kids = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                      for c in self.spans if c["parent"] == span["id"])
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span["end"] - span["start"]) - covered

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")
