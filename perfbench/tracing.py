"""Spans around calls into the public functions of each kolang_spark layer.

``Tracer.install`` imports every module of the layer packages and
replaces each public function defined there, and every re-export of it
in an already-loaded ``kolang_spark`` module, with a wrapper that
records a span. It must run before ``__spark_entry__`` is imported so
that the registry binds the wrappers. Spans stay in memory; the worker
writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import pkgutil
import sys
import threading
import time

LAYERS = ("sources", "functions", "operators", "llm", "streaming", "utils")

# span fields
NAME, LAYER, START, END, PARENT, CHILD_S = range(6)


class Tracer:
    def __init__(self):
        self.spans: list = []
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, layer: str):
        """Record one span on the calling thread around the ``with`` body."""
        s = self._open(name, layer)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str, layer: str) -> list:
        stack = self._local.__dict__.setdefault("stack", [])
        s = [name, layer, time.time(), None, stack[-1] if stack else None, 0.0]
        self.spans.append(s)
        stack.append(s)
        return s

    def _close(self, s: list) -> None:
        self._local.stack.pop()
        s[END] = time.time()
        if s[PARENT] is not None:
            s[PARENT][CHILD_S] += s[END] - s[START]

    def _wrap(self, fn, layer: str, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        """Wrap every public layer function and rebind its re-exports."""
        wrapped = {}
        for layer in LAYERS:
            pkg = importlib.import_module(f"kolang_spark.{layer}")
            mods = [pkg]
            if hasattr(pkg, "__path__"):
                for info in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
                    mods.append(importlib.import_module(info.name))
            for mod in mods:
                for attr, obj in vars(mod).items():
                    if (
                        not attr.startswith("_")
                        and inspect.isfunction(obj)
                        and obj.__module__ == mod.__name__
                    ):
                        wrapped[id(obj)] = (obj, self._wrap(obj, layer, f"{mod.__name__}.{attr}"))
        for modname, mod in list(sys.modules.items()):
            if modname != "kolang_spark" and not modname.startswith("kolang_spark."):
                continue
            for attr, obj in list(vars(mod).items()):
                hit = wrapped.get(id(obj))
                if hit is not None and hit[0] is obj:
                    setattr(mod, attr, hit[1])

    def export(self) -> list:
        """Spans as JSON-ready dicts, parents given by index."""
        index = {id(s): i for i, s in enumerate(self.spans)}
        return [
            {
                "name": s[NAME],
                "layer": s[LAYER],
                "start": s[START],
                "end": s[END],
                "parent": None if s[PARENT] is None else index[id(s[PARENT])],
                "self_s": (s[END] - s[START]) - s[CHILD_S],
            }
            for s in self.spans
            if s[END] is not None
        ]

