"""Spans around the benchmark's calls into the engine, for the traced run.

``install`` wraps every public module-level function of the engine's
``functions``, ``operators``, ``sources`` and ``streaming`` modules, and
rebinds the names other engine modules imported from them.  It must run
before ``plans.queries`` is imported, because that module binds names
at import.  A wrapper pickled into a Python worker finds no active
tracer there and calls straight through.

Spans stay in memory; the runner writes them out when it ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import itertools
import pkgutil
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "hadoop_3_3_6_spark"
WRAPPED_LAYERS = ("functions", "operators", "sources", "streaming")
_MODNAME = __name__

# The tracer the wrappers report to; None outside a traced run.
ACTIVE: Tracer | None = None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.query: str | None = None
        self.root: int | None = None  # parent for spans opened on other threads
        self._ids = itertools.count()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        parent = stack[-1] if stack else self.root
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append({"id": sid, "parent": parent, "name": name, "query": self.query, "t0": t0, "t1": t1})


def _wrap(orig, name: str):
    @functools.wraps(orig)
    def traced(*args, **kwargs):
        tracer = getattr(sys.modules.get(_MODNAME), "ACTIVE", None)
        if tracer is None:
            return orig(*args, **kwargs)
        with tracer.span(name):
            return orig(*args, **kwargs)

    return traced


def install() -> int:
    """Wrap the public functions of the traced layers; return how many."""
    originals: dict[int, object] = {}
    for layer in WRAPPED_LAYERS:
        pkg = importlib.import_module(f"{PACKAGE}.{layer}")
        mods = [pkg] + [importlib.import_module(f"{pkg.__name__}.{m.name}") for m in pkgutil.iter_modules(pkg.__path__)]
        for mod in mods:
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or not inspect.isfunction(obj) or obj.__module__ != mod.__name__:
                    continue
                name = f"{mod.__name__[len(PACKAGE) + 1:]}.{attr}"
                originals[id(obj)] = _wrap(obj, name)
    for modname, mod in list(sys.modules.items()):
        if mod is None or not (modname == PACKAGE or modname.startswith(PACKAGE + ".")):
            continue
        for attr, obj in list(vars(mod).items()):
            wrapper = originals.get(id(obj))
            if wrapper is not None and inspect.isfunction(obj):
                setattr(mod, attr, wrapper)
    return len(originals)


class StreamingProgress:
    """Collects state-operator progress from a StreamingQueryListener."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                events.append(
                    {
                        "t": time.perf_counter(),
                        "id": str(p.id),
                        "trigger_ms": float((p.durationMs or {}).get("triggerExecution", 0)),
                        "commit_ms": float(sum(o.commitTimeMs for o in ops)),
                        "stores": int(sum(o.numStateStoreInstances for o in ops)),
                        "rows": int(sum(o.numRowsTotal for o in ops)),
                        "mem": int(sum(o.memoryUsedBytes for o in ops)),
                    }
                )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
