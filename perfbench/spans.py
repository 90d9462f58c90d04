"""In-memory spans around calls into the engine's layers.

The tracer wraps public functions from the outside (no program file
changes) and tags every Spark job started inside a span with the span's
own job group, so the event log attributes jobs, stages and tasks to the
innermost span that launched them. Spans stay in memory until
``Tracer.dump`` writes them as JSON lines.

``install`` must run before ``dist_keras_spark.plans`` is imported: the
plan modules bind ``load_table`` (as ``_lt``) and operator functions at
import time, so only a wrapper already in place is seen by them.
"""

from __future__ import annotations

import functools
import inspect
import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

GROUP_PREFIX = "perfbench:"


class Tracer:
    def __init__(self, workload: str) -> None:
        self.workload = workload
        self.spans: list[dict] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    # --- per-thread context -------------------------------------------
    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def active(self) -> bool:
        return bool(self._stack())

    @contextmanager
    def span(self, name: str, **ctx):
        """Record one span; nested spans inherit the outer context."""
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = next(self._ids)
        rec = {
            "id": sid,
            "parent": parent["id"] if parent else None,
            "name": name,
            "workload": self.workload,
            **({k: parent[k] for k in ("rep", "client", "query")} if parent else {}),
            **ctx,
            "group": GROUP_PREFIX + str(sid),
        }
        stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(stack[-1]["group"], stack[-1]["name"])
                else:
                    self.sc._jsc.clearJobGroup()
            with self._lock:
                self.spans.append(rec)

    def wrap(self, fn, name: str, always: bool = False):
        """``fn`` recording a span named ``name`` when called inside a
        traced execution (or on every call with ``always``)."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not (always or self.active()):
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in sorted(self.spans, key=lambda r: r["id"]):
                fh.write(json.dumps(rec) + "\n")


def _public_functions(mod):
    for name, obj in vars(mod).items():
        if (
            not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == mod.__name__
        ):
            yield name, obj


def install(tracer: Tracer) -> None:
    """Wrap ``session.get_spark``, ``tables.load_table`` and the public
    functions of ``operators.dedup`` and ``operators.similarity``."""
    if "dist_keras_spark.plans" in sys.modules:
        raise RuntimeError("install the tracer before importing dist_keras_spark.plans")
    from dist_keras_spark import session
    from dist_keras_spark.operators import dedup, similarity
    from dist_keras_spark.sources import tables

    session.get_spark = tracer.wrap(session.get_spark, "session.get_spark", always=True)
    tables.load_table = tracer.wrap(tables.load_table, "sources.load_table")
    for mod, layer in ((dedup, "operators.dedup"), (similarity, "operators.similarity")):
        for name, fn in list(_public_functions(mod)):
            setattr(mod, name, tracer.wrap(fn, f"{layer}.{name}"))
