"""Spans around the program's public functions, installed from outside.

For a traced run, each public function in ``spans.SPAN_SITES`` is
replaced, at every module attribute its callers look it up through, by a
wrapper that opens a span, calls the original and forces its result to
materialise inside the span (``cache`` + ``count`` for a DataFrame). Because
the wrappers sit at the call sites the program itself uses, the traced run
goes through ``run_senzing_pipeline`` and ``run_entity_linking`` exactly as
the untraced run does, call for call; only the materialisations are added.
Nothing is patched in an untraced run.
"""

from __future__ import annotations

import importlib
import os
import time
from contextlib import contextmanager

from spans import SPAN_SITES, Span, Tracer


def _owner(target: str):
    mod, _, cls = target.partition(":")
    obj = importlib.import_module(mod)
    return getattr(obj, cls) if cls else obj


def _dir_stats(path: str) -> tuple[int, int]:
    """(lines, bytes) over the part files of a Spark output directory."""
    lines = size = 0
    for name in os.listdir(path):
        if name.startswith(("_", ".")):
            continue
        with open(os.path.join(path, name), "rb") as f:
            data = f.read()
        size += len(data)
        lines += data.count(b"\n")
    return lines, size


class Instrumenter:
    """Installs the span wrappers while active; keeps every frame it
    cached so the caller can release them after each operation."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.held: list = []

    def release(self) -> None:
        for df in self.held:
            df.unpersist()
        self.held.clear()

    def _materialise(self, sp: Span, df):
        df = df.cache()
        sp.rows_out += df.count()
        self.held.append(df)
        return df

    def _wrap(self, name: str, fn):
        from pyspark.sql import DataFrame

        def wrapper(*args, **kwargs):
            with self.tracer.span(name) as sp:
                res = fn(*args, **kwargs)
                if name == "graph.k_hop":
                    t0 = time.perf_counter()
                    res._jdf.queryExecution().executedPlan()
                    t1 = time.perf_counter()
                    res = self._materialise(sp, res)
                    sp.extra["plan_ms"] = (t1 - t0) * 1e3
                    sp.extra["exec_ms"] = (time.perf_counter() - t1) * 1e3
                elif isinstance(res, DataFrame):
                    res = self._materialise(sp, res)
                elif isinstance(res, tuple):
                    res = tuple(self._materialise(sp, r) if isinstance(r, DataFrame) else r for r in res)
                elif name == "sources.write_jsonl":
                    sp.rows_out, sp.extra["bytes"] = _dir_stats(args[1])
                return res

        wrapper.__wrapped__ = fn
        return wrapper

    @contextmanager
    def active(self):
        saved = []
        try:
            for name, sites in SPAN_SITES.items():
                for target, attr in sites:
                    owner = _owner(target)
                    fn = owner.__dict__[attr]
                    saved.append((owner, attr, fn))
                    setattr(owner, attr, self._wrap(name, fn))
            yield self
        finally:
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)
