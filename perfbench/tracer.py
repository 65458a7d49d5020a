"""Span tracing for the traced run (``--trace 1``).

``Tracer.install`` wraps the engine's layer entry points in place: every
module binding of a wrapped function is replaced, so a function imported
by name (``from ... import load_table``, or through a star import) is
traced as well as the module attribute.  Each call records a span
``(id, name, start, end, parent, ctx)``: ``parent`` is the enclosing span
on the same thread and ``ctx`` the query name or ``stage:batch_id`` the
call ran under.  ``NullTracer`` has the same interface and records nothing;
the untraced run uses it so both runs execute the same code.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from contextlib import contextmanager

ENGINE = "kafka_streaming_spark"

#: Modules whose public functions form a layer, keyed by layer name.
FUNCTION_LAYERS = {
    "functions.graph": f"{ENGINE}.functions.graph",
    "functions.dedup": f"{ENGINE}.functions.dedup",
    "functions.similarity": f"{ENGINE}.functions.similarity",
    "functions.arrowops": f"{ENGINE}.functions.arrowops",
}

#: (module, class, method) → span name, for the streaming sinks and the
#: per-micro-batch bodies of the medallion pipeline.
METHOD_SPANS = {
    (f"{ENGINE}.io.sinks", "ParquetUpsertTable", "insert_if_absent"): "io.sinks.insert_if_absent",
    (f"{ENGINE}.io.sinks", "ParquetUpsertTable", "upsert_state"): "io.sinks.upsert_state",
    (f"{ENGINE}.io.sinks", "ParquetUpsertTable", "read_buckets"): "io.sinks.read_buckets",
    (f"{ENGINE}.io.serving", "ParquetServingWriter", "write"): "io.serving.write",
    (f"{ENGINE}.io.serving", "ParquetServingWriter", "compact"): "io.serving.compact",
    ("pyspark.sql.readwriter", "DataFrameReader", "parquet"): "pyspark.read",
}

#: Medallion foreachBatch bodies: (method, stage) — spans carry the batch id.
BATCH_BODIES = {
    "_silver_batch": "bronze_to_silver",
    "_gold_batch": "silver_to_gold",
    "_serving_batch": "gold_to_serving",
}


class NullTracer:
    recording = False
    spans: list[dict] = []

    @contextmanager
    def span(self, name: str, ctx: str | None = None):
        yield

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer(NullTracer):
    recording = True

    def __init__(self) -> None:
        self.spans = []
        self.t0 = time.perf_counter()
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, ctx: str | None = None):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "start": time.perf_counter() - self.t0,
                "end": None,
                "parent": stack[-1]["id"] if stack else None,
                "ctx": ctx or (stack[-1]["ctx"] if stack else None),
            }
            self.spans.append(rec)
        stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            stack.pop()

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def _wrap_batch(self, stage: str, fn):
        @functools.wraps(fn)
        def traced(pipe, batch_df, batch_id):
            with self.span(f"streaming.{stage}.batch", ctx=f"{stage}:{batch_id}"):
                return fn(pipe, batch_df, batch_id)

        return traced

    def _set(self, owner, attr: str, value) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def _rebind_everywhere(self, original, wrapper) -> None:
        """Replace every engine-module binding that *is* ``original``."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(ENGINE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is original:
                    self._set(mod, attr, wrapper)

    def install(self) -> None:
        import importlib

        schemas = importlib.import_module(f"{ENGINE}.schemas")
        importlib.import_module(f"{ENGINE}.queries")
        self._rebind_everywhere(
            schemas.load_table, self._wrap("schemas.load_table", schemas.load_table)
        )
        for layer, mod_name in FUNCTION_LAYERS.items():
            mod = importlib.import_module(mod_name)
            for attr, fn in list(vars(mod).items()):
                if (
                    inspect.isfunction(fn)
                    and fn.__module__ == mod_name
                    and not attr.startswith("_")
                ):
                    self._rebind_everywhere(fn, self._wrap(f"{layer}.{attr}", fn))
        for (mod_name, cls_name, meth), name in METHOD_SPANS.items():
            cls = getattr(importlib.import_module(mod_name), cls_name)
            self._set(cls, meth, self._wrap(name, getattr(cls, meth)))
        pipeline = importlib.import_module(f"{ENGINE}.streaming.pipeline")
        for meth, stage in BATCH_BODIES.items():
            cls = pipeline.MedallionPipeline
            self._set(cls, meth, self._wrap_batch(stage, getattr(cls, meth)))

    def uninstall(self) -> None:
        for owner, attr, value in reversed(self._patches):
            setattr(owner, attr, value)
        self._patches.clear()


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id → its duration minus the part of its interval that its
    children cover (children clipped to the parent's interval)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in kids.get(s["id"], [])
            if min(b, s["end"]) > max(a, s["start"])
        ]
        out[s["id"]] = (s["end"] - s["start"]) - covered(clipped)
    return out


def layer_of(name: str) -> str:
    """Layer of a span name: ``functions.graph.pagerank`` → ``functions.graph``;
    every other span name is its own layer."""
    for layer in FUNCTION_LAYERS:
        if name.startswith(layer + "."):
            return layer
    return name


def layer_totals(spans: list[dict]) -> dict[str, dict[str, float]]:
    """Per layer: ``calls``, ``self_s`` (sum of self times) and ``s`` (time
    inside the layer: durations of its spans not nested in the same layer)."""
    closed = [s for s in spans if s["end"] is not None]
    selfs = self_times(closed)
    by_id = {s["id"]: s for s in closed}
    out: dict[str, dict[str, float]] = {}
    for s in closed:
        layer = layer_of(s["name"])
        agg = out.setdefault(layer, {"calls": 0, "self_s": 0.0, "s": 0.0})
        agg["calls"] += 1
        agg["self_s"] += selfs[s["id"]]
        parent = by_id.get(s["parent"])
        if parent is None or layer_of(parent["name"]) != layer:
            agg["s"] += s["end"] - s["start"]
    return out
