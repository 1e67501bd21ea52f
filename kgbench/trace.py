"""In-memory span tracing around the engine's layer calls.

A span records (name, start, end, parent span, run id). Spans stay in
memory and are written once, when the run ends. A layer is the part
of a span name before the first dot (``extract.extract_triples`` ->
``extract``); its self time is the wall time its spans cover minus the
part their child spans cover.

``instrument`` wraps the engine's public layer functions for a traced
run: each call opens a span and materializes the returned DataFrame
at the boundary (eager ``localCheckpoint``), so the span holds the
layer's real work instead of building a lazy plan. Untraced runs
never call it.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import itertools
import json
import sys
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans.append(Span(sid, name, start, time.perf_counter(),
                                   parent, self.run_id))

    def subtree(self, root: int) -> list[Span]:
        """The span ``root`` and every span below it."""
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out = [s for s in self.spans if s.span_id == root]
        todo = list(out)
        while todo:
            got = kids.get(todo.pop().span_id, [])
            out.extend(got)
            todo.extend(got)
        return out

    def write(self, path: str, extra: dict | None = None) -> None:
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id,
                       "spans": [asdict(s) for s in self.spans],
                       **(extra or {})}, f)


def total(spans: list[Span], name: str) -> float:
    """Summed duration of the spans called ``name``."""
    return sum(s.duration for s in spans if s.name == name)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    length, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                length += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        length += cur_e - cur_s
    return length


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per-layer self time: each span's duration minus the part of its
    interval covered by its children, summed by layer."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out: dict[str, float] = {}
    for s in spans:
        covered = _union_length([(max(c.start, s.start), min(c.end, s.end))
                                 for c in children.get(s.span_id, [])
                                 if c.end > s.start and c.start < s.end])
        out[s.layer] = out.get(s.layer, 0.0) + s.duration - covered
    return out


# (module, function, span name) of every wrapped layer call
LAYER_CALLS = [
    ("dygiepp_spark.sources.pages", "synth_pages", "sources.scan"),
    ("dygiepp_spark.sources.catalog", "write_table", "sources.write"),
    ("dygiepp_spark.operators.extract", "extract_triples_with_metrics",
     "extract.extract_triples"),
    ("dygiepp_spark.operators.dedup", "lsh_dedup_incremental",
     "dedup.incremental"),
    ("dygiepp_spark.operators.dedup", "lsh_band_table", "dedup.band_table"),
    ("dygiepp_spark.operators.linking", "mention_nodes",
     "linking.mention_nodes"),
    ("dygiepp_spark.operators.linking", "lsh_candidate_edges", "linking.lsh"),
    ("dygiepp_spark.operators.linking", "coref_edges", "linking.coref"),
    ("dygiepp_spark.operators.cc", "connected_components", "cc.solve"),
    ("dygiepp_spark.operators.cc", "cc_incremental", "cc.incremental"),
    ("dygiepp_spark.plans.pipeline", "run_extraction", "pipeline.extraction"),
]

def _materialize(result):
    """Eager ``localCheckpoint`` of a returned DataFrame, or of the
    DataFrame heading a returned tuple."""
    from pyspark.sql import DataFrame
    if isinstance(result, DataFrame):
        return result.localCheckpoint(eager=True)
    if (isinstance(result, tuple) and result
            and isinstance(result[0], DataFrame)):
        return (result[0].localCheckpoint(eager=True),) + result[1:]
    return result


@contextlib.contextmanager
def instrument(tracer: Tracer, on_call=None):
    """Wrap every LAYER_CALLS function, wherever a loaded
    ``dygiepp_spark`` module holds a reference to it, for the
    duration of the block. ``on_call(span_name, args, kwargs, result)``
    runs right after the call's span closes, to record counts."""
    patched: list[tuple[object, str, object]] = []
    for mod_name, fn_name, span_name in LAYER_CALLS:
        orig = getattr(importlib.import_module(mod_name), fn_name)

        def wrapper(*args, _orig=orig, _name=span_name, **kwargs):
            with tracer.span(_name):
                result = _materialize(_orig(*args, **kwargs))
            if on_call is not None:
                on_call(_name, args, kwargs, result)
            return result

        functools.update_wrapper(wrapper, orig)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith("dygiepp_spark")
                    and getattr(mod, fn_name, None) is orig):
                setattr(mod, fn_name, wrapper)
                patched.append((mod, fn_name, orig))
    try:
        yield
    finally:
        for mod, fn_name, orig in reversed(patched):
            setattr(mod, fn_name, orig)
