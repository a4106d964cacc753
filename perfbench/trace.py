"""In-memory spans around calls into the library's layers, attributed to
Spark jobs through job groups.

A span sets the Spark job group to its own id for its duration and
restores its parent's on exit, so every job the library starts inside a
call -- eagerly during plan build or at the sink -- lands in the
innermost span that caused it.  :func:`install` wraps the library's
public entry points from the outside; timed runs never call it.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time


class Tracer:
    def __init__(self, harness):
        self._h = harness
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, layer: str, name: str, span_id: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = span_id or f"s{len(self.spans)}"
        rec = {"id": sid, "layer": layer, "name": name,
               "parent": parent["id"] if parent else None,
               "op": parent["op"] if parent else sid,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self._h.set_group(sid, f"{layer}.{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self._h.set_group(parent["id"],
                                  f"{parent['layer']}.{parent['name']}")

    def wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)

        return traced


def _rebind(original, replacement) -> None:
    """Point every library module attribute bound to ``original`` at
    ``replacement`` (callers that did ``from m import f`` hold their own
    reference)."""
    for mod_name, mod in list(sys.modules.items()):
        if mod is None or not mod_name.startswith("geoparquet_io_spark"):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)


def install(tracer: Tracer, queries: list[str]) -> None:
    """Wrap the entry points the workloads reach:

    - sources:   ``sources.geoparquet.read`` / ``write`` and
                 ``testsupport.tables.load_table``;
    - operators: ``GeoTable.extract`` / ``add_bbox`` / ``sort_hilbert``,
                 each registry query function in ``queries``, and
                 ``operators.similarity.semantic_dedup_incremental``.
    """
    import geoparquet_io_spark.queries as Q
    from geoparquet_io_spark.geotable import GeoTable
    from geoparquet_io_spark.operators import similarity
    from geoparquet_io_spark.sources import geoparquet
    from geoparquet_io_spark.testsupport import tables

    for layer, name, fn in (
            ("sources", "read", geoparquet.read),
            ("sources", "write", geoparquet.write),
            ("sources", "load_table", tables.load_table),
            ("operators", "semantic_dedup_incremental",
             similarity.semantic_dedup_incremental)):
        _rebind(fn, tracer.wrap(layer, name, fn))
    for method in ("extract", "add_bbox", "sort_hilbert"):
        setattr(GeoTable, method,
                tracer.wrap("operators", method, getattr(GeoTable, method)))
    for q in queries:
        fn, oracle = Q.REGISTRY[q]
        Q.REGISTRY[q] = (tracer.wrap("operators", q, fn), oracle)


# --- attribution ----------------------------------------------------------------


def children(spans):
    kids: dict[str, list] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    return kids


def self_time(span, kids) -> float:
    """Duration minus the part its children cover (children of one span
    run one after another on the single client thread)."""
    return (span["end"] - span["start"]) - sum(
        c["end"] - c["start"] for c in kids.get(span["id"], []))


def subtree_ids(span, kids) -> list[str]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        out.append(s["id"])
        todo.extend(kids.get(s["id"], []))
    return out


def layer_table(spans, groups) -> dict:
    """Self time and self counters (jobs in the span's own group) per
    layer, summed over ``spans``."""
    kids = children(spans)
    table: dict[str, dict] = {}
    for s in spans:
        row = table.setdefault(s["layer"], {"self_s": 0.0, "jobs": 0,
                                            "stages": 0, "tasks": 0})
        row["self_s"] += self_time(s, kids)
        g = groups.get(s["id"], {})
        for k in ("jobs", "stages", "tasks"):
            row[k] += g.get(k, 0)
    return table
