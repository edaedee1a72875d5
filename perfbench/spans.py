"""In-memory span recorder and the wrappers that put spans around calls
into the package's public functions.

A span is (id, name, parent, op, t0, t1, attrs); ``name`` is the layer,
``op`` the operation the span belongs to (-1 for set-up). Spans are kept in
a list and written once, when the run ends. While a span is open every Spark
job the driver thread submits carries the span id as its job group, which is
how the event-log parser joins stages to spans.

A disabled tracer records nothing and sets no job group: the end-to-end run
measures with tracing off.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field
from typing import Callable, Dict, List, Optional


@dataclass
class Span:
    id: int
    name: str
    parent: Optional[int]
    op: int
    t0: float
    t1: float = 0.0
    attrs: Dict[str, float] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "parent": self.parent,
                "op": self.op, "t0": self.t0, "t1": self.t1,
                "attrs": self.attrs}

    @classmethod
    def from_json(cls, d: dict) -> "Span":
        return cls(d["id"], d["name"], d["parent"], d["op"], d["t0"],
                   d["t1"], dict(d.get("attrs", {})))


class Tracer:
    """Span recorder. ``sc``, when set, is the SparkContext whose job group
    tracks the innermost open span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.sc = None
        self.spans: List[Span] = []
        self._stack: List[Span] = []
        self.op = -1
        #: seconds spent opening and closing spans inside operations (the
        #: tracer's own cost; the event log's cost is not in it)
        self.bookkeeping_s = 0.0
        #: span id -> (tiles, overlap) of each tile-join call, counted after
        #: the timed loop so that counting adds nothing to operation times
        self.calls: Dict[int, tuple] = {}

    def count_calls(self, points) -> None:
        """Add candidate/expected/input row counts to the tile-join spans."""
        if points is None:
            return
        for sid, (tiles, overlap) in self.calls.items():
            self.spans[sid].attrs.update(points.assign_counts(tiles, overlap))
        self.calls.clear()

    def _set_group(self, span: Optional[Span]) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(str(span.id), span.name)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None,
                 self.op, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        t1 = time.perf_counter()
        try:
            yield s
        finally:
            t2 = time.perf_counter()
            s.t1 = time.time()
            self._stack.pop()
            self._set_group(parent)
            if s.op >= 0:
                self.bookkeeping_s += t1 - t0 + time.perf_counter() - t2

    def wrap(self, name: str, fn: Callable,
             on_result: Optional[Callable] = None) -> Callable:
        """``fn`` with a span around each call; ``on_result(span, args,
        kwargs, result)`` may add counts to the span."""
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as s:
                out = fn(*args, **kwargs)
                if on_result is not None and s is not None:
                    on_result(s, args, kwargs, out)
                return out
        return wrapper


@contextlib.contextmanager
def patched(targets):
    """Temporarily replace ``(owner, attr, replacement)`` attributes."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, repl in targets:
            setattr(owner, attr, repl)
        yield
    finally:
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)


def package_spans(tracer: Tracer) -> list:
    """The (owner, attr, wrapper) list that puts a span around each public
    function the tiling pipeline and the lineage pipeline call. The pipeline
    modules import these names at module level, so the wrapper goes on the
    importing module's attribute."""
    from osm2garmin_spark.pipeline import lineage, tiling

    def density_counts(span, args, kwargs, out):
        cells = getattr(out[0], "grid", None)
        if cells is not None:
            span.attrs["occupied_cells"] = float((cells != 0).sum())

    def quadtree_counts(span, args, kwargs, out):
        grid = args[0]
        span.attrs["grid_cells"] = float(grid.grid.size)
        span.attrs["tiles"] = float(len(out))

    def assign_call(span, args, kwargs, out):
        overlap = args[2] if len(args) > 2 else kwargs.get("overlap", 2000)
        tracer.calls[span.id] = (list(args[1]), overlap)

    out = []
    for mod in (tiling, lineage):
        out += [
            (mod, "collect_density",
             tracer.wrap("split.density", mod.collect_density, density_counts)),
            (mod, "split_area",
             tracer.wrap("split.quadtree", mod.split_area, quadtree_counts)),
            (mod, "assign_points_to_tiles",
             tracer.wrap("operators.tile_join", mod.assign_points_to_tiles,
                         assign_call)),
        ]
    out += [
        (tiling, "tile_counts",
         tracer.wrap("operators.tile_join", tiling.tile_counts)),
        (lineage.LineageStore, "completed",
         tracer.wrap("pipeline.lineage", lineage.LineageStore.completed)),
        (lineage.LineageStore, "commit",
         tracer.wrap("pipeline.lineage.commit", lineage.LineageStore.commit)),
    ]
    return out
