"""Span recording around the engine's public entry points (traced runs only).

``Tracer.install()`` wraps, from outside the package, the public entry
points of each layer:

* ``sources``    -- ``read_parquet``, ``from_pandas``, ``from_spark``
* ``operators``  -- ``merge``/``merge_asof``/``concat``/``join``, the frame
  ``groupby``/``merge``/``join``/``resample`` methods and every public
  ``GroupBy``/``Resampler`` method
* ``functions``  -- the public functions of ``functions.text``,
  ``curation``, ``dedup`` and ``components`` and the ``.str``/``.dt``
  accessor methods
* ``action``     -- ``compute()`` and ``to_parquet`` (reported under
  ``collection.*``)
* ``collection`` -- every other public frame method, plus item access,
  attribute (column) access and the operator dunders

Each call records a span ``[id, name, layer, start, end, parent, op]`` in
memory (epoch seconds, the clock Spark's event log uses).  Whenever the
layer changes between a span and its parent, the span id becomes the Spark
job group, so every job the span's thread submits carries it into the event
log; same-layer children inherit the group, which is all that layer
attribution needs.  ``uninstall()`` restores the originals.
"""
from __future__ import annotations

import functools
import inspect
import time

_DUNDERS = ("__getitem__", "__getattr__", "__gt__", "__ge__", "__lt__", "__le__",
            "__eq__", "__ne__", "__and__", "__or__", "__invert__", "__add__",
            "__sub__", "__mul__", "__truediv__", "__floordiv__", "__radd__",
            "__rsub__", "__rmul__")
_OPERATOR_METHODS = {"groupby", "merge", "join", "resample"}
_ACTIONS = {"compute", "to_parquet"}


class Tracer:
    """Spans of one traced run, plus the source-call reuse counter."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._tags: list[int] = []
        self.op: int | None = None
        self.source_calls = 0
        self.source_reuse = 0
        self._seen_scans: dict = {}
        self._patches: list[tuple[object, str, object]] = []

    # -- spans -------------------------------------------------------------
    def begin(self, name: str, layer: str) -> int:
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append([sid, name, layer, time.time(), None, parent, self.op])
        self._stack.append(sid)
        if parent is None or self.spans[parent][2] != layer:
            self._tags.append(sid)
            self.sc.setJobGroup(str(sid), name)
        return sid

    def end(self, sid: int) -> None:
        rec = self.spans[sid]
        rec[4] = time.time()
        self._stack.pop()
        if self._tags and self._tags[-1] == sid:
            self._tags.pop()
            if self._tags:
                self.sc.setJobGroup(str(self._tags[-1]), self.spans[self._tags[-1]][1])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def run_op(self, name: str, fn):
        """Run one benchmark operation as a root span."""
        self.op = len(self.spans)
        sid = self.begin(name, "op")
        try:
            return fn()
        finally:
            self.end(sid)
            self.op = None

    # -- shims -------------------------------------------------------------
    def _wrap(self, fn, name: str, layer: str, after=None):
        tracer = self

        @functools.wraps(fn)
        def shim(*args, **kwargs):
            if tracer.op is None:
                return fn(*args, **kwargs)
            sid = tracer.begin(name, layer)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.end(sid)
            if after is not None:
                after(args, out)
            return out

        shim.__perfbench_shim__ = True
        return shim

    def _patch(self, owner, attr: str, layer: str, name: str, after=None) -> None:
        raw = owner.__dict__.get(attr) if isinstance(owner, type) else getattr(owner, attr)
        if raw is None or not inspect.isfunction(raw) or getattr(raw, "__perfbench_shim__", False):
            return
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, self._wrap(raw, name, layer, after))

    def _count_scan(self, args, out) -> None:
        """A source call reuses a scan when its frame lowers to the very
        Spark DataFrame an earlier call with the same arguments returned."""
        self.source_calls += 1
        op, self.op = self.op, None   # the lowering probe is not user work
        try:
            key = repr(args[:1])
            sdf = out.to_spark()
        except Exception:
            return
        finally:
            self.op = op
        if self._seen_scans.get(key) is sdf:
            self.source_reuse += 1
        self._seen_scans[key] = sdf

    def install(self) -> None:
        import pandas_expr_spark as pes
        from pandas_expr_spark import _collection as coll
        from pandas_expr_spark import sources
        from pandas_expr_spark.functions import (accessors, components, curation,
                                                 dedup, text)
        from pandas_expr_spark.operators import groupby, joins, setops

        for mod in (pes, sources):
            for fn in ("read_parquet", "from_pandas", "from_spark"):
                self._patch(mod, fn, "sources", fn, after=self._count_scan)
        for mod in (pes, joins, setops):
            for fn in ("merge", "merge_asof", "concat", "join"):
                if hasattr(mod, fn):
                    self._patch(mod, fn, "operators", fn)
        for mod in (text, curation, dedup, components):
            for fn in getattr(mod, "__all__", ()):
                self._patch(mod, fn, "functions", f"{mod.__name__.rsplit('.', 1)[-1]}.{fn}")
        for cls in _classes(accessors):
            for attr in _methods(cls):
                self._patch(cls, attr, "functions", f"{cls.__name__}.{attr}")
        for cls in _classes(groupby):
            for attr in _methods(cls):
                self._patch(cls, attr, "operators", f"{cls.__name__}.{attr}")
        for cls in (coll.FrameBase, coll.Scalar, coll.Series, coll.Index, coll.DataFrame):
            for attr in _methods(cls) + [d for d in _DUNDERS if d in cls.__dict__]:
                layer = ("action" if attr in _ACTIONS else
                         "operators" if attr in _OPERATOR_METHODS else "collection")
                self._patch(cls, attr, layer, f"{cls.__name__}.{attr}")

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()


def _classes(mod) -> list[type]:
    return [c for c in vars(mod).values()
            if isinstance(c, type) and c.__module__ == mod.__name__]


def _methods(cls) -> list[str]:
    return [a for a, v in cls.__dict__.items()
            if inspect.isfunction(v) and not a.startswith("_")]
