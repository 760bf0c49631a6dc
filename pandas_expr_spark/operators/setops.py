"""Set operations / concatenation (reference ``_concat.py`` → SURVEY §2.4).

``concat`` is the reference's only set op (axis=0, outer/inner column join —
``_concat.py:9-64``).  Spark's ``unionByName(allowMissingColumns=True)`` is
the exact distributed analogue: a union is shuffle-free (partitions are simply
appended), so this scales linearly.  We add the Spark-native set ops the
reference lacks (SURVEY §2.4): intersect / except / distinct-union.
"""

from __future__ import annotations

from functools import reduce as _reduce
from typing import Sequence

from .. import _dtypes as D
from .._expr import Node


def concat(frames: Sequence, join: str = "outer", axis: int = 0,
           ignore_index: bool = False, keys: Sequence | None = None,
           sort: bool = False):
    from .._collection import DataFrame, Series

    if not frames:
        raise ValueError("No objects to concatenate")
    if keys is not None and axis in (0, "index"):
        # pandas keys=: prepend a source-identifying outer index level —
        # a literal column per frame, zero data movement
        from pyspark.sql import functions as F
        if len(keys) != len(frames):
            raise ValueError("keys must match the number of frames")
        frames = [f.to_frame() if isinstance(f, Series) else f
                  for f in frames]
        # normalize every frame to an EXPLICIT index of the same depth
        # with canonical level column names — otherwise a mix of
        # default-index and labeled frames fails the recursive concat's
        # shared-index check and silently drops the key level (r5 pin)
        from .._collection import _ROWID, positions
        norm = [f if f._index_cols
                else DataFrame(positions(f), f._expr, (_ROWID,), (None,),
                               f._dtypes)
                for f in frames]
        depth = len(norm[0]._index_cols)
        if any(len(f._index_cols) != depth for f in norm):
            raise ValueError(
                "concat(keys=) requires every frame's index to have the "
                "same number of levels")
        canon = [f"__concat_idx_{i}__" for i in range(depth)]
        inner_names = tuple(norm[0]._index_names) if norm[0]._index_names \
            else (None,) * depth
        tagged = []
        for key, f in zip(keys, norm):
            sdf = f._sdf.select(
                F.lit(key).alias("__concat_key__"),
                *[F.col(c).alias(nm) for c, nm in
                  zip(f._index_cols, canon)],
                *f.columns)
            tagged.append(DataFrame(sdf, f._expr,
                                    ("__concat_key__",) + tuple(canon),
                                    (None,) + inner_names,
                                    f._entries(f.columns)))
        return concat(tagged, join=join, axis=0, ignore_index=False)
    if axis in (1, "columns"):
        # BEYOND the reference (which rejects axis=1,
        # `_collection.py:638-652`): pandas column-wise concat = index
        # alignment = a full-outer (or inner) equi-join on the index.
        if keys is not None:
            # pandas keys= on axis=1 → MultiIndex columns (key, col).
            # Engine-side the columns stay flat "key__col" Spark names
            # (which also disambiguates duplicate input names); the
            # column-axis record holds the (key, col) labels.
            from pyspark.sql import functions as F
            if len(keys) != len(frames):
                raise ValueError("keys must match the number of frames")
            frames = [f.to_frame() if isinstance(f, Series) else f
                      for f in frames]
            renamed = []
            for key, f in zip(keys, frames):
                m = {c: f"{key}__{c}" for c in f.columns}
                sdf = f._sdf.select(
                    *[F.col(ic) for ic in f._index_cols],
                    *[F.col(c).alias(m[c]) for c in f.columns])
                labels = {}
                for c in f.columns:
                    lab = f._axis.labels.get(c, c)
                    labels[m[c]] = (key,) + (lab if isinstance(lab, tuple)
                                             else (lab,))
                renamed.append(DataFrame(sdf, f._expr, f._index_cols,
                                         f._index_names, None,
                                         D.axis_record(labels)))
            return _concat_axis1(renamed, join)
        return _concat_axis1(frames, join)
    if axis not in (0, "index"):
        raise ValueError(f"axis must be 0 or 1, got {axis!r}")
    all_series = all(isinstance(f, Series) for f in frames)
    frames = [f.to_frame() if isinstance(f, Series) else f for f in frames]
    # pandas keeps a dtype record entry or a column label only where
    # every input agrees
    dtypes = {c: e for c, e in frames[0]._dtypes.items()
              if all(f._dtypes.get(c) == e for f in frames[1:])}
    axis = D.axis_record({c: lab for c, lab in frames[0]._axis.labels.items()
                          if all(f._axis.labels.get(c) == lab
                                 for f in frames[1:])})
    # each input's presentation-order stamp/anchor is only meaningful
    # WITHIN that input — union'd stamps collide.  Re-anchor every
    # default/rowid-index input to a DENSE within-input position
    # ``__cpos__``, then mint the result stamp arithmetically as
    # (input_k << 44) | __cpos__ — the presented order survives the union
    # with NO global sort, even when an input's physical layout is
    # scrambled.
    from pyspark.sql import functions as F
    from .._collection import _ORDER as _ORD, _ROWID as _RID, positions
    anchored, labeled = [], False
    for k, f in enumerate(frames):
        if tuple(f._index_cols) == (_RID,) and _ORD not in f._sdf.columns:
            # rowid labels are dense-bounded already
            sdf = f._sdf.withColumn("__cpos__", F.col(_RID))
        elif not f._index_cols or _ORD in f._sdf.columns:
            sdf = positions(f, "__cpos__").drop(_ORD)
        else:
            labeled = True
            break
        anchored.append((f, sdf))
    if labeled:
        # real labeled indexes: keep the label-aligned contract, no stamp
        frames = [DataFrame(f._sdf.drop(_ORD), f._expr, f._index_cols,
                            f._index_names) if _ORD in f._sdf.columns else f
                  for f in frames]
        stamp_order = False
    else:
        rebuilt = []
        for k, (f, sdf) in enumerate(anchored):
            sdf = sdf.withColumn(
                _ORD, F.lit(k << 44) + F.col("__cpos__"))
            if ignore_index:
                sdf = sdf.drop("__cpos__",
                               *([_RID] if _RID in sdf.columns else []))
                rebuilt.append(DataFrame(sdf, f._expr, (), None))
            else:
                # pandas keeps each input's OWN labels (duplicates and
                # all): rowid labels stay; stamped/plain default-index
                # inputs take their presented positions as labels
                if tuple(f._index_cols) != (_RID,):
                    sdf = sdf.withColumnRenamed("__cpos__", _RID)
                else:
                    sdf = sdf.drop("__cpos__")
                rebuilt.append(DataFrame(sdf, f._expr, (_RID,), (None,)))
        frames = rebuilt
        stamp_order = False  # stamp already minted per input
    stamp_col = [_ORD] if all(_ORD in f._sdf.columns for f in frames) \
        else []
    if join == "inner":
        shared_idx = frames[0]._index_cols if not ignore_index and all(
            f._index_cols == frames[0]._index_cols for f in frames) else ()
        common = [c for c in frames[0].columns
                  if all(c in f.columns for f in frames[1:])]
        sel = list(shared_idx) + common + stamp_col
        out = _reduce(lambda a, b: a.unionByName(b._sdf.select(*sel)),
                      frames[1:], frames[0]._sdf.select(*sel))
    elif join == "outer":
        # the index survives only when EVERY frame carries the same index
        # columns; otherwise a frame's private index column must not leak
        # into the union as a half-null data column
        shared_idx = frames[0]._index_cols if not ignore_index and all(
            f._index_cols == frames[0]._index_cols for f in frames) else ()
        out = _reduce(lambda a, b: a.unionByName(
                          b._sdf.select(*(list(shared_idx) + b.columns
                                          + stamp_col)),
                          allowMissingColumns=True),
                      frames[1:],
                      frames[0]._sdf.select(*(list(shared_idx)
                                              + frames[0].columns
                                              + stamp_col)))
    else:
        raise ValueError(f"join must be 'inner' or 'outer', got {join!r}")

    node = Node("concat", {"join": join, "n": len(frames)},
                *[f._expr for f in frames])
    idx = frames[0]._index_cols if not ignore_index and all(
        f._index_cols == frames[0]._index_cols for f in frames) else ()
    names = frames[0]._index_names if idx else None
    if sort:
        # pandas concat(sort=True): alphabetize the non-concat axis
        data_cols = sorted(c for c in out.columns
                           if c not in idx and c != _ORD)
        out = out.select(*list(idx), *data_cols, *stamp_col)
    res = DataFrame(out, node, idx, names, dtypes, axis)
    if all_series and len(res.columns) == 1:
        # pandas: concat of Series along axis=0 stays a Series
        return res[res.columns[0]]
    return res


def _concat_axis1(frames: Sequence, join: str):
    """pandas ``concat(axis=1)``: align frames on their index and lay the
    columns side by side, under their labels.  Each frame contributes its
    engine index (or an attached positional rowid); the alignment is ONE
    n-way equi-join on the index — Catalyst plans/reorders it like any
    join (broadcasts small frames, sort-merges large ones).  Duplicate
    output column names raise (Spark columns must be unique; pandas would
    keep both)."""
    from functools import reduce as _reduce
    from pyspark.sql import functions as F
    from .._collection import DataFrame, Series, _ROWID, positions

    if join not in ("outer", "inner"):
        raise ValueError(f"join must be 'inner' or 'outer', got {join!r}")
    frames = [f.to_frame() if isinstance(f, Series) else f for f in frames]
    all_cols = [c for f in frames for c in f.columns]
    if len(set(all_cols)) != len(all_cols):
        raise ValueError("concat(axis=1) with duplicate column names is not "
                         "supported (rename first)")

    IDX = "__cidx__"
    sides, dtypes, labels = [], {}, {}
    for f in frames:
        dtypes.update(f._entries(f.columns))
        labels.update(f._axis.labels)
        if f._index_cols:
            sdf = f._sdf.select(F.col(f._index_cols[0]).alias(IDX), *f.columns)
        else:
            sdf = positions(f).select(F.col(_ROWID).alias(IDX), *f.columns)
        sides.append(sdf)
    out = _reduce(lambda a, b: a.join(b, on=IDX, how="full" if join == "outer"
                                      else "inner"), sides)
    node = Node("concat_axis1", {"join": join, "n": len(frames)},
                *[f._expr for f in frames])
    axis = D.axis_record(labels)
    first = frames[0]
    idx_name = (first._index_names[0] if first._index_names else None) \
        if first._index_cols else None
    if idx_name:
        out = out.withColumnRenamed(IDX, idx_name)
        return DataFrame(out, node, (idx_name,), (idx_name,), dtypes, axis)
    return DataFrame(out, node, (IDX,), (None,), dtypes, axis)


def union(left, right, distinct: bool = False):
    from .._collection import DataFrame
    # set operations compare ROW VALUES: to_spark() leaves out the
    # synthetic engine columns (labels, stamps, rowid indexes), which must
    # never make two equal rows unequal or crash INTERSECT on a mismatch
    out = left.to_spark().unionByName(right.to_spark(),
                                      allowMissingColumns=True)
    if distinct:
        out = out.distinct()
    return DataFrame(out, Node("union", {"distinct": distinct},
                               left._expr, right._expr), (), None)


def intersect(left, right, all: bool = False):
    from .._collection import DataFrame
    l, r = left.to_spark(), right.to_spark()
    out = l.intersectAll(r) if all else l.intersect(r)
    return DataFrame(out, Node("intersect", {"all": all},
                               left._expr, right._expr), (), None)


def except_(left, right, all: bool = False):
    from .._collection import DataFrame
    l, r = left.to_spark(), right.to_spark()
    out = l.exceptAll(r) if all else l.subtract(r)
    return DataFrame(out, Node("except", {"all": all},
                               left._expr, right._expr), (), None)
