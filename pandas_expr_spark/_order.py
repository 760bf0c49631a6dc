"""Positional anchoring: how a frame's rows are ordered and numbered.

Spark rows have no order, so a frame carries its pandas row order in at
most three hidden columns:

* ``_ORDER`` — the presentation stamp.  Order-changing ops (sort_values,
  nlargest, dedup→reset_index, concat, melt…) stamp it; only its ORDER
  matters, the values may be sparse.
* ``_ROWID`` — an anonymous index of positional labels (filter, dedup and
  alignment survivors keep their original labels).
* ``_LABEL`` — each row's pandas position, minted in-scan by the sources
  (parquet ``_metadata.row_index`` + file offsets; from_pandas numbers
  its rows directly).  It is valid only on an unindexed, unstamped frame and
  Catalyst prunes it from any plan that never reads it.

The invariant: a frame presents its rows in ``_ORDER`` order when
stamped, else in ``_ROWID`` order when that is its index, else in its
physical layout (which then equals ``_LABEL`` order).  ``compute()``
presents rows this way, and ``order_key``/``positions`` are the only
places that turn the invariant into a key or a position — every
positional op asks them rather than choosing a branch itself.

Alignment — which foreign row pairs with which of ours — is the same
decision, and ``align`` is its one owner (reference ``_Align``).  A
frame's labels are its index columns; an unindexed frame's labels are its
presented positions, so any two frames align (``labeled`` gives the
frame indexed by them; merge's ``left_index``/``right_index`` read it
too).  ``how="left"`` is pandas' reindex onto the left frame (assign,
masks, where/mask, fillna, update): each left row once, in its presented
order, under its own labels and stamp — no sort is added — and a label
missing on the right gives null.
Two stamped frames indexed by rowid (a concat's) may repeat labels;
where the right repeats a label, its rows pair with the left's by
occurrence in presented order, as pandas pairs two equal indexes, so
every consumer keeps each left row once.  The other forms (outer, inner,
right) join on the labels and coalesce them into one index — the rowid
when both sides' labels are positions, so ``compute()`` presents the
rows in label order as pandas does — as arithmetic and
``combine_first`` need.  Labels of kinds that cannot be equal (strings
against numbers) match nothing, as in pandas.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["align", "labeled", "order_key", "positions"]

_ROWID = "__pes_rowid__"
_ORDER = "__pes_order__"
_LABEL = "__pes_label__"


def order_key(frame) -> tuple[SparkDF, list[str]]:
    """``(sdf, cols)``: the frame's rows plus columns that sort them in
    presented order.  The key need not be dense.  Cheapest first: the
    stamp, the rowid index, the valid in-scan label, and as the last
    resort a physical attach, added as the ``_ORDER`` stamp."""
    sdf = frame._sdf
    if _ORDER in sdf.columns:
        return sdf, [_ORDER]
    if tuple(frame._index_cols) == (_ROWID,):
        return sdf, [_ROWID]
    if _labels_valid(frame):
        return sdf, [_LABEL]
    return _attach_rowid(sdf, _ORDER), [_ORDER]


def positions(frame, name: str = _ROWID, upto: str = "attach"):
    """The frame's rows with their dense pandas positions 0..n-1, in
    presented order, as column ``name`` (replacing any column of that
    name; it must not be the rowid index itself).  ``upto`` caps the
    cost: ``"label"`` accepts only the free rename of a valid in-scan
    label, ``"pass"`` also one ranged position pass over the stamp or
    rowid index, ``"attach"`` also the physical attach.  Returns None
    when the cap rules out every path."""
    sdf = frame._sdf
    if _labels_valid(frame):
        return sdf.withColumnRenamed(_LABEL, name)
    if upto == "label":
        return None
    key = (_ORDER if _ORDER in sdf.columns else
           _ROWID if tuple(frame._index_cols) == (_ROWID,) else None)
    if key is not None:
        from .functions import scan
        return scan.global_pos(sdf.drop(name), [key], name=name)
    if upto == "pass":
        return None
    return _attach_rowid(sdf, name)


def _positional_order(frame):
    """``(sdf, order_cols, idx_cols, idx_names)``: the row order every
    positional op (cum*, shift/diff, fills, interpolate, rolling/
    expanding/ewm, and their grouped forms) runs in, and the index its
    result carries.  A stamp
    wins — a sort keeps its labels but presents in stamp order — then the
    index, then the frame's positions, which become the result's index.
    An unindexed stamped frame keeps no index: ``compute()`` presents it
    in stamp order with a RangeIndex, so it needs no position pass."""
    sdf = frame._sdf
    if _ORDER in sdf.columns:
        return sdf, [_ORDER], frame._index_cols, frame._index_names
    if frame._index_cols:
        return (sdf, list(frame._index_cols), frame._index_cols,
                frame._index_names)
    return positions(frame), [_ROWID], (_ROWID,), (None,)


def align(left, right, how: str = "left"):
    """``(joined, lmap, rmap)``: the rows of frames ``left`` and ``right``
    paired by label (module docstring), as one DataFrame whose columns
    ``lmap``/``rmap`` name each side's columns.  ``how="left"`` keeps
    every column of ``left``'s plan under its own name, and its index —
    an unindexed left takes its positions as the rowid index — and names
    ``right``'s columns apart from every column of ``left``'s plan, so a
    result can be aligned again.  The other forms carry the index in
    fresh ``__idx_i__`` columns, or in the rowid when both sides' labels
    are positions, so ``compute()`` presents them in label order.

    Two stamped, rowid-indexed frames (a concat's) may repeat labels:
    where the right repeats one, its occurrences pair with the left's in
    presented order, so each left row still appears once.

    The plan is built from SQL strings: each ``F.col`` is a dozen Py4J
    round trips, and every consumer builds one of these."""
    from ._collection import DataFrame
    from ._expr import Node
    lf, rf = labeled(left), labeled(right)
    lsdf, lidx = lf._sdf, list(lf._index_cols)
    rsdf, ridx = rf._sdf, list(rf._index_cols)
    if len(lidx) != len(ridx):
        raise ValueError("cannot align frames with different index widths")
    match = all(map(_comparable, _label_types(lf), _label_types(rf)))
    pre = "__r"     # no column of left's plan starts with it
    while any(c.startswith(pre) for c in lsdf.columns):
        pre += "r"
    rmap = {c: f"{pre}_{c}__" for c in right.columns}
    rkeys = [f"{pre}{i}__" for i in range(len(ridx))]
    rsel = [f"{_q(c)} AS {_q(k)}" for c, k in zip(ridx, rkeys)] + \
        [f"{_q(c)} AS {_q(rmap[c])}" for c in right.columns]
    node = Node("align", {"how": how}, left._expr, right._expr)
    names = lf._index_names
    if how == "left":
        lmap = {c: c for c in left.columns}
        if not match:
            types = right._sdf.schema
            joined = lsdf.withColumns(
                {rmap[c]: F.lit(None).cast(types[c].dataType)
                 for c in right.columns})
            return DataFrame(joined, node, lidx, names), lmap, rmap
        on = [f"{_q(a)} <=> {_q(k)}" for a, k in zip(lidx, rkeys)]
        occ = [f"{pre}occ__", f"{pre}rocc__", f"{pre}rn__"]
        if all(_ORDER in f._sdf.columns and f._index_cols == (_ROWID,)
               for f in (lf, rf)):
            # repeated labels pair by occurrence in presented order
            part = f"OVER (PARTITION BY {_q(_ROWID)}"
            num = f"row_number() {part} ORDER BY {_q(_ORDER)})"
            lsdf = lsdf.withColumn(occ[0], F.expr(num))
            rsel += [f"{num} AS {_q(occ[1])}",
                     f"count(1) {part}) AS {_q(occ[2])}"]
            on.append(f"({_q(occ[2])} = 1 OR {_q(occ[0])} = {_q(occ[1])})")
        joined = (lsdf.join(rsdf.selectExpr(*rsel), F.expr(" AND ".join(on)),
                            "left")
                  .drop(*rkeys, *occ))
        return DataFrame(joined, node, lidx, names), lmap, rmap
    lmap = {c: f"__l_{c}__" for c in left.columns}
    lkeys = [f"__lidx_{i}__" for i in range(len(lidx))]
    l2 = lsdf.selectExpr(
        *[f"{_q(c)} AS {_q(k)}" for c, k in zip(lidx, lkeys)],
        *[f"{_q(c)} AS {_q(lmap[c])}" for c in left.columns])
    on = (F.expr(" AND ".join(f"{_q(a)} <=> {_q(k)}"
                              for a, k in zip(lkeys, rkeys)))
          if match else F.lit(False))
    joined = l2.join(rsdf.selectExpr(*rsel), on, how)
    idx = ([_ROWID] if lidx == ridx == [_ROWID] else
           [f"__idx_{i}__" for i in range(len(lidx))])
    joined = joined.selectExpr(
        *[f"coalesce({_cast(a, match)}, {_cast(b, match)}) AS {_q(i)}"
          for a, b, i in zip(lkeys, rkeys, idx)],
        *map(_q, lmap.values()), *map(_q, rmap.values()))
    return DataFrame(joined, node, idx, names), lmap, rmap


def labeled(frame):
    """The frame indexed by its labels: its own index, else its presented
    positions as the rowid index."""
    if frame._index_cols:
        return frame
    from ._collection import DataFrame
    return DataFrame(positions(frame), frame._expr, (_ROWID,), (None,),
                     frame._dtypes, frame._axis)


def _q(name: str) -> str:
    """``name`` quoted as a SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _cast(name: str, match: bool) -> str:
    # labels of kinds that never match coalesce as strings
    return _q(name) if match else f"CAST({_q(name)} AS STRING)"


def _label_types(frame) -> list:
    """The Spark types of a labeled frame's index columns (rowids are
    positions: longs, with no schema lookup)."""
    return [T.LongType() if c == _ROWID else frame._sdf.schema[c].dataType
            for c in frame._index_cols]


def _comparable(a: T.DataType, b: T.DataType) -> bool:
    """Whether labels of Spark types ``a`` and ``b`` can ever be equal."""
    if type(a) is type(b) or T.NullType() in (a, b):
        return True
    kinds = (T.NumericType, (T.DateType, T.TimestampType, T.TimestampNTZType))
    return any(isinstance(a, k) and isinstance(b, k) for k in kinds)


def _labels_valid(frame) -> bool:
    # a stray _ROWID data column (a round-tripped engine file) blocks the
    # label rename — the physical attach replaces it instead
    return (not frame._index_cols
            and _LABEL in frame._sdf.columns
            and _ORDER not in frame._sdf.columns
            and _ROWID not in frame._sdf.columns)


def _attach_rowid(sdf: SparkDF, name: str = _ROWID) -> SparkDF:
    """Number the PHYSICAL layout 0..n-1 — entirely JVM-side.

    The distributed-sequence trick (same design as pandas-on-Spark's
    default index): ``monotonically_increasing_id`` holds the partition id
    in its upper 31 bits and the consecutive 0-based record number in the
    lower 33, so position = broadcast partition-start offset + record
    number — no window over the data, no shuffle, no Python.  The offsets
    come from a tiny per-partition count histogram.  A lazy
    ``localCheckpoint`` computes the upstream plan once for both the
    histogram and the data branch and pins the partition layout they
    share."""
    mask = (1 << 33) - 1
    base = (sdf.localCheckpoint(eager=False)
            .withColumn("__mid__", F.monotonically_increasing_id()))
    pid = F.shiftright(F.col("__mid__"), 33)
    counts = (base.groupBy(pid.alias("__pid__"))
              .agg(F.count(F.lit(1)).alias("__n__")))
    # cumsum over ≤ #partitions rows — a one-task window over a tiny frame
    w_off = (Window.orderBy("__pid__")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "__pid__",
        F.coalesce(F.sum("__n__").over(w_off), F.lit(0)).alias("__off__"))
    out = (base.join(F.broadcast(offsets),
                     pid == F.col("__pid__"))
           .withColumn(name,
                       F.col("__off__")
                       + F.col("__mid__").bitwiseAND(F.lit(mask)))
           .drop("__pid__", "__mid__", "__off__"))
    return out.select(*[c for c in sdf.columns if c != name], name)
