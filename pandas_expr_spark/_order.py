"""Positional anchoring: how a frame's rows are ordered and numbered.

Spark rows have no order, so a frame carries its pandas row order in at
most three hidden columns:

* ``_ORDER`` — the presentation stamp.  Order-changing ops (sort_values,
  nlargest, dedup→reset_index, concat, melt…) stamp it; only its ORDER
  matters, the values may be sparse.
* ``_ROWID`` — an anonymous index of positional labels (filter, dedup and
  alignment-join survivors keep their original labels).
* ``_LABEL`` — each row's pandas position, minted in-scan by the sources
  (parquet ``_metadata.row_index`` + file offsets; from_pandas numbers
  its rows directly).  It is valid only on an unindexed, unstamped frame and
  Catalyst prunes it from any plan that never reads it.

The invariant: a frame presents its rows in ``_ORDER`` order when
stamped, else in ``_ROWID`` order when that is its index, else in its
physical layout (which then equals ``_LABEL`` order).  ``compute()``
presents rows this way, and the two functions below are the only places
that turn the invariant into a key or a position — every positional op
asks them rather than choosing a branch itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame as SparkDF, Window
from pyspark.sql import functions as F

__all__ = ["order_key", "positions"]

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
