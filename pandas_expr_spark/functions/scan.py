"""Distributed prefix scans over a globally ordered frame.

pandas' positional ops (``cumsum``/``cummax``/``shift``/``diff``…) assume one
totally ordered sequence.  The naive Spark translation — a global
``Window.orderBy(...)`` with no partition key — funnels every row through a
single task and is unusable at 100 TB.  This module implements the classic
two-phase parallel scan instead (Blelloch, "Prefix Sums and Their
Applications", 1990); ``timeseries.py``'s global EWM kernels run on the
same helpers (``_ranged``, ``_map_in_pandas``, ``_split_scanned``):

1. ``repartitionByRange(order)`` + local sort → partitions are globally
   ordered and ``spark_partition_id()`` is monotone in the order key.
2. **Local phase**: each partition computes its own running accumulation
   (Arrow-batched ``mapInPandas``, numpy-vectorized, state carried across
   batches within the partition) and ends with one marker row carrying
   the partition's summary (totals / last non-null / row count) in the
   regular output columns.
3. **Carry phase**: the pass's output is pinned once
   (``_split_scanned``) and split into the data rows and the #partitions
   marker rows; the marker rows are folded into exclusive prefix carries
   with a window over that tiny table — thousands of rows at 100 TB,
   never the data itself — then broadcast-joined back and combined.

Total cost: one range shuffle + one tiny reduction, independent of how much
data any single executor holds.  ``global_pos`` (the 0-based position of
every row) powers ``shift``/``diff``/``pct_change`` as *equi-joins* on the
position — fully distributed, no window at all.

The reference has none of these ops (SURVEY §2.7 — no sort_values, no
cumulative family); they are part of the Spark-native superset.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["prefix_scan", "global_pos", "is_monotonic", "rolling_minmax",
           "rolling_apply", "rolling_agg_frame", "last_scan"]

_PID = "__pes_pid__"

# op → (JVM partition-total agg, combine(local, carry) patch, pandas local fn)
_OPS = {
    "sum": (F.sum, lambda c, carry: c + carry, "cumsum"),
    "prod": (F.product, lambda c, carry: c * carry, "cumprod"),
    "max": (F.max, F.greatest, "cummax"),
    "min": (F.min, F.least, "cummin"),
}

_IDENTITY = {"sum": 0.0, "prod": 1.0}


def _ranged(sdf: SparkDF, order_by: list[str],
            num_partitions: int | None,
            descending: list[bool] | None = None) -> SparkDF:
    """Range-partition + locally sort.

    Since optimization r9 the ranged table has exactly ONE consumer: the
    fused local+summary ``mapInPandas`` pass of each scan op (the
    per-partition summary rides out of the same pass as marker rows, see
    ``_split_scanned``) — so no checkpoint is needed HERE.  The op's
    *output* is checkpointed instead: that is the point the plan forks
    into the summary-collect and per-row branches, and pinning one
    physical RDD there is what keeps ``repartitionByRange``'s boundary
    sampling (only *usually* deterministic across re-executions; empty
    input slices were observed to diverge two executions' boundaries,
    silently corrupting global positions) from ever running twice."""
    n = num_partitions or sdf.sparkSession.sparkContext.defaultParallelism
    desc = descending or [False] * len(order_by)
    keys = [F.col(c).desc() if d else F.col(c).asc()
            for c, d in zip(order_by, desc)]
    return (sdf.repartitionByRange(n, *keys)
            .sortWithinPartitions(*keys)
            .withColumn(_PID, F.spark_partition_id()))


def _map_in_pandas(part: SparkDF, fn, schema: T.StructType,
                   reads=()) -> SparkDF:
    """``part.mapInPandas(fn, schema)`` for a local pass that carries
    every column of ``part`` through and reads only ``reads``.

    A nullable bigint column reaches pandas as float64 whenever its
    Arrow batch holds a null, and comes back without the digits beyond
    2**53.  Each such column the pass only carries travels as its value
    (0 where null) plus a null flag instead, and is restored after."""
    held = [f.name for f in part.schema.fields
            if isinstance(f.dataType, T.LongType) and f.nullable
            and f.name not in reads]
    if not held:
        return part.mapInPandas(fn, schema)
    flag = {c: f"__pes_null_{c}__" for c in held}
    part = part.withColumns(
        {**{fl: F.col(c).isNull() for c, fl in flag.items()},
         **{c: F.coalesce(F.col(c), F.lit(0).cast("long")) for c in held}})
    schema = T.StructType(list(schema.fields) + [
        T.StructField(fl, T.BooleanType(), False) for fl in flag.values()])
    return (part.mapInPandas(fn, schema)
            .withColumns({c: F.when(~F.col(fl), F.col(c))
                          for c, fl in flag.items()})
            .drop(*flag.values()))


def _out_type(dt: T.DataType, op: str) -> T.DataType:
    if op in ("sum", "prod") and isinstance(
            dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return T.LongType()
    return dt


_MARK = "__pes_sum__"


def _split_scanned(scanned: SparkDF, summary_cols: list[str]):
    """Pin the fused local+summary ``mapInPandas`` output and split it.

    Optimization r9 (the scan-family job-floor rework): every scan op's
    local pass emits ONE trailing marker row per partition carrying that
    partition's summary (totals / last-non-null / row count) in the
    regular output columns — the old separate summary branch (a second
    full aggregate pass over the ranged table + its groupBy exchange)
    is gone; the carry fold below operates on the #partitions marker
    rows filtered out of the SAME pass.

    The output is ``localCheckpoint``-ed (lazy).  What actually
    guarantees correctness here (r8-advice docstring fix — the old text
    credited block-manager locks, which do not serialize across
    executors):

    * ONE pinned physical RDD means ``repartitionByRange``'s boundary
      sampling and the range shuffle run exactly once — the divergence
      class where two executions sampled different boundaries (duplicate
      positions, fan-out joins) cannot recur regardless of which branch
      materializes first (AQE may build the carry broadcast and the
      per-row branch's first map stage CONCURRENTLY).
    * summary/data consistency no longer depends on scheduling at all:
      the marker row is computed IN THE SAME TASK as its partition's
      data rows, and every summary value is a multiset aggregate
      (total / last-non-null / row count), invariant under the one
      remaining nondeterminism — tie order among equal sort keys if a
      partition were ever recomputed on another executor.
    * multiple consumers of one scan op's OUTPUT (rolling's lag/fwd
      branches) additionally rely on each cached partition being
      computed once so that positions among tied sort keys agree across
      branches; the local-mode block manager serializes that
      (getOrCompute), the same contract the pre-r9 checkpoint+persist
      design relied on.  A cluster deployment would write the scanned
      table to a real checkpoint dir instead.

    Returns ``(data, summ)`` — the per-row branch (marker dropped) and
    the narrow #partitions-row summary table.
    """
    scanned = scanned.localCheckpoint(eager=False)
    summ = scanned.filter(F.col(_MARK)).select(_PID, *summary_cols)
    data = scanned.filter(~F.col(_MARK)).drop(_MARK)
    return data, summ


def prefix_scan(sdf: SparkDF, specs: list[tuple[str, str, str]],
                order_by: list[str],
                num_partitions: int | None = None,
                descending: list[bool] | None = None) -> SparkDF:
    """Running accumulation(s) over the global ``order_by`` order.

    ``specs`` is a list of ``(src_col, op, out_col)`` with
    ``op ∈ {sum, prod, max, min}``.  Null inputs yield null outputs and do
    not interrupt the accumulation (pandas ``skipna`` cumulatives).
    Returns the input rows (range-reordered) plus one output column per
    spec.
    """
    for _, op, _ in specs:
        if op not in _OPS:
            raise ValueError(f"prefix_scan op must be one of {list(_OPS)}, "
                             f"got {op!r}")
    part = _ranged(sdf, order_by, num_partitions, descending)

    src_types = {f.name: f.dataType for f in part.schema.fields}
    # out may overwrite src in place (pandas cum* style) or be a new column
    inplace = {out: _out_type(src_types[src], op)
               for src, op, out in specs if out == src}
    fields = [T.StructField(f.name, inplace.get(f.name, f.dataType),
                            f.nullable)
              for f in part.schema.fields]
    fields += [T.StructField(out, _out_type(src_types[src], op))
               for src, op, out in specs if out != src]
    fields.append(T.StructField(_MARK, T.BooleanType(), False))
    local_schema = T.StructType(fields)

    def _local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carries: dict[str, float | None] = {out: None for _, _, out in specs}
        last: pd.DataFrame | None = None
        for pdf in batches:
            pdf = pdf.copy()
            for src, op, out in specs:
                acc = getattr(pdf[src], _OPS[op][2])()
                carry = carries[out]
                if carry is not None:
                    if op == "sum":
                        acc = acc + carry
                    elif op == "prod":
                        acc = acc * carry
                    elif op == "max":
                        acc = np.maximum(acc, carry)  # NaN-propagating
                    else:
                        acc = np.minimum(acc, carry)
                valid = acc.dropna()
                if len(valid):
                    carries[out] = valid.iloc[-1]
                pdf[out] = acc
            pdf[_MARK] = False
            if len(pdf):
                last = pdf.iloc[[-1]].copy()
            yield pdf
        # trailing marker row: this partition's totals — the running
        # accumulation at partition end IS the per-partition aggregate
        # (same sequential fold the old JVM summary branch computed), so
        # the summary needs no second pass over the ranged table
        if last is not None:
            for _, _, out in specs:
                last[out] = carries[out]
            last[_MARK] = True
            yield last

    scanned = _map_in_pandas(part, _local, local_schema,
                             {src for src, _, _ in specs})
    data, summ = _split_scanned(scanned, [out for _, _, out in specs])

    # exclusive prefix fold of the per-partition totals over the
    # #partitions-row marker table (same Window aggregate as before the
    # r9 fold — only its input changed from a second aggregate pass to
    # the marker rows, which carry the identical sequential totals)
    w = (Window.orderBy(_PID)
         .rowsBetween(Window.unboundedPreceding, -1))
    carries = summ.select(F.col(_PID), *[
        _OPS[op][0](F.col(out)).over(w).alias(f"__carry_{out}")
        for _, op, out in specs])

    joined = data.join(F.broadcast(carries), _PID, "left")
    patched: dict[str, Column] = {}
    for src, op, out in specs:
        c, carry = F.col(out), F.col(f"__carry_{out}")
        if op in _IDENTITY:
            carry = F.coalesce(carry, F.lit(_IDENTITY[op]))
        if op in ("sum", "prod") and isinstance(
                src_types[src], (T.ByteType, T.ShortType, T.IntegerType,
                                 T.LongType)):
            # keep integer cumulatives integer (pandas int64): the float
            # identity literal (and F.product's double aggregate) would
            # otherwise promote the whole output column to double
            carry = carry.cast("long")
        combined = _OPS[op][1](c, carry)
        # null stays null; double NaN stays NaN (greatest/least would pick
        # around it, breaking pandas NaN propagation)
        guard = c.isNull()
        if isinstance(src_types[src], (T.DoubleType, T.FloatType)):
            guard = guard | F.isnan(c)
        patched[out] = F.when(guard, c).otherwise(combined).alias(out)
    final = [patched.pop(f.name, F.col(f.name))
             for f in part.schema.fields if f.name != _PID]
    final += patched.values()  # out columns that are not in-place
    return joined.select(*final)


def last_scan(sdf: SparkDF, cols: list[str], order_by: list[str],
              descending: list[bool] | None = None,
              num_partitions: int | None = None,
              limit: int | None = None) -> SparkDF:
    """Global forward-fill of ``cols`` in the total ``order_by`` order —
    the "carry the last non-null value" scan.

    Powers the no-``by`` asof join (``merge_asof`` with no grouping keys)
    and a global ``ffill``: the naive plan is a
    ``last(..., ignorenulls=True)`` over an UNPARTITIONED window — every
    row through one task.  Here, same two-phase shape as ``prefix_scan``:
    range-partition + local pandas ``ffill`` per partition, then one tiny
    summary row per partition (its last non-null value per column, taken
    from the partition's final ffilled row — order-exact, no reliance on
    aggregate traversal order), exclusive-prefix folded with
    ``last(ignorenulls)`` over the #partitions-row summary table,
    broadcast back, ``coalesce``d in.

    ``descending[i]`` reverses key *i* — a descending scan of the same
    keys is a backward-fill, which is how the forward/"nearest" asof
    directions reuse this primitive.

    ``limit=k`` (pandas ``ffill(limit=k)``): fill at most ``k`` rows past
    each non-null.  Same two-phase shape — the local pass tracks the gap
    since the last non-null across its batches, and the cross-partition
    patch carries the GLOBAL POSITION of each column's last non-null so a
    leading null is filled only when its distance ≤ k (a fully-null
    partition between the carrier and the reader just widens the
    distance).
    """
    part = _ranged(sdf, order_by, num_partitions, descending)
    schema = part.schema
    if limit is not None:
        return _last_scan_limited(part, cols, limit)
    local_schema = T.StructType(list(schema.fields)
                                + [T.StructField(_MARK, T.BooleanType(),
                                                 False)])

    def _local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry: pd.DataFrame | None = None
        for pdf in batches:
            pdf = pdf.copy()
            if carry is not None and len(pdf):
                pdf[cols] = pd.concat(
                    [carry[cols], pdf[cols]], ignore_index=True
                ).ffill().iloc[1:].reset_index(drop=True)
            else:
                pdf[cols] = pdf[cols].ffill()
            pdf[_MARK] = False
            if len(pdf):
                carry = pdf.iloc[[-1]]
            yield pdf
        # marker row: the ffilled last row's value per col IS the
        # partition's last non-null (null only when the whole partition
        # is null in that col) — the old separate summary pass folded in
        if carry is not None:
            summ = carry.copy()
            summ[_MARK] = True
            yield summ

    scanned = _map_in_pandas(part, _local, local_schema, cols)
    data, summ = _split_scanned(scanned, cols)
    w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    carries = summ.select(F.col(_PID), *[
        F.last(c, ignorenulls=True).over(w).alias(f"__carry_{c}")
        for c in cols])
    joined = data.join(F.broadcast(carries), _PID, "left")
    final = [F.coalesce(F.col(f.name), F.col(f"__carry_{f.name}"))
             .alias(f.name) if f.name in cols else F.col(f.name)
             for f in schema.fields if f.name != _PID]
    return joined.select(*final)


def _last_scan_limited(part: SparkDF, cols: list[str], limit: int) -> SparkDF:
    """``last_scan`` with pandas ``limit=`` semantics over an already
    range-partitioned input (``_PID`` attached).  One extra long column
    (the within-partition row offset) rides along so the cross-partition
    patch can compute each row's distance to the carried non-null."""
    schema = part.schema
    loff = "__loff__"
    local_fields = list(schema.fields) + [T.StructField(loff, T.LongType())]
    for c in cols:  # marker-row summary payload (r9): trailing gap per col
        local_fields.append(T.StructField(f"__t_{c}__", T.LongType()))
    local_fields.append(T.StructField(_MARK, T.BooleanType(), False))
    local_schema = T.StructType(local_fields)

    def _local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        state: dict = {c: (None, None) for c in cols}  # (value, gap)
        last: pd.DataFrame | None = None
        for pdf in batches:
            pdf = pdf.copy()
            n = len(pdf)
            pdf[loff] = np.arange(seen, seen + n, dtype="int64")
            seen += n
            for c in cols:
                s = pdf[c]
                nn = s.notna().to_numpy()
                filled = s.ffill(limit=limit)
                val, gap = state[c]
                if nn.any():
                    first_nn = int(nn.argmax())
                    last_nn = n - 1 - int(nn[::-1].argmax())
                    if val is not None and first_nn > 0:
                        k = min(first_nn, max(limit - gap, 0))
                        if k > 0:
                            filled.iloc[:k] = val
                    state[c] = (s.iloc[last_nn], n - 1 - last_nn)
                else:
                    if val is not None:
                        k = min(n, max(limit - gap, 0))
                        if k > 0:
                            filled.iloc[:k] = val
                        state[c] = (val, gap + n)
                pdf[c] = filled
            for c in cols:
                pdf[f"__t_{c}__"] = 0
            pdf[_MARK] = False
            if n:
                last = pdf.iloc[[-1]].copy()
            yield pdf
        # marker row: (last RAW non-null value, its trailing gap) per col
        # plus the partition row count (in __loff__) — the old separate
        # summary pass folded into this one (r9)
        if last is not None:
            for c in cols:
                val, gap = state[c]
                last[c] = val
                last[f"__t_{c}__"] = gap if val is not None else 0
            last[loff] = seen
            last[_MARK] = True
            yield last

    scanned = _map_in_pandas(part, _local, local_schema, cols)
    data, summ = _split_scanned(
        scanned, [loff] + cols + [f"__t_{c}__" for c in cols])
    # exclusive fold over the marker rows: __S__ = rows before this
    # partition (the marker's __loff__ carries the partition row count);
    # pack (value, its global position) so the ignorenulls fold carries
    # a CONSISTENT pair; a fully-null partition contributes no pack row
    # but its row count still widens every later distance via __S__
    w_ex = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    summ = summ.withColumn(
        "__S__", F.coalesce(F.sum(loff).over(w_ex), F.lit(0)))
    packs = {c: F.when(
        F.col(c).isNotNull(),
        F.struct(F.col(c).alias("v"),
                 (F.col("__S__") + F.col(loff) - F.col(f"__t_{c}__")
                  - 1).alias("g"))) for c in cols}
    summ = summ.withColumns({f"__pack_{c}__": packs[c] for c in cols})
    carries = summ.select(
        F.col(_PID), F.col("__S__"),
        *[F.last(f"__pack_{c}__", ignorenulls=True).over(w_ex)
          .alias(f"__carry_{c}") for c in cols])
    joined = data.join(F.broadcast(carries), _PID, "left")
    final = []
    for f in schema.fields:
        if f.name == _PID:
            continue
        if f.name in cols:
            carry = F.col(f"__carry_{f.name}")
            dist = F.col("__S__") + F.col(loff) - carry["g"]
            patched = F.when(
                F.col(f.name).isNull() & carry.isNotNull()
                & (dist <= F.lit(limit)), carry["v"]).otherwise(F.col(f.name))
            final.append(patched.alias(f.name))
        else:
            final.append(F.col(f.name))
    return joined.select(*final)


def global_pos(sdf: SparkDF, order_by: list[str], name: str = "__pos__",
               num_partitions: int | None = None,
               descending: list[bool] | None = None) -> SparkDF:
    """0-based global position of every row in ``order_by`` order — the
    distributed equivalent of ``zipWithIndex`` expressed in the DataFrame
    API: local ``arange`` per range partition + exclusive prefix of the
    (tiny) per-partition row counts."""
    part = _ranged(sdf, order_by, num_partitions, descending)
    fields = (list(part.schema.fields)
              + [T.StructField(name, T.LongType()),
                 T.StructField(_MARK, T.BooleanType(), False)])
    schema = T.StructType(fields)

    def _local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        seen = 0
        last: pd.DataFrame | None = None
        for pdf in batches:
            pdf = pdf.copy()
            pdf[name] = np.arange(seen, seen + len(pdf), dtype="int64")
            pdf[_MARK] = False
            seen += len(pdf)
            if len(pdf):
                last = pdf.iloc[[-1]].copy()
            yield pdf
        if last is not None:  # marker row: partition row count rides in
            last[name] = seen  # the position column (r9 summary fold)
            last[_MARK] = True
            yield last

    local = _map_in_pandas(part, _local, schema)
    data, summ = _split_scanned(local, [name])
    w = Window.orderBy(_PID).rowsBetween(Window.unboundedPreceding, -1)
    offsets = summ.select(  # marker rows carry the partition row counts
        F.col(_PID),
        F.coalesce(F.sum(name).over(w), F.lit(0)).alias("__off"))
    out = (data.join(F.broadcast(offsets), _PID, "left")
           .withColumn(name, F.col(name) + F.col("__off"))
           .drop(_PID, "__off"))
    return out


def rolling_minmax(sdf: SparkDF, col: str, order_by: list[str], window: int,
                   fn="min", min_periods: int | None = None,
                   out="__roll__",
                   num_partitions: int | None = None,
                   center: bool = False) -> SparkDF:
    """Global sliding min/max — the van Herk/Gil-Werman two-pass block
    algorithm, distributed:

    block = ``floor((pos-1)/window)`` (size = ``window`` rows, so every
    sliding window spans at most two blocks).  Per block compute the
    running PREFIX extreme (ordered asc) and running SUFFIX extreme
    (ordered desc) — both are windows PARTITIONED by block (bounded by
    ``window`` rows per task, never global).  Then
    ``sliding(i) = extreme(suffix[start], prefix[i])`` where
    ``start = i-window+1``, fetched with one equi-join on the global
    position.  Head windows (start in i's own block) use ``prefix[i]``
    alone.  Cost: one range shuffle (position) + one block-partitioned
    window pass + one position join.

    ``fn``/``out`` may be lists — min AND max then share the SAME scan,
    block windows, and position join (one pass total).

    ``center=True``: the window shifts forward by ``lead = (w-1) // 2`` —
    the prefix extreme is read at row ``min(P+lead, n)`` (one more
    position join + a broadcast totals row for the truncated tail,
    where the suffix of the window's start block already covers the
    whole ``[start, n]`` window when both ends share a block).
    """
    fns = [fn] if isinstance(fn, str) else list(fn)
    outs = [out] if isinstance(out, str) else list(out)
    if len(fns) != len(outs):
        raise ValueError("rolling_minmax: fn and out must have equal length")
    for f in fns:
        if f not in ("min", "max"):
            raise ValueError(f"rolling_minmax: fn must be min/max, got {f!r}")
    minp = window if min_periods is None else min_periods
    lead = (window - 1) // 2 if center else 0
    nn = "__nn__"
    base = (sdf
            .withColumn(nn, F.col(col).isNotNull().cast("long"))
            .withColumn("__one__", F.lit(1).cast("long")))
    scanned = prefix_scan(base, [(nn, "sum", "__C__"),
                                 ("__one__", "sum", "__P__")],
                          order_by, num_partitions)
    blk = F.floor((F.col("__P__") - 1) / window)
    pos = scanned.withColumn("__blk__", blk)  # checkpoint-backed (r9)
    wpre = (Window.partitionBy("__blk__").orderBy(F.col("__P__").asc())
            .rowsBetween(Window.unboundedPreceding, 0))
    wsuf = (Window.partitionBy("__blk__").orderBy(F.col("__P__").desc())
            .rowsBetween(Window.unboundedPreceding, 0))
    marked = pos
    for i, f in enumerate(fns):
        agg = F.min if f == "min" else F.max
        marked = (marked
                  .withColumn(f"__pre{i}__", agg(F.col(col)).over(wpre))
                  .withColumn(f"__suf{i}__", agg(F.col(col)).over(wsuf)))
    start = F.col("__P__") - window + 1 + lead
    # the start row also answers the min_periods guard: the running
    # non-null count just BEFORE the window, C(SP-1), equals
    # C(SP) - nn(SP) (both exact int64 prefix terms) — so the old
    # second position join (lagged counts at P+window-lead) folds into
    # this one join (optimization r8: one exchange pair removed per
    # rolling min/max).  Early rows clamp SP to 1, where
    # C(1) - nn(1) = 0 reproduces the old coalesce(null, 0).
    suf_at_start = marked.select(
        F.col("__P__").alias("__SP__"),
        F.col("__blk__").alias("__blk_s__"),
        (F.col("__C__") - F.col(nn)).alias("__Cl__"),
        *[F.col(f"__suf{i}__").alias(f"__suf_s{i}__")
          for i in range(len(fns))])
    j = (marked.withColumn("__SP__", F.greatest(start, F.lit(1)))
         .join(suf_at_start, "__SP__", "left"))
    if lead:
        # forward edge of the centered window: prefix extremes + running
        # count read at row P+lead; truncated-tail rows fall back to the
        # global totals row (prefix at n / blk(n) / C(n))
        fwd = marked.select(
            (F.col("__P__") - lead).alias("__P__"),
            F.col("__blk__").alias("__blk_h__"),
            F.col("__C__").alias("__Cf__"),
            *[F.col(f"__pre{i}__").alias(f"__pre_h{i}__")
              for i in range(len(fns))])
        j = j.join(fwd, "__P__", "left")
        tot = marked.agg(
            F.max("__P__").alias("__Pt__"),
            F.max("__blk__").alias("__blk_t__"),
            F.max_by("__C__", "__P__").alias("__Ct__"),
            *[F.max_by(f"__pre{i}__", "__P__").alias(f"__pre_t{i}__")
              for i in range(len(fns))])
        j = j.crossJoin(F.broadcast(tot))
        # fall back to the totals row ONLY for truncated-tail positions —
        # a null prefix/blk from the join is legitimate (all-null block
        # head), not a missed join, so coalesce() would be wrong here
        truncated = (F.col("__P__") + lead) > F.col("__Pt__")
        blk_hi = (F.when(truncated, F.col("__blk_t__"))
                  .otherwise(F.col("__blk_h__")))
        wcnt = (F.when(truncated, F.col("__Ct__")).otherwise(F.col("__Cf__"))
                - F.coalesce(F.col("__Cl__"), F.lit(0)))
    else:
        truncated = F.lit(False)
        blk_hi = F.col("__blk__")
        wcnt = F.col("__C__") - F.coalesce(F.col("__Cl__"), F.lit(0))
    drop = ["__P__", "__C__", "__Cl__", "__SP__", "__blk__", "__blk_s__",
            nn, "__one__"]
    if lead:
        drop += ["__blk_h__", "__Cf__", "__Pt__", "__blk_t__", "__Ct__"]
    for i, (f, o) in enumerate(zip(fns, outs)):
        pre_hi = (F.when(truncated, F.col(f"__pre_t{i}__"))
                  .otherwise(F.col(f"__pre_h{i}__"))
                  if lead else F.col(f"__pre{i}__"))
        combine = (F.least(F.col(f"__suf_s{i}__"), pre_hi) if f == "min"
                   else F.greatest(F.col(f"__suf_s{i}__"), pre_hi))
        # same-block: a non-truncated window IS the block prefix up to hi
        # (head windows); a truncated one IS the start row's block suffix
        same_blk = (F.when(truncated, F.col(f"__suf_s{i}__"))
                    .otherwise(pre_hi))
        both = F.when(F.col("__blk_s__") < blk_hi, combine) \
            .otherwise(same_blk)
        j = j.withColumn(o, F.when(wcnt >= F.lit(minp), both)
                         .otherwise(F.lit(None)))
        drop += [f"__pre{i}__", f"__suf{i}__", f"__suf_s{i}__"]
        if lead:
            drop += [f"__pre_h{i}__", f"__pre_t{i}__"]
    return j.drop(*drop)


def is_monotonic(sdf: SparkDF, col: str, order_by: list[str],
                 increasing: bool = True,
                 num_partitions: int | None = None) -> bool:
    """pandas ``is_monotonic_increasing``/``_decreasing`` over the global
    order: per-partition sortedness (one tiny summary row each) + boundary
    comparison between consecutive partitions.  Any null → False (pandas).
    Works for every orderable dtype (numbers, strings, timestamps)."""
    part = _ranged(sdf.select(*order_by, col), order_by, num_partitions)
    schema = T.StructType([
        T.StructField(_PID, T.IntegerType()),
        T.StructField("__ok", T.BooleanType()),
        T.StructField("__nulls", T.BooleanType()),
        T.StructField("__first", part.schema[col].dataType),
        T.StructField("__last", part.schema[col].dataType),
    ])

    def _summ(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ok, nulls, first, last, pid = True, False, None, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            pid = int(pdf[_PID].iloc[0])
            s = pdf[col]
            nulls = nulls or bool(s.isna().any())
            ok = ok and bool(s.is_monotonic_increasing if increasing
                             else s.is_monotonic_decreasing)
            if last is not None and len(s):
                head = s.iloc[0]
                ok = ok and (last <= head if increasing else last >= head)
            if first is None and len(s):
                first = s.iloc[0]
            if len(s):
                last = s.iloc[-1]
        if pid is not None:
            yield pd.DataFrame([[pid, ok, nulls, first, last]],
                               columns=[_PID, "__ok", "__nulls",
                                        "__first", "__last"])

    rows = sorted(part.mapInPandas(_summ, schema).collect(),
                  key=lambda r: r[_PID])
    if any(r["__nulls"] for r in rows) or not all(r["__ok"] for r in rows):
        return False
    for prev, cur in zip(rows, rows[1:]):
        a, b = prev["__last"], cur["__first"]
        if a is None or b is None:
            continue
        if (a > b) if increasing else (a < b):
            return False
    return True


def rolling_apply(sdf: SparkDF, col: str | list[str], order_by: list[str],
                  window: int, func, min_periods: int | None = None,
                  out: str | list[str] = "__roll__", raw: bool = False,
                  center: bool = False,
                  block_rows: int = 4096,
                  num_partitions: int | None = None) -> SparkDF:
    """Global ``rolling(window).apply(func)`` for an ARBITRARY Python
    window function — the halo-block pattern:

    1. one range shuffle assigns global positions (``global_pos``);
    2. rows are grouped into blocks of ``block_rows``; each block also
       receives a HALO copy of the previous block's last ``window-1``
       rows (a narrow projection + union — the only data duplication,
       ``(w-1)/block_rows`` overhead);
    3. one ``applyInPandas`` per block runs the exact pandas
       ``rolling(...).apply(func)`` locally (halo rows provide the
       cross-boundary windows and are dropped from the output).

    Each block is an independent task — a 100 TB series runs
    ``n/block_rows``-wide, never through one executor.  The Python func
    runs Arrow-batched per block (this IS the slow path; use the
    JVM rolling aggs whenever the function is expressible).

    ``col``/``out`` may be equal-length lists — every column then shares
    the position pass and the block apply; an ``out`` equal to its
    ``col`` overwrites it."""
    cols = [col] if isinstance(col, str) else list(col)
    outs = [out] if isinstance(out, str) else list(out)
    if len(cols) != len(outs):
        raise ValueError("rolling_apply: col and out must have equal length")
    minp = window if min_periods is None else min_periods
    if window > block_rows:
        block_rows = window * 2
    # keep EVERY input column (the caller passes a pre-projected frame):
    # an indexed+stamped series orders by the stamp but must carry its
    # index columns through to the join-back (r7: set_index outputs are
    # stamped, and the old order_by+col projection dropped the index)
    pos = global_pos(sdf, order_by, "__pos__", num_partitions)
    blk = (F.col("__pos__") / block_rows).cast("long")
    main = pos.withColumn("__blk__", blk).withColumn("__halo__", F.lit(False))
    # centered windows look FORWARD `lead` rows and BACK window-1-lead rows
    # (pandas: trailing window shifted back by (w-1)//2) — halo sizes follow
    lead = (window - 1) // 2 if center else 0
    back = window - 1 - lead
    parts = [main]
    if back > 0:
        parts.append(
            pos.filter(F.col("__pos__") % block_rows >= block_rows - back)
            .withColumn("__blk__", blk + 1)
            .withColumn("__halo__", F.lit(True)))
    if lead > 0:
        parts.append(
            pos.filter((F.col("__pos__") % block_rows < lead)
                       & (F.col("__pos__") >= block_rows))
            .withColumn("__blk__", blk - 1)
            .withColumn("__halo__", F.lit(True)))
    both = parts[0]
    for p in parts[1:]:
        both = both.unionByName(p)
    # only the window inputs travel to the Python workers
    both = both.select("__pos__", "__blk__", "__halo__",
                       *[F.col(c).alias(f"__in{i}__")
                         for i, c in enumerate(cols)])

    schema = T.StructType([T.StructField("__pos__", T.LongType())]
                          + [T.StructField(f"__out{i}__", T.DoubleType())
                             for i in range(len(cols))])

    def _block(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("__pos__")
        keep = ~pdf["__halo__"].to_numpy()
        res = {"__pos__": pdf["__pos__"].to_numpy()[keep]}
        for i, c in enumerate(cols):
            r = (pdf[f"__in{i}__"].rename(c)
                 .rolling(window, min_periods=minp, center=center)
                 .apply(func, raw=raw))
            res[f"__out{i}__"] = r.to_numpy()[keep]
        return pd.DataFrame(res)

    res = both.groupBy("__blk__").applyInPandas(_block, schema)
    # join results back to the original rows by position
    return (pos.drop(*[o for o in outs if o in pos.columns])
            .join(res, "__pos__", "left")
            .withColumnsRenamed({f"__out{i}__": o for i, o in enumerate(outs)})
            .drop("__pos__"))


def rolling_inputs(sdf: SparkDF, cols: list[str], need_sq: bool):
    """``(sdf, specs)``: the running sums a count-window rolling
    sum/mean/count/var/std differences, as ``prefix_scan`` specs — per
    column ``c`` the null-as-zero sum ``__S_c__``, the non-null count
    ``__C_c__`` and, for var/std, the sum of squares ``__S2_c__``."""
    specs = []
    for c in cols:
        z = f"__z_{c}__"
        sdf = (sdf.withColumn(z, F.coalesce(F.col(c).cast("double"),
                                            F.lit(0.0)))
               .withColumn(f"__nn_{c}__", F.col(c).isNotNull().cast("long")))
        specs += [(z, "sum", f"__S_{c}__"),
                  (f"__nn_{c}__", "sum", f"__C_{c}__")]
        if need_sq:
            sdf = sdf.withColumn(f"__z2_{c}__", F.col(z) * F.col(z))
            specs.append((f"__z2_{c}__", "sum", f"__S2_{c}__"))
    return sdf, specs


def window_stat(fn: str, wsum: Column, wcnt: Column,
                wsq: Column | None = None) -> Column:
    """One window's sum/mean/count/var/std from its sum, non-null count
    and (var/std) sum of squares."""
    if fn == "sum":
        return wsum
    if fn == "mean":
        return F.when(wcnt > 0, wsum / wcnt)
    if fn == "count":
        return wcnt.cast("double")
    n = wcnt.cast("double")
    v = F.when(n >= 2, F.greatest((wsq - wsum * wsum / n) / (n - F.lit(1)),
                                  F.lit(0.0)))
    return F.sqrt(v) if fn == "std" else v


def rolling_agg_frame(sdf: SparkDF, cols: list[str], order_by: list[str],
                      window: int, fn: str = "mean",
                      min_periods: int | None = None,
                      center: bool = False,
                      num_partitions: int | None = None) -> SparkDF:
    """Frame-wide rolling sum/mean/count/var/std: ALL columns share ONE
    prefix scan (one range shuffle) and ONE position equi-join — the
    per-column marginal cost is two running sums, not a pass.  Results
    overwrite ``cols`` in place (double-typed)."""
    if fn not in ("sum", "mean", "count", "var", "std"):
        raise ValueError(f"rolling_agg_frame: fn {fn!r} unsupported")
    minp = window if min_periods is None else min_periods
    lead = (window - 1) // 2 if center else 0
    need_sq = fn in ("var", "std")
    base, specs = rolling_inputs(
        sdf.withColumn("__one__", F.lit(1).cast("long")), cols, need_sq)
    specs.insert(0, ("__one__", "sum", "__P__"))
    pos = prefix_scan(base, specs, order_by, num_partitions)  # ckpt-backed

    sc_cols = [f"__S_{c}__" for c in cols] + [f"__C_{c}__" for c in cols] \
        + ([f"__S2_{c}__" for c in cols] if need_sq else [])
    lag = pos.select((F.col("__P__") + window - lead).alias("__P__"),
                     *[F.col(x).alias(f"{x}l") for x in sc_cols])
    j = pos.join(lag, "__P__", "left")
    if lead:
        fwd = pos.select((F.col("__P__") - lead).alias("__P__"),
                         *[F.col(x).alias(f"{x}f") for x in sc_cols])
        j = j.join(fwd, "__P__", "left")
        tot = pos.agg(F.max("__P__").alias("__Pt__"),
                      *[F.max_by(x, "__P__").alias(f"{x}t")
                        for x in sc_cols])
        j = j.crossJoin(F.broadcast(tot))
        truncated = (F.col("__P__") + lead) > F.col("__Pt__")

    updates, drop = {}, ["__P__", "__one__"]
    for c in cols:
        S, C = f"__S_{c}__", f"__C_{c}__"
        if lead:
            hiS = F.when(truncated, F.col(f"{S}t")).otherwise(F.col(f"{S}f"))
            hiC = F.when(truncated, F.col(f"{C}t")).otherwise(F.col(f"{C}f"))
        else:
            hiS, hiC = F.col(S), F.col(C)
        wsum = hiS - F.coalesce(F.col(f"{S}l"), F.lit(0.0))
        wcnt = hiC - F.coalesce(F.col(f"{C}l"), F.lit(0))
        wsq = None
        if need_sq:
            S2 = f"__S2_{c}__"
            hiS2 = (F.when(truncated, F.col(f"{S2}t"))
                    .otherwise(F.col(f"{S2}f")) if lead else F.col(S2))
            wsq = hiS2 - F.coalesce(F.col(f"{S2}l"), F.lit(0.0))
        val = window_stat(fn, wsum, wcnt, wsq)
        if fn == "count":
            hi_pos = (F.least(F.col("__P__") + lead, F.col("__Pt__"))
                      if lead else F.col("__P__"))
            have = hi_pos - F.greatest(F.col("__P__") + lead - window,
                                       F.lit(0))
        else:
            have = wcnt
        updates[c] = F.when(have >= F.lit(minp), val)
        drop += [S, C, f"{S}l", f"{C}l", f"__z_{c}__", f"__nn_{c}__"]
        if need_sq:
            drop += [f"__S2_{c}__", f"__S2_{c}__l", f"__z2_{c}__"]
        if lead:
            drop += [f"{S}f", f"{C}f", f"{S}t", f"{C}t"]
            if need_sq:
                drop += [f"__S2_{c}__f", f"__S2_{c}__t"]
    if lead:
        drop += ["__Pt__"]
    return j.withColumns(updates).drop(*drop)
