"""Joins (reference ``_merge.py`` → SURVEY §2.3).

pandas ``merge`` semantics on Spark's distributed join machinery.  Algorithm
choice (broadcast / shuffled-hash / sort-merge) is Catalyst's job — CBO + AQE
pick it at runtime; we only expose an optional ``broadcast=`` hint for small
dimension tables (the thing a user *should* state at 100 TB).

Semantics reproduced from pandas:
* ``how ∈ {inner,left,right,outer,cross,semi,anti}`` (reference covers the
  first four, ``_merge.py:16``; semi/anti are the SURVEY §2.3 noted gap —
  free in Spark).
* ``on`` outer-merge produces ONE key column (coalesced); ``left_on`` /
  ``right_on`` keeps both.
* colliding non-key columns get ``suffixes`` (reference ``_merge.py:39-79``).
* ``indicator=True`` adds the ``_merge`` presence column.
* ``left_index/right_index`` join on the engine-managed index (`IX`).
"""

from __future__ import annotations

from functools import reduce as _reduce
from typing import Sequence

from pyspark.sql import functions as F, types as T

from .. import _dtypes
from .._expr import Node


def _ensure_list(x):
    if x is None:
        return None
    return list(x) if isinstance(x, (list, tuple)) else [x]


def merge(left, right, how: str = "inner", on=None, left_on=None,
          right_on=None, left_index: bool = False, right_index: bool = False,
          suffixes: tuple = ("_x", "_y"), indicator: bool = False,
          broadcast: bool | None = None, hint: str | None = None,
          validate: str | None = None):
    from .._collection import DataFrame, Series
    from .._order import labeled

    if isinstance(right, Series):
        right = right.to_frame()

    on = _ensure_list(on)
    left_on = _ensure_list(left_on)
    right_on = _ensure_list(right_on)

    if how == "cross":
        lmap = {c: c for c in left.columns}
        rmap = {c: c for c in right.columns}
        collide = set(left.columns) & set(right.columns)
        l2 = left._sdf.select([F.col(c).alias(c + suffixes[0] if c in collide else c)
                               for c in left.columns])
        r2 = right._sdf.select([F.col(c).alias(c + suffixes[1] if c in collide else c)
                                for c in right.columns])
        if broadcast:
            r2 = F.broadcast(r2)
        node = Node("merge", {"how": "cross"}, left._expr, right._expr)
        dtypes = {**left._entries(left.columns,
                                  {c: c + suffixes[0] for c in collide}),
                  **right._entries(right.columns,
                                   {c: c + suffixes[1] for c in collide})}
        return DataFrame(l2.crossJoin(r2), node, (), None, dtypes)

    if left_index:
        left = labeled(left)
        left_keys = list(left._index_cols)
    elif on is not None:
        left_keys = on
    elif left_on is not None:
        left_keys = left_on
    else:
        common = [c for c in left.columns if c in right.columns]
        if not common:
            raise ValueError("No common columns to perform merge on")
        on = common
        left_keys = common

    if right_index:
        right = labeled(right)
        right_keys = list(right._index_cols)
    elif on is not None:
        right_keys = on
    elif right_on is not None:
        right_keys = right_on
    else:
        right_keys = left_keys

    if len(left_keys) != len(right_keys):
        raise ValueError("len(left_on) must equal len(right_on)")

    if validate is not None:
        # pandas validate=: uniqueness check on the join keys.  This is an
        # EAGER action (one groupBy-count + limit-1 per checked side) —
        # same documented contract as get_dummies' distinct discovery.
        canon = {"1:1": "one_to_one", "1:m": "one_to_many",
                 "m:1": "many_to_one", "m:m": "many_to_many"}
        v = canon.get(validate, validate)
        if v not in canon.values():
            raise ValueError(f"invalid validate argument {validate!r}")

        def _has_dups(frame, keys):
            return (frame._sdf.groupBy(*[F.col(k) for k in keys])
                    .count().filter(F.col("count") > 1).limit(1)
                    .count() > 0)

        if v in ("one_to_one", "one_to_many") and _has_dups(left, left_keys):
            raise ValueError(
                f"Merge keys are not unique in left dataset; not a "
                f"{v} merge")
        if v in ("one_to_one", "many_to_one") and _has_dups(right, right_keys):
            raise ValueError(
                f"Merge keys are not unique in right dataset; not a "
                f"{v} merge")

    lsdf = left._sdf if not left_index else left._sdf
    rsdf = right._sdf

    # Rename everything to unambiguous temp names, join, then project the
    # pandas-shaped output (reference suffix logic `_merge.py:39-79`).
    # In a MIXED index join (left_on + right_index or vice versa) pandas
    # preserves the key-column side's original index, so carry it through.
    lcols = left.columns if not left_index else list(left._index_cols) + left.columns
    rcols = right.columns if not right_index else list(right._index_cols) + right.columns
    if right_index and not left_index and left._index_cols:
        lcols = list(left._index_cols) + lcols
    if left_index and not right_index and right._index_cols:
        rcols = list(right._index_cols) + rcols
    lmap = {c: f"__L_{c}__" for c in lcols}
    rmap = {c: f"__R_{c}__" for c in rcols}
    # pandas keeps the LEFT frame's row order through left/inner merges —
    # carry a stamped presentation order (post-sort frames) through the
    # join so head()/positional scans downstream still see it
    from .._collection import _ORDER
    carry_order = (_ORDER in lsdf.columns and how in ("left", "inner"))
    lsel = [F.col(c).alias(lmap[c]) for c in lcols]
    if carry_order:
        lsel.append(F.col(_ORDER))
    l2 = lsdf.select(lsel)
    r2 = rsdf.select([F.col(c).alias(rmap[c]) for c in rcols])
    if indicator:
        # presence must be a literal marker, not key nullness: eqNullSafe
        # matches null keys (pandas semantics), and a matched-null row has
        # BOTH key sides null — key-based inference calls it right_only
        l2 = l2.withColumn("__L_present__", F.lit(True))
        r2 = r2.withColumn("__R_present__", F.lit(True))

    if broadcast:
        r2 = F.broadcast(r2)
    elif hint:
        # join-strategy control ("shuffle_hash" / "merge" / "shuffle_replicate_nl"):
        # Catalyst's size-only estimator wildly overestimates joined subtrees,
        # which can flip the BUILD side onto the fact table at small scale;
        # an explicit strategy hint pins the scale-correct plan (AQE may still
        # upgrade to broadcast from runtime stats).
        r2 = r2.hint(hint)

    cond = None
    for lk, rk in zip(left_keys, right_keys):
        # pandas matches NaN join keys for EVERY how; `<=>` is still an
        # equi-join predicate for Catalyst (hash/sort-merge join, no
        # nested-loop downgrade)
        c = l2[lmap[lk]].eqNullSafe(r2[rmap[rk]])
        cond = c if cond is None else (cond & c)

    spark_how = {"inner": "inner", "left": "left", "right": "right",
                 "outer": "full", "cross": "cross",
                 "semi": "left_semi", "anti": "left_anti"}[how]
    if how == "cross":
        joined = l2.crossJoin(r2)
    else:
        joined = l2.join(r2, cond, spark_how)

    if how in ("semi", "anti"):
        sel = [F.col(lmap[c]).alias(c) for c in left.columns]
        node = Node("merge", {"how": how, "on": left_keys}, left._expr, right._expr)
        return DataFrame(joined.select(*sel), node, (), None,
                         left._entries(left.columns))

    # ---- output projection --------------------------------------------
    sel = []
    out_index: list[str] = []
    override: dict = {}
    dtypes: dict = {}     # the output's dtype record

    if on is not None and not (left_index or right_index):
        # single coalesced key column per `on` key (pandas `on` semantics).
        # Mixed int/float keys: Spark's coalesce promotes to double, but
        # pandas coerces the float side DOWN to int when the match is
        # exact (_maybe_coerce_merge_keys) — for inner/left joins every
        # surviving right key equals an int left key, so the int dtype is
        # provably lossless; right/outer keep the promoted float (an
        # unmatched right row may carry a non-integer key).
        int_kinds = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
        for k in on:
            coal = F.coalesce(F.col(lmap[k]), F.col(rmap[k]))
            lt = left._sdf.schema[k].dataType
            rt = right._sdf.schema[k].dataType
            if (how in ("inner", "left")
                    and isinstance(lt, int_kinds)
                    and isinstance(rt, (T.FloatType, T.DoubleType))):
                coal = coal.cast(lt)
            # pandas keeps each key at its LEFT-frame position (not
            # hoisted to the front) — emit it through the left value
            # loop's override hook (wave T)
            override[("l", k)] = coal
            # a key keeps its dtype only where both sides agree on it
            if left._dtypes.get(k) != right._dtypes.get(k):
                dtypes[k] = None
        key_left = set()
        key_right = set(on)
    elif left_index and right_index:
        for i, (lk, rk) in enumerate(zip(left_keys, right_keys)):
            # both sides unnamed → a dunder placeholder so the result
            # index stays UNNAMED (a bare "key_0" leaked as the name)
            name = lk if not lk.startswith("__") else (rk if not rk.startswith("__") else f"__key_{i}__")
            sel.append(F.coalesce(F.col(lmap[lk]), F.col(rmap[rk])).alias(name))
            out_index.append(name)
        key_left = set(left_keys)
        key_right = set(right_keys)
    elif left_index or right_index:
        # MIXED (pandas): the key-column side keeps its key as a DATA
        # column at its in-frame position (coalesced so outer-join rows
        # from the index side fill it) and its original index becomes the
        # result index; the index side's key column does not appear.
        keep = left if right_index else right
        cmap = lmap if right_index else rmap
        for ic in keep._index_cols:
            sel.append(F.col(cmap[ic]).alias(ic))
            out_index.append(ic)
            dtypes[ic] = keep._dtypes.get(ic)
        for lk, rk in zip(left_keys, right_keys):
            coal = F.coalesce(F.col(lmap[lk]), F.col(rmap[rk]))
            override[("l" if right_index else "r",
                      lk if right_index else rk)] = coal
        key_left = set(left_keys) if left_index else set()
        key_right = set(right_keys) if right_index else set()
    else:
        key_left = set()
        key_right = set()

    lvalue = [c for c in left.columns if c not in key_left]
    rvalue = [c for c in right.columns if c not in key_right]
    collide = set(lvalue) & set(rvalue)
    for c in lvalue:
        out_name = c + suffixes[0] if c in collide else c
        sel.append(override.get(("l", c), F.col(lmap[c])).alias(out_name))
        dtypes.setdefault(out_name, left._dtypes.get(c))
    for c in rvalue:
        out_name = c + suffixes[1] if c in collide else c
        sel.append(override.get(("r", c), F.col(rmap[c])).alias(out_name))
        dtypes.setdefault(out_name, right._dtypes.get(c))

    if indicator:
        lp, rp = F.col("__L_present__"), F.col("__R_present__")
        sel.append(
            F.when(lp.isNotNull() & rp.isNotNull(), F.lit("both"))
             .when(lp.isNotNull(), F.lit("left_only"))
             .otherwise(F.lit("right_only")).alias("_merge"))
        # pandas: _merge is CATEGORICAL with this fixed category order
        dtypes["_merge"] = _dtypes.category(
            ["left_only", "right_only", "both"])

    if carry_order:
        sel.append(F.col(_ORDER))
    node = Node("merge", {"how": how,
                          "on": on or list(zip(left_keys, right_keys)),
                          "suffixes": tuple(suffixes)},
                left._expr, right._expr)
    idx = tuple(out_index) if (left_index or right_index) else ()
    names = tuple(n if not n.startswith("__") else None for n in idx) if idx else None
    return DataFrame(joined.select(*sel), node, idx, names, dtypes)


def join(left, other, on=None, how: str = "left", lsuffix: str = "",
         rsuffix: str = ""):
    """Index-join convenience (reference ``_collection.py:382-410``).
    A list RHS folds into an n-ary index join — Catalyst reorders/plans the
    join tree itself, so no balanced-tree lowering is needed (reference
    ``JoinRecursive``, ``_merge.py:82-128``)."""
    from .._collection import DataFrame, Series

    if isinstance(other, (list, tuple)):
        return _reduce(
            lambda acc, rhs: join(acc, rhs, how="outer"), other, left)
    if isinstance(other, Series):
        other = other.to_frame()
    suffixes = (lsuffix or "_x", rsuffix or "_y") if (lsuffix or rsuffix) else ("_x", "_y")
    if on is not None:
        return merge(left, other, how=how, left_on=_ensure_list(on),
                     right_index=True, suffixes=suffixes)
    return merge(left, other, how=how, left_index=True, right_index=True,
                 suffixes=suffixes)


def _numeric_cast(dtype):
    """Seconds-valued double cast for distance arithmetic on the asof key
    (TIMESTAMP_NTZ must hop through TIMESTAMP first — session tz is UTC)."""
    from pyspark.sql import types as T

    def num(c):
        if isinstance(dtype, T.TimestampNTZType):
            c = c.cast("timestamp")
        return c.cast("double")
    return num


def merge_asof(left, right, on: str, by=None, direction: str = "backward",
               allow_exact_matches: bool = True,
               suffixes: tuple = ("_x", "_y"), tolerance=None):
    """As-of join — for each left row, the closest right row at-or-before
    (``backward``), at-or-after (``forward``), or closest either way
    (``nearest``, tie → backward) on ``on``, per ``by`` group.

    Absent in the reference (SURVEY §2.3 flags it as the stretch item);
    pandas ``merge_asof`` semantics, Spark-first plan: **union both sides +
    one window pass** (``last(..., ignorenulls=True)`` over rows-between
    unbounded-preceding) — a single shuffle on ``by``, never the O(n·m)
    range-join blow-up, so it scales to 100 TB event streams.

    ``tolerance`` (a number, or ``timedelta``/``pd.Timedelta`` for
    timestamp keys) nulls out matches farther than the bound — a pure
    post-window filter on the carried match key, no extra shuffle.
    """
    from .._collection import DataFrame, _ORDER, order_key

    if direction not in ("backward", "forward", "nearest"):
        raise ValueError("direction must be 'backward', 'forward' "
                         "or 'nearest'")
    by = _ensure_list(by) or []

    collide = (set(left.columns) & set(right.columns)) - {on} - set(by)
    lout = {c: (c + suffixes[0] if c in collide else c) for c in left.columns}
    rvals = [c for c in right.columns if c != on and c not in by]
    rout = {c: (c + suffixes[1] if c in collide else c) for c in rvals}

    # pandas returns rows in LEFT order (fresh RangeIndex): the left
    # side's order key becomes the result's presentation stamp
    lsdf, (lkey,) = order_key(left)
    lsdf = lsdf.select(
        *[F.col(c).alias(lout[c]) for c in left.columns],
        F.col(lkey).cast("long").alias(_ORDER),
        F.lit(1).alias("__side__"))
    rsdf = right._sdf.select(
        *by, F.col(on),
        *[F.col(c).alias(rout[c]) for c in rvals],
        F.col(on).alias("__asof_on__"),  # carried match key for tolerance
        F.lit(None).cast("long").alias(_ORDER),
        F.lit(0).alias("__side__"))
    for c in lout.values():
        if c not in rsdf.columns:
            rsdf = rsdf.withColumn(c, F.lit(None))
    for c in rout.values():
        lsdf = lsdf.withColumn(c, F.lit(None))
    lsdf = lsdf.withColumn("__asof_on__", F.lit(None).cast(
        rsdf.schema["__asof_on__"].dataType))
    rsdf = rsdf.select(*lsdf.columns)
    u = lsdf.unionByName(rsdf)

    from pyspark.sql import Window
    # exact matches allowed → right rows sort before left at equal `on`
    # (side 0 < 1); disallowed → after (negate the side tag).
    side_order = F.col("__side__") if allow_exact_matches \
        else -F.col("__side__")
    wb = (Window.partitionBy(*by).orderBy(F.col(on).asc(), side_order.asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    wf = (Window.partitionBy(*by).orderBy(F.col(on).desc(), side_order.asc())
          .rowsBetween(Window.unboundedPreceding, 0))
    keep = [lout[c] for c in left.columns] + [_ORDER]

    # With `by` keys the windows above shuffle once on `by` — fine.  With
    # NO keys they'd be global windows (all rows through one task), so the
    # no-`by` path instead runs the distributed `last_scan` ffill over the
    # union in (on, side) range order — same semantics, fully parallel.
    if not by:
        from ..functions.scan import last_scan
        u = u.withColumn("__sk__", side_order)
        if direction == "nearest":
            btwins = {("__b_" + rout[c]): rout[c] for c in rvals}
            btwins["__b_on__"] = "__asof_on__"
            ftwins = {("__f_" + rout[c]): rout[c] for c in rvals}
            ftwins["__f_on__"] = "__asof_on__"
            for t, srcc in {**btwins, **ftwins}.items():
                u = u.withColumn(t, F.col(srcc))
            filled = last_scan(u, list(btwins), [on, "__sk__"])
            filled = last_scan(filled, list(ftwins), [on, "__sk__"],
                               descending=[True, False])
            step = (filled.filter(F.col("__side__") == 1)
                    .select(*keep, F.col(on).alias("__l_on__"),
                            F.col("__side__"), *[F.col(t) for t in
                                                 [*btwins, *ftwins]]))
        else:
            desc = [False, False] if direction == "backward" \
                else [True, False]
            fill = [rout[c] for c in rvals] + ["__asof_on__"]
            filled = last_scan(u, fill, [on, "__sk__"], descending=desc)
            out = (filled.filter(F.col("__side__") == 1)
                   .select(*keep, F.col(on).alias("__l_on__"),
                           F.col("__side__"),
                           *[F.col(c) for c in fill]))
    elif direction == "nearest":
        # both directions over the SAME by-shuffle (two sorts, one
        # exchange), then per row pick whichever match key is closer
        # (tie → backward, pandas behavior)
        picked = []
        for c in rvals:
            picked.append(F.last(rout[c], ignorenulls=True).over(wb)
                          .alias("__b_" + rout[c]))
            picked.append(F.last(rout[c], ignorenulls=True).over(wf)
                          .alias("__f_" + rout[c]))
        picked.append(F.last("__asof_on__", ignorenulls=True).over(wb)
                      .alias("__b_on__"))
        picked.append(F.last("__asof_on__", ignorenulls=True).over(wf)
                      .alias("__f_on__"))
        step = (u.select(*keep, F.col(on).alias("__l_on__"),
                         F.col("__side__"), *picked)
                .filter(F.col("__side__") == 1))
    if direction == "nearest":
        l_on = F.col("__l_on__")
        b_on, f_on = F.col("__b_on__"), F.col("__f_on__")
        num = _numeric_cast(step.schema["__l_on__"].dataType)
        use_b = F.when(f_on.isNull(), F.lit(True)).when(
            b_on.isNull(), F.lit(False)).otherwise(
            (num(l_on) - num(b_on)) <= (num(f_on) - num(l_on)))
        chosen_on = F.when(use_b, b_on).otherwise(f_on)
        out = step.select(
            *keep, F.col("__l_on__"), chosen_on.alias("__asof_on__"),
            *[F.when(use_b, F.col("__b_" + rout[c]))
              .otherwise(F.col("__f_" + rout[c])).alias(rout[c])
              for c in rvals])
    elif by:
        w = wb if direction == "backward" else wf
        picked = [F.last(rout[c], ignorenulls=True).over(w).alias(rout[c])
                  for c in rvals]
        picked.append(F.last("__asof_on__", ignorenulls=True).over(w)
                      .alias("__asof_on__"))
        out = (u.select(*keep, F.col(on).alias("__l_on__"),
                        F.col("__side__"), *picked)
               .filter(F.col("__side__") == 1))
    if tolerance is not None:
        import datetime
        l_on, r_on = F.col("__l_on__"), F.col("__asof_on__")
        if isinstance(tolerance, datetime.timedelta):
            tol = F.lit(tolerance.total_seconds())
            num = _numeric_cast(out.schema["__l_on__"].dataType)
            l_on, r_on = num(l_on), num(r_on)
        else:
            tol = F.lit(tolerance)
        if direction == "backward":
            gap = l_on - r_on
        elif direction == "forward":
            gap = r_on - l_on
        else:
            gap = F.abs(l_on - r_on)
        ok = r_on.isNotNull() & (gap <= tol)
        out = out.select(
            *keep, F.col("__asof_on__"),
            *[F.when(ok, F.col(rout[c])).otherwise(F.lit(None))
              .alias(rout[c]) for c in rvals])
    out = out.select(*keep, *[rout[c] for c in rvals])
    node = Node("merge_asof", {"on": on, "by": tuple(by),
                               "direction": direction},
                left._expr, right._expr)
    return DataFrame(out, node, (), ())


def interval_join(left, right, point: str, start: str, end: str,
                  by=None, bucket_width: float = 86400.0,
                  suffixes: tuple = ("_x", "_y")):
    """Point-in-interval join, bucketized for scale: left rows whose
    ``point`` ∈ [``start``, ``end``] (closed) of right rows, optionally also
    equi-matching ``by`` keys.

    Spark's native plan for a bare range predicate is
    BroadcastNestedLoopJoin — O(n·m) comparisons and a full broadcast of one
    side, a non-starter at 100 TB.  Bucketizing turns it into an equi-join:
    each right interval explodes into the fixed-width buckets it covers,
    each left point hashes to exactly one bucket, the sides equi-join on
    (by…, bucket), and the exact BETWEEN filter runs post-join.  One hash
    shuffle; right-side replication = interval length / ``bucket_width``
    (pick the width near the median interval length).  Each matching pair
    meets in exactly one bucket — the point's — so no dedup pass is needed.

    ``bucket_width`` is in seconds for timestamp columns, column units
    otherwise.  Intervals with ``end < start`` are dropped (empty).
    """
    from pyspark.sql import types as T
    from .._collection import DataFrame

    by = _ensure_list(by) or []
    lsdf, rsdf = left._sdf, right._sdf
    is_ts = isinstance(lsdf.schema[point].dataType,
                       (T.TimestampType, T.TimestampNTZType, T.DateType))

    if is_ts:
        width_us = int(bucket_width * 1_000_000)

        def bkt(c):
            return F.floor(F.unix_micros(F.col(c).cast("timestamp")) / F.lit(width_us))
    else:
        def bkt(c):
            return F.floor(F.col(c) / F.lit(bucket_width))

    collide = (set(left.columns) & set(right.columns)) - set(by)
    lout = {c: (c + suffixes[0] if c in collide else c) for c in left.columns}
    rout = {c: (c + suffixes[1] if c in collide else c) for c in right.columns}
    l2 = lsdf.select(*[F.col(c).alias(lout[c]) for c in left.columns]) \
             .withColumn("__bkt__", bkt(lout[point]))
    r2 = (rsdf.select(*[F.col(c).alias(rout[c]) for c in right.columns])
          .filter(F.col(rout[end]) >= F.col(rout[start]))
          .withColumn("__bkt__", F.explode(
              F.sequence(bkt(rout[start]), bkt(rout[end])))))
    joined = (l2.join(r2, by + ["__bkt__"], "inner")
              .filter(F.col(lout[point]).between(F.col(rout[start]),
                                                 F.col(rout[end])))
              .drop("__bkt__"))
    node = Node("interval_join", {"point": point, "start": start, "end": end,
                                  "by": tuple(by),
                                  "bucket_width": bucket_width},
                left._expr, right._expr)
    return DataFrame(joined, node, (), None)


def salted_join(left, right, on, how: str = "inner", salt: int = 16):
    """Skew-buster equi-join: replicate the (small-ish) right side ``salt``
    ways and scatter left rows uniformly across the replicas, so one hot key
    no longer lands its entire row set on a single reducer.

    Use when AQE skew-join splitting is not enough (e.g. one key is >10% of
    a 100 TB table).  ``salt`` multiplies the right side's size — keep the
    right side the smaller input.
    """
    from .._collection import DataFrame

    on = _ensure_list(on)
    lsdf = left._sdf.withColumn(
        "__salt__", (F.rand(seed=42) * salt).cast("int"))
    rsdf = right._sdf.withColumn(
        "__salt__", F.explode(F.sequence(F.lit(0), F.lit(salt - 1))))
    joined = lsdf.join(rsdf, on + ["__salt__"], how).drop("__salt__")
    # same output shape as merge(): keys at their LEFT-frame positions
    # (Spark's multi-key join hoists the key columns to the front)
    order = list(left.columns) + [c for c in right.columns if c not in on]
    joined = joined.select(*order)
    node = Node("salted_join", {"on": on, "salt": salt, "how": how},
                left._expr, right._expr)
    return DataFrame(joined, node, (), None)


def merge_ordered(left, right, on=None, left_on=None, right_on=None,
                  how: str = "outer", fill_method: str | None = None,
                  suffixes: tuple = ("_x", "_y")):
    """pandas ``merge_ordered``: an ordered (outer by default) merge with
    optional forward-fill of the gaps — the combine-two-time-series op.

    Plan: the ordinary hash merge (one shuffle on the keys) + the
    distributed ``last_scan`` forward fill in key order (one range
    shuffle) when ``fill_method='ffill'`` — never a global window."""
    out = merge(left, right, how=how, on=on, left_on=left_on,
                right_on=right_on, suffixes=suffixes)
    keys = ([on] if isinstance(on, str) else list(on)) if on is not None \
        else ([left_on] if isinstance(left_on, str) else list(left_on))
    if fill_method in ("ffill", "pad"):
        filled = out.set_index(keys).ffill().reset_index()
        out = filled[[c for c in out.columns]]
    elif fill_method is not None:
        raise ValueError(f"fill_method must be 'ffill' or None, "
                         f"got {fill_method!r}")
    return out.sort_values(keys)
