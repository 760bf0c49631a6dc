"""Time-series smoothing: exponentially weighted statistics at scale.

pandas ``ewm`` is inherently sequential (each output depends on every prior
row), which Spark's window functions cannot express without numeric overflow
(the ``pow(1-a, -rownum)`` rescaling trick leaves IEEE range after a few
hundred rows).  Two scale-aware implementations:

* **Grouped** (``groupby(k).ewm(alpha).mean()``): groups must fit one
  executor task *anyway* for any partitioned window, so Arrow-batched
  ``applyInPandas`` running pandas' exact ``ewm`` per group is both honest
  and as scalable as the window family — one shuffle on the keys.

* **Global** (one huge ordered series, ``ewm_global``): a distributed
  segment scan on ``scan.py``'s two-phase machinery (range partitions,
  one local ``mapInPandas`` pass whose last row per partition is that
  partition's marker row, a pinned split into data and markers).  With
  ``d = 1 - alpha`` and ``adjust=True`` semantics,

      num_i = sum_{j<=i} d^(i-j) x_j      y_i = num_i / den_i
      den_i = sum_{j<=i} d^(i-j)

  both satisfy the linear recurrence ``s_i = x_i + d * s_{i-1}``; the
  variance adds ``x²``, the squared-weight sum (decaying by ``d²``) and
  the observation count (not decaying).  Each partition runs the
  recurrences *locally* from a zero state; a Python fold over the
  #partitions marker rows (one tiny task — thousands of rows at 100 TB,
  never the data itself) turns them into the state entering each
  partition, and a broadcast join patches every row:

      s_i = local_s_i + carry_s * d^(local_steps_i)

  ``d^k`` underflows to 0 deep inside a partition — mathematically
  negligible exactly when it happens.  Folding the carries in Spark
  instead would need the ``d^-n`` closed form ruled out above.
  ``adjust=False`` is not linear in the state (every observation resets
  the old weight), but each row is affine in the partition's first
  blended value; it runs the same skeleton with its own local pass and
  fold.  Total cost: one range shuffle + one tiny fold, independent of
  series length per executor.

The reference has no time-series ops at all (SURVEY §2.7: no rolling /
expanding / ewm); this is part of the Spark-native superset.
"""

from __future__ import annotations

from itertools import accumulate
from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import DataFrame as SparkDF
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .scan import _MARK, _PID, _map_in_pandas, _ranged, _split_scanned

__all__ = ["ewm_global", "ewm_mean_grouped", "period_start_col",
           "period_to_timestamp_col"]


def ewm_mean_grouped(sdf: SparkDF, by: list[str], col: str, order_by: list[str],
                     alpha: float, name: str = "ewm",
                     adjust: bool = True) -> SparkDF:
    """Exact pandas ``ewm(alpha).mean()`` per group via ``applyInPandas``.

    One shuffle on the group keys; each group is computed by pandas itself
    (identical semantics, Arrow transfer).  Same memory contract as any
    partitioned window: a group must fit an executor task.
    """
    fields = list(sdf.schema.fields) + [T.StructField(name, T.DoubleType())]
    schema = T.StructType(fields)

    def _one_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_by, kind="mergesort")
        pdf[name] = pdf[col].ewm(alpha=alpha, adjust=adjust).mean()
        return pdf

    return sdf.groupBy(*by).applyInPandas(_one_group, schema)


def _segment_scan(sdf: SparkDF, cols: list[str], order_by: str,
                  num_partitions: int | None,
                  fields: list[tuple[str, T.DataType]],
                  local: Callable[[Iterator[pd.DataFrame]],
                                  Iterator[pd.DataFrame]],
                  fold: Callable[[pd.DataFrame], pd.DataFrame],
                  carry: list[str],
                  patch: Callable[[str], Column]) -> SparkDF:
    """The two-phase scan both global kernels run on.

    ``local`` streams one range partition's Arrow batches and adds the
    state ``fields`` to every row, carrying its state across batches;
    the partition's last row, repeated as its marker row, is the
    partition's summary.  ``fold`` gets the #partitions marker rows in
    partition order (one task) and returns the state entering each
    partition (``_PID`` plus the double columns ``carry``); a broadcast
    join brings every row its partition's carry, and ``patch(c)``
    overwrites each of ``cols`` with its result."""
    part = _ranged(sdf, [order_by], num_partitions)
    schema = T.StructType(
        [T.StructField(f.name, T.DoubleType()) if f.name in cols else f
         for f in part.schema.fields]
        + [T.StructField(n, t) for n, t in fields]
        + [T.StructField(_MARK, T.BooleanType(), False)])

    def _pass(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        last = None
        for pdf in local(batches):
            pdf[_MARK] = False
            if len(pdf):
                last = pdf.iloc[[-1]].copy()
            yield pdf
        if last is not None:
            last[_MARK] = True
            yield last

    state = [n for n, _ in fields]
    data, summ = _split_scanned(_map_in_pandas(part, _pass, schema, cols),
                                state)
    carry_schema = T.StructType(
        [T.StructField(_PID, T.IntegerType())]
        + [T.StructField(n, T.DoubleType()) for n in carry])
    carries = summ.groupBy().applyInPandas(
        lambda pdf: fold(pdf.sort_values(_PID)), carry_schema)
    return (data.join(F.broadcast(carries), _PID, "left")
            .withColumns({c: patch(c) for c in cols})
            .drop(_PID, *state, *carry))


def ewm_global(sdf: SparkDF, cols: list[str], order_by: str, alpha: float,
               stat: str = "mean", adjust: bool = True,
               ignore_na: bool = False, bias: bool = False,
               num_partitions: int | None = None) -> SparkDF:
    """pandas ``ewm(alpha, adjust, ignore_na).mean()`` (``stat="mean"``)
    or ``.var(bias)`` (``stat="var"``, ``adjust=True``) of every column in
    ``cols`` over the global ``order_by`` order (unique: it defines the
    order), as ONE distributed segment scan.  Results overwrite ``cols``
    in place as doubles; the other columns ride through unchanged.

    Each column's state is a few linear components, each with an
    increment at an observation and a decay per step:

    * mean: ``(x, 1)``, both decaying by ``d = 1 - alpha``;
    * var: ``(x, x², 1, 1, 1)`` — ``Σw·x, Σw·x², Σw, Σw², nobs`` —
      decaying by ``d, d, d, d², 1``; the debiased variance is then
      ``(Σw)² ⁄ ((Σw)² − Σw²) · (Σw·x² ⁄ Σw − mean²)``, null before the
      second observation.

    Every row is a step (pandas ``ignore_na=False``: a null row decays
    the weights and adds nothing, so the prior mean carries through);
    with ``ignore_na=True`` only observations are steps, so a null row
    changes nothing.  ``adjust=False`` runs the affine scan
    (``_ewm_affine``)."""
    if stat not in ("mean", "var"):
        raise ValueError(f"ewm_global stat must be mean or var, got {stat!r}")
    if not adjust:
        if stat != "mean":
            raise NotImplementedError("ewm var needs adjust=True")
        return _ewm_affine(sdf, cols, order_by, alpha, ignore_na,
                           num_partitions)
    d = 1.0 - alpha
    # (power of x added at an observation, decay per step) per component
    comps = ([(1, d), (0, d)] if stat == "mean" else
             [(1, d), (2, d), (0, d), (0, d * d), (0, 1.0)])
    s_ = [[f"__s{j}_{c}__" for j in range(len(comps))] for c in cols]
    g_ = [[f"__g{j}_{c}__" for j in range(len(comps))] for c in cols]
    k_ = [f"__k_{c}__" for c in cols]
    carry = [n for gi in g_ for n in gi]

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = [[0.0] * len(comps) for _ in cols]
        steps = [0] * len(cols)
        for pdf in batches:
            pdf = pdf.copy()
            for i, c in enumerate(cols):
                x = pdf[c].to_numpy(dtype="float64")
                obs = ~np.isnan(x)
                step = obs if ignore_na else np.ones_like(obs)
                pdf[k_[i]] = steps[i] + np.cumsum(step)
                steps[i] += int(step.sum())
                for j, (p, dk) in enumerate(comps):
                    run = list(accumulate(
                        zip(np.where(obs, x ** p, 0.0).tolist(),
                            np.where(step, dk, 1.0).tolist()),
                        lambda s, inc: inc[0] + inc[1] * s,
                        initial=state[i][j]))
                    state[i][j] = run[-1]
                    pdf[s_[i][j]] = run[1:]
            yield pdf

    def fold(summ: pd.DataFrame) -> pd.DataFrame:
        g = [[0.0] * len(comps) for _ in cols]
        rows = []
        for r in summ.to_dict("records"):
            rows.append([r[_PID], *[v for gi in g for v in gi]])
            for i in range(len(cols)):
                for j, (_, dk) in enumerate(comps):
                    g[i][j] = r[s_[i][j]] + dk ** r[k_[i]] * g[i][j]
        return pd.DataFrame(rows, columns=[_PID, *carry])

    def patch(c: str) -> Column:
        i = cols.index(c)
        t = [F.col(s_[i][j]) + F.col(g_[i][j])
             * F.pow(F.lit(dk), F.col(k_[i]))
             for j, (_, dk) in enumerate(comps)]
        if stat == "mean":
            return F.when(t[1] > 0, t[0] / t[1])
        sx, sx2, sw, sw2, nobs = t
        mean = sx / sw
        var = sx2 / sw - mean * mean
        if not bias:
            var = var * (sw * sw) / (sw * sw - sw2)
        return F.when(nobs >= 2, F.greatest(var, F.lit(0.0)))

    fields = [(n, T.DoubleType()) for si in s_ for n in si]
    fields += [(n, T.LongType()) for n in k_]
    return _segment_scan(sdf, cols, order_by, num_partitions, fields, local,
                         fold, carry, patch)


def _ewm_affine(sdf: SparkDF, cols: list[str], order_by: str, alpha: float,
                ignore_na: bool, num_partitions: int | None) -> SparkDF:
    """pandas ``ewm(alpha, adjust=False).mean()`` as a segment scan.

    pandas' recursion (per its Cython kernel) keeps a carried mean y and
    an old-weight w: every step after the first observation decays
    ``w *= 1-α``; an observation then blends ``y = (w·y + α·x)/(w + α)``
    and RESETS ``w = 1``.  The reset makes (num, den) non-linear, but
    within a partition every row's value is AFFINE in y1 — the blended
    value at the partition's FIRST local observation:

        y_row = A_row · y1 + B_row

    with (A, B) computed locally (A multiplies by w/(w+α) at each later
    observation; w evolves locally because it resets at each obs).  Only
    y1 depends on upstream state, through the carried (y_in, w_in):
    ``w1 = w_in · d^(k_first+1)`` (``k_first`` steps precede the first
    observation), ``y1 = (w1·y_in + α·x_first)/(w1+α)`` — or
    ``y1 = x_first`` when no observation precedes the partition.  The
    fold walks the marker rows computing (y_in, y1) per partition.  Rows
    before the partition's first observation output the carried mean
    y_in (null before the global first observation).  Steps are as in
    ``ewm_global``: every row, or only observations with ``ignore_na``.
    """
    d = 1.0 - alpha
    kinds = {"a": T.DoubleType(), "b": T.DoubleType(),
             "bf": T.BooleanType(), "fp": T.LongType(),
             "fx": T.DoubleType(), "w": T.DoubleType(), "k": T.LongType()}

    def col(v: str, c: str) -> str:
        return f"__{v}_{c}__"

    def local(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # per column: (a, b) affine coeffs vs y1, w old-weight, the
        # first observation's step index and value, and the step count
        st = {c: {"a": 1.0, "b": 0.0, "w": 1.0, "fp": -1,
                  "fx": float("nan"), "k": 0} for c in cols}
        for pdf in batches:
            pdf = pdf.copy()
            n = len(pdf)
            for c in cols:
                s = st[c]
                a_l, b_l, bf_l = [0.0] * n, [0.0] * n, [False] * n
                for i, xi in enumerate(pdf[c].to_numpy(dtype="float64")
                                       .tolist()):
                    obs = xi == xi
                    if s["fp"] < 0:
                        if obs:
                            s["fp"], s["fx"] = s["k"], xi
                        bf_l[i] = not obs
                    elif obs or not ignore_na:
                        s["w"] *= d
                        if obs:
                            denom = s["w"] + alpha
                            s["a"] *= s["w"] / denom
                            s["b"] = (s["w"] * s["b"] + alpha * xi) / denom
                            s["w"] = 1.0
                    if obs or not ignore_na:
                        s["k"] += 1
                    a_l[i], b_l[i] = s["a"], s["b"]
                pdf[col("a", c)], pdf[col("b", c)] = a_l, b_l
                pdf[col("bf", c)] = bf_l
                for v in ("fp", "fx", "w", "k"):
                    pdf[col(v, c)] = s[v]
            yield pdf

    def fold(summ: pd.DataFrame) -> pd.DataFrame:
        g = {c: (float("nan"), 1.0) for c in cols}   # (y, w) entering
        rows = []
        for r in summ.to_dict("records"):
            row = [r[_PID]]
            for c in cols:
                y_in, w_in = g[c]
                y1 = float("nan")
                if r[col("fp", c)] >= 0:          # partition observed
                    fx = r[col("fx", c)]
                    if y_in != y_in:              # global first obs here
                        y1 = fx
                    else:
                        w1 = w_in * d ** (r[col("fp", c)] + 1)
                        y1 = (w1 * y_in + alpha * fx) / (w1 + alpha)
                    g[c] = (r[col("a", c)] * y1 + r[col("b", c)],
                            r[col("w", c)])
                else:
                    g[c] = (y_in, w_in * d ** r[col("k", c)])
                row += [y_in, y1]
            rows.append(row)
        return pd.DataFrame(rows, columns=[_PID, *carry])

    def patch(c: str) -> Column:
        cy = F.col(col("cy", c))
        # before the first local observation: the carried mean (NaN,
        # i.e. null, before the global first observation)
        return (F.when(F.col(col("bf", c)), F.when(cy == cy, cy))
                .otherwise(F.col(col("a", c)) * F.col(col("cy1", c))
                           + F.col(col("b", c))))

    carry = [col(v, c) for c in cols for v in ("cy", "cy1")]
    fields = [(col(v, c), t) for c in cols for v, t in kinds.items()]
    return _segment_scan(sdf, cols, order_by, num_partitions, fields, local,
                         fold, carry, patch)


# --------------------------------------------------------------------------
# Period representation (SURVEY §1.4; reference ToTimestamp _expr.py:1159-1168)
#
# Spark has no PeriodDtype.  A pandas period is represented as its
# **start timestamp** plus driver-side freq metadata carried on the
# collection wrapper; ``to_timestamp(how="start")`` is then the identity
# and ``how="end"`` is ``start + <one period> - 1 microsecond`` (pandas'
# nanosecond period-end floors to the same microsecond, so differential
# tests agree after the ns→µs cast).  Pure column arithmetic — stays in
# whole-stage codegen, no shuffle, scale-free.
# --------------------------------------------------------------------------

# pandas freqstr → (Spark INTERVAL literal, date_trunc unit)
_PERIOD_FREQ = {
    "D": ("1 DAY", "day"),
    "W": ("7 DAY", "week"),
    "M": ("1 MONTH", "month"),
    "ME": ("1 MONTH", "month"),
    "MS": ("1 MONTH", "month"),
    "Q": ("3 MONTH", "quarter"),
    "QE": ("3 MONTH", "quarter"),
    "Y": ("1 YEAR", "year"),
    "YE": ("1 YEAR", "year"),
    "A": ("1 YEAR", "year"),
    "H": ("1 HOUR", "hour"),
    "T": ("1 MINUTE", "minute"),
    "MIN": ("1 MINUTE", "minute"),
    "S": ("1 SECOND", "second"),
}


def _norm_freq(freq: str) -> tuple[str, str]:
    """Normalize a pandas freqstr ('D', 'M', 'Q-DEC', 'W-SUN', 'min', …)."""
    key = str(freq).split("-")[0].upper()
    if key not in _PERIOD_FREQ:
        raise ValueError(f"unsupported period freq: {freq!r}")
    return _PERIOD_FREQ[key]


def period_start_col(col, freq: str):
    """Truncate a timestamp column to its containing period's start
    (``Series.dt.to_period``)."""
    _, unit = _norm_freq(freq)
    return F.date_trunc(unit, col)


def period_label_col(col, freq: str):
    """Format a stored period-start timestamp as pandas' Period STRING
    label ('2024', '2024Q1', '2024-02', '2024-02-25', '2024-02-25 05:00')
    — pure JVM date_format/concat, used by ``astype(str)`` on
    period-valued series (r5 hunt pin: the raw timestamp cast printed
    '2024-01-01 00:00:00' where pandas prints '2024Q1')."""
    key = str(freq).split("-")[0].upper()
    if key in ("A", "Y"):
        return F.date_format(col, "yyyy")
    if key == "Q":
        return F.concat(F.date_format(col, "yyyy"), F.lit("Q"),
                        F.quarter(col).cast("string"))
    if key == "M":
        return F.date_format(col, "yyyy-MM")
    if key == "W":
        # pandas week label is 'start/end' of the week period
        end = F.date_add(col.cast("date"), 6)
        return F.concat(F.date_format(col, "yyyy-MM-dd"), F.lit("/"),
                        F.date_format(end, "yyyy-MM-dd"))
    if key == "D":
        return F.date_format(col, "yyyy-MM-dd")
    if key in ("H", "HOUR"):
        return F.date_format(col, "yyyy-MM-dd HH:00")
    if key in ("T", "MIN"):
        return F.date_format(col, "yyyy-MM-dd HH:mm")
    if key in ("S", "SEC"):
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def period_to_timestamp_col(col, freq: str, how: str = "start"):
    """Convert a stored period-start column per pandas ``to_timestamp``."""
    if how in ("start", "s", "begin"):
        return col
    if how in ("end", "e", "finish"):
        interval, _ = _norm_freq(freq)
        return (col + F.expr(f"INTERVAL {interval}")
                - F.expr("INTERVAL 1 MICROSECOND"))
    raise ValueError(f"how must be 'start' or 'end', got {how!r}")


def time_rolling(sdf: SparkDF, rid_cols: list[str], ts_col: str,
                 value_cols: list[str], window_micros: int,
                 agg: str, min_periods: int = 1,
                 by: list[str] | None = None,
                 closed: str = "right",
                 pos_col: str | None = None) -> SparkDF:
    """Time-offset rolling aggregate (pandas ``rolling("3D")``): for each
    row, aggregate rows whose timestamp lies in ``(t - W, t]``
    (``closed='right'``, the pandas default for offset windows; 'both'
    makes the left edge inclusive).

    Scale shape — NO global window (the classic single-task killer):
    bucket each row into a time block of width W; a row's window can only
    reach its own and the previous block, so the contributing side is
    duplicated into (block, block+1) with one generator and the pair is
    an EQUI-join on block (+ group keys), filtered to the exact time
    range, then one hash aggregation keyed by the left row id.  Cost is
    O(Σ window occupancy) — the output size of the semantics itself —
    with every stage partitioned by (keys, block).
    """
    from pyspark.sql import types as T
    if agg not in ("sum", "mean", "count", "min", "max", "var", "std"):
        raise NotImplementedError(f"time rolling agg {agg!r}")
    by = list(by or [])
    ts = F.col(ts_col)
    dt = sdf.schema[ts_col].dataType
    mic = (F.unix_micros(ts.cast("timestamp"))
           if isinstance(dt, T.TimestampNTZType) else F.unix_micros(ts))
    base = sdf.withColumn("__mic__", mic) \
              .withColumn("__blk__", F.floor(F.col("__mic__")
                                             / F.lit(window_micros)))
    lpos = [F.col(pos_col).alias("__lp__")] if pos_col else []
    lhs = base.select(*rid_cols, *by, *lpos,
                      F.col("__mic__").alias("__lm__"),
                      F.col("__blk__").alias("__lb__"))
    rpos = [F.col(pos_col).alias("__rp__")] if pos_col else []
    rhs = base.select(
        *[F.col(b).alias(f"__r_{b}__") for b in by], *rpos,
        F.col("__mic__").alias("__rm__"),
        *[F.col(c).alias(f"__rv_{c}__") for c in value_cols],
        F.explode(F.array(F.col("__blk__"), F.col("__blk__") + 1))
        .alias("__rb__"))
    cond = F.col("__lb__") == F.col("__rb__")
    for b in by:
        cond = cond & F.col(b).eqNullSafe(F.col(f"__r_{b}__"))
    left_edge = (F.col("__rm__") >= F.col("__lm__") - F.lit(window_micros)
                 if closed == "both"
                 else F.col("__rm__") > F.col("__lm__") - F.lit(window_micros))
    # pandas walks rows in POSITION order: at a tied timestamp only rows
    # up to the current position are in the window
    right_edge = (F.col("__rm__") < F.col("__lm__")) | \
                 ((F.col("__rm__") == F.col("__lm__"))
                  & (F.col("__rp__") <= F.col("__lp__"))) \
        if pos_col else (F.col("__rm__") <= F.col("__lm__"))
    pairs = lhs.join(rhs, cond & left_edge & right_edge)
    aggs = []
    for c in value_cols:
        v = F.col(f"__rv_{c}__")
        n = F.count(v)
        if agg in ("var", "std"):
            # sample variance from (n, Σx, Σx²) in the SAME aggregation
            # pass; ddof=1 (pandas default), n==1 → null like pandas
            s1, s2 = F.sum(v), F.sum(v * v)
            var = (s2 - s1 * s1 / n) / (n - 1)
            out = F.when(n >= F.greatest(F.lit(min_periods), F.lit(2)),
                         F.sqrt(var) if agg == "std" else var)
        else:
            fn = {"sum": F.sum, "mean": F.avg, "count": F.count,
                  "min": F.min, "max": F.max}[agg]
            # pandas rolling count is float64-valued
            out = fn(v).cast("double") if agg == "count" else fn(v)
            out = F.when(n >= min_periods, out)
        aggs.append(out.alias(c))
    return pairs.groupBy(*rid_cols, *by).agg(*aggs)
