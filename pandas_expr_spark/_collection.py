"""User-facing lazy collections: DataFrame, Series, Index, Scalar.

Mirrors the reference's collection layer (``_collection.py:66-600``): a thin
immutable wrapper around a logical-plan node, with pandas-flavored methods.
Here every wrapper also carries the *lowered* (but unexecuted) PySpark
``DataFrame`` — Spark's analyzer validates schemas eagerly, which is our
analogue of the reference's eager ``_meta`` (``_expr.py:595-597``), and
Catalyst/Tungsten do all optimization and execution.

Design notes (SURVEY §1.5 — the index problem):

* Spark DataFrames are unordered and index-less.  We carry an **explicit
  engine-managed index**: ``_index_cols`` names zero or more columns of the
  underlying Spark DataFrame that form the pandas index.  Empty tuple =
  implicit positional index (materialized only when an order-dependent op
  demands it — ``head``/``tail``/alignment).
* ``Series`` is *anchored*: it holds the parent frame's Spark DataFrame plus a
  Column expression over it.  Binops between Series of the same anchor compose
  Column expressions (stays in whole-stage codegen); cross-anchor operands
  pair by label through ``_order.align`` (pandas alignment semantics,
  reference ``_expr.py:958-978``).
* At 100 TB, positional-index materialization is the one op that cannot scale
  (it is a global ordering); everything else lowers to shuffle-free column
  expressions or ordinary shuffled joins/aggs that AQE handles.
* pandas dtypes Spark has no type for (categorical, period, tz-aware,
  exploded object) live in one immutable **dtype record** per wrapper,
  ``_dtypes``: Spark column name (value or index) → ``Presented``.  A
  frame derived from one parent keeps the entries of its surviving
  columns (``_derive``); a Series keeps its value's entry under the name
  its ``to_frame`` column gets; ``compute()`` presents them all through
  ``_dtypes.present``.
* Engine columns are flat Spark names.  A frame's pandas column labels
  that differ from them (MultiIndex tuples, ints) and the axis name live
  in its immutable **column-axis record**, ``_axis`` (``_dtypes.Axis``):
  ``_derive`` keeps the labels of surviving columns and the name, ops
  that define a new axis pass one in, and ``compute()`` presents it
  through ``_dtypes.present_axis``.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Mapping, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame as SparkDF, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import _dtypes as D
from ._dtypes import is_numeric, to_pandas_dtype, to_spark_type
from ._expr import Node
from ._order import (_LABEL, _ORDER, _ROWID, _positional_order, align,
                     order_key, positions)

__all__ = ["DataFrame", "Series", "Index", "Scalar", "new_collection"]

# id(sdf) -> (sdf, hidden-column-stripped twin): keeps to_spark() identity
# stable (scan-sharing CSE) now that scans carry a hidden label column.
# Bounded LRU (r7 advice: the unbounded id-keyed dict held every plan pair
# for the session's lifetime) — 256 covers any realistic working set of
# simultaneously-live lowered plans; evicted entries just re-derive.
import collections as _collections
_PUBLIC_TWIN: "_collections.OrderedDict" = _collections.OrderedDict()
_PUBLIC_TWIN_CAP = 256

# internal value-column placeholder for unnamed Series ("__v__"): it must
# never surface as a user-visible name — pandas reports None there.  Scrub
# at the compute boundary (single choke point for every escape path).
_NAME_PLACEHOLDER = "__v__"


def _scrub_name(n):
    return None if n == _NAME_PLACEHOLDER else n


def _avg_rank_join(sdf: SparkDF, col: str, out_col: str) -> SparkDF:
    """Average-tie rank of ``col`` appended as ``out_col`` — computed on the
    distinct-value table and joined back.  The cumulative count over values
    runs through the DISTRIBUTED prefix scan, so even a high-cardinality
    column (doubles: distinct ≈ rows) never funnels through one task."""
    from .functions.scan import prefix_scan
    counts = (sdf.filter(F.col(col).isNotNull())
              .groupBy(col).agg(F.count(F.lit(1)).alias("__cnt__")))
    scanned = prefix_scan(counts, [("__cnt__", "sum", "__cum__")], [col])
    r = (F.col("__cum__") - F.col("__cnt__")
         + (F.col("__cnt__") + 1) / 2.0)
    ranks = scanned.select(F.col(col), r.alias(out_col))
    return sdf.join(ranks, on=col, how="left")


def _var_fn(ddof: int):
    """Column-expression variance for ANY ddof (SURVEY §2.5): built-ins for
    the common 0/1, else the sufficient-statistic identity
    (Σx² - (Σx)²/n) / (n - ddof) — still one distributed agg pass."""
    if ddof == 1:
        return F.var_samp
    if ddof == 0:
        return F.var_pop

    def fn(c: Column) -> Column:
        x = c.cast("double")
        n = F.count(x)
        # n ≤ ddof → NaN in pandas; the raw /0 is an ANSI error
        return F.when(n > ddof,
                      (F.sum(x * x) - F.sum(x) * F.sum(x) / n)
                      / (n - F.lit(ddof)))
    return fn


_FREQ_UNIT = {  # pandas offset alias → make_interval slot + per-period count
    "s": ("secs", 1), "S": ("secs", 1), "min": ("mins", 1), "T": ("mins", 1),
    "h": ("hours", 1), "H": ("hours", 1), "d": ("days", 1), "D": ("days", 1),
    "w": ("weeks", 1), "W": ("weeks", 1), "M": ("months", 1),
    "MS": ("months", 1), "Q": ("months", 3), "Y": ("years", 1),
    "A": ("years", 1),
}


def _freq_interval(freq: str, periods: int = 1):
    """pandas offset alias ("D", "2h", "3M", …) → a Spark interval Column
    scaled by ``periods`` (negative ok) via ``make_interval``."""
    import re
    m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq.strip())
    if not m or m.group(2) not in _FREQ_UNIT:
        raise ValueError(f"cannot parse frequency {freq!r}")
    mult = int(m.group(1)) if m.group(1) else 1
    slot, per = _FREQ_UNIT[m.group(2)]
    n = F.lit(mult * per * periods)
    zero = F.lit(0)
    args = {k: (n if k == slot else zero)
            for k in ("years", "months", "weeks", "days", "hours", "mins")}
    args["secs"] = n.cast("double") if slot == "secs" else F.lit(0.0)
    return F.make_interval(**args)


_INF = float("inf")
_NAN = float("nan")


def _zero_sign(b: Column) -> Column:
    """Sign of a ZERO divisor: -0.0 is only distinguishable via its string
    form (signum gives 0 for both); integer zero prints '0' → +1."""
    return F.when(b.cast("string").startswith("-"), F.lit(-1.0)) \
            .otherwise(F.lit(1.0))


def _pandas_div(a: Column, b: Column) -> Column:
    """IEEE/pandas float division: x/±0 → sign-adjusted ±inf, 0/0 → NaN —
    never the ANSI DIVIDE_BY_ZERO error.  CASE branches evaluate lazily,
    so the guarded divide only runs when the divisor is nonzero."""
    zero = F.when(a == 0, F.lit(_NAN)) \
            .otherwise(F.signum(a) * _zero_sign(b) * F.lit(_INF))
    return F.when(b == 0, zero).otherwise(a / b)


_INT_WIDTHS = {T.ByteType: 8, T.ShortType: 16, T.IntegerType: 32,
               T.LongType: 64}


_FLOAT_STR_UDF = None


def _float_str_udf(col: Column) -> Column:
    # pandas astype(str) on floats: Python shortest-repr formatting
    # ('1e-05', '0.0001', '1e+20', NaN → 'nan') — Arrow-batched, only on
    # the float→str cast path.  Built lazily: pandas_udf parses its DDL
    # return type against the ACTIVE session, so module import must not
    # touch it.
    global _FLOAT_STR_UDF
    if _FLOAT_STR_UDF is None:
        @F.pandas_udf(T.StringType())
        def _fmt(s: pd.Series) -> pd.Series:
            return s.astype(str)
        _FLOAT_STR_UDF = _fmt
    return _FLOAT_STR_UDF(col)


def _astype_expr(col: Column, src: T.DataType, st: T.DataType) -> Column:
    """pandas-semantics cast to ``st`` (numpy rules, not ANSI SQL):

    - float NaN/±inf → integer RAISES (pandas IntCastingNaNError) instead
      of ANSI's error-on-every-overflow or a silent null;
    - integer narrowing WRAPS modularly (numpy) — arithmetic-shift
      sign-extension, no ANSI overflow error;
    - datetime64 → int64 is EPOCH NANOSECONDS (Spark's cast gives
      seconds — silent 1e9× wrong data);
    - float → str formats like PYTHON repr ('1e-05', '0.0001', 'nan'),
      not Java's Double.toString ('1.0E-5') — Spark's cast silently
      produces different strings for the same values (r5 hunt pin), so
      this one cast goes through an Arrow pandas_udf."""
    if isinstance(st, T.StringType) and \
            isinstance(src, (T.DoubleType, T.FloatType)):
        return _float_str_udf(col)
    width = _INT_WIDTHS.get(type(st))
    if width is None:
        return col.cast(st)
    if isinstance(src, (T.TimestampType, T.TimestampNTZType)):
        ns = F.unix_micros(col.cast("timestamp")) * F.lit(1000)
        col, src = ns, T.LongType()
    if isinstance(src, (T.DoubleType, T.FloatType)):
        bad = col.isNull() | F.isnan(col) | \
            (F.abs(col) == F.lit(float("inf")))
        col = F.when(
            bad,
            F.raise_error(F.lit("Cannot convert non-finite values "
                                "(NA or inf) to integer")).cast(src)
        ).otherwise(col)
    if width < 64 and (is_numeric(src) or isinstance(src, T.BooleanType)):
        shift = 64 - width
        wrapped = F.shiftright(F.shiftleft(col.cast("long"), shift), shift)
        return wrapped.cast(st)
    return col.cast(st)


def _pymod_raw(a: Column, b: Column) -> Column:
    """CPython modulo for a NONZERO divisor: fmod plus ONE conditional
    divisor add when signs differ (a double-wrap ((a%b)+b)%b rounds a tiny
    negative a to b itself)."""
    r = a % b
    adjust = (r != 0) & (((r < 0) & (b > 0)) | ((r > 0) & (b < 0)))
    return F.when(adjust, r + b).otherwise(r)


def _pandas_mod(a: Column, b: Column) -> Column:
    """pandas modulo incl. zero divisors: x % 0 → NaN (pandas promotes
    even integer inputs to float for zero divisors — GH#27398), null
    dividend stays null."""
    zero = F.when(a.isNull(), F.lit(None)).otherwise(F.lit(_NAN))
    return F.when(b == 0, zero).otherwise(_pymod_raw(a, b))


def _pandas_floordiv(a: Column, b: Column) -> Column:
    """pandas floor division: ``(a - a mod b) / b`` (exact when a/b
    underflows); zero divisors → sign-adjusted ±inf, NaN for 0//0
    (pandas promotes integer inputs to float here too)."""
    zero = F.when(a == 0, F.lit(_NAN)) \
            .otherwise(F.signum(a) * _zero_sign(b) * F.lit(_INF))
    return F.when(b == 0, zero).otherwise(F.floor((a - _pymod_raw(a, b)) / b))


def _raw_floordiv(a: Column, b: Column) -> Column:
    return F.floor((a - _pymod_raw(a, b)) / b)


def _dfloor(q: Column) -> Column:
    """Floor for FLOAT floordiv that survives float64 range: Spark's
    ``floor`` returns a long (saturating at 2^63 — ``1.0 // 5e-309``
    silently became int64 max), but any |q| ≥ 2^53 is already an exact
    integer double, so only small values need the actual floor."""
    big = F.abs(q) >= F.lit(9007199254740992.0)
    return F.when(big | F.isnan(q), q) \
            .otherwise(F.floor(q).cast("double"))


def _raw_floordiv_f(a: Column, b: Column) -> Column:
    """CPython float_divmod, exactly: the quotient is built from the RAW
    fmod (``(a - fmod)/b``) and decremented by 1.0 when the mod sign
    adjusts — using the ADJUSTED mod instead loses a ulp (hypothesis:
    ``1.023 // -18.000000000000004`` became -2.0), then floored with
    CPython's ``div - floor(div) > 0.5`` half-way correction."""
    r = a % b  # Spark double % is fmod
    adjust = (r != 0) & (((r < 0) & (b > 0)) | ((r > 0) & (b < 0)))
    div = (a - r) / b - F.when(adjust, F.lit(1.0)).otherwise(F.lit(0.0))
    fl = _dfloor(div)
    return F.when(div - fl > 0.5, fl + F.lit(1.0)).otherwise(fl)


def _pandas_floordiv_f(a: Column, b: Column) -> Column:
    zero = F.when(a == 0, F.lit(_NAN)) \
            .otherwise(F.signum(a) * _zero_sign(b) * F.lit(_INF))
    return F.when(b == 0, zero).otherwise(_raw_floordiv_f(a, b))


def _float_operands(s, other) -> bool:
    """True when a Series floordiv involves a float operand — the result
    must stay float64 (pandas) instead of Spark floor's long."""
    ft = (T.DoubleType, T.FloatType)
    if isinstance(getattr(s, "spark_type", None), ft):
        return True
    if isinstance(other, float):
        return True
    if hasattr(other, "spark_type") and isinstance(other.spark_type, ft):
        return True
    return False


def _floordiv_fn(s, other):
    """Pick the floordiv lowering by operand types + divisor safety."""
    if _float_operands(s, other):
        return _raw_floordiv_f if _safe_nonzero(other) else _pandas_floordiv_f
    return _raw_floordiv if _safe_nonzero(other) else _pandas_floordiv


def _floordiv_typed(other, swap: bool = False):
    """Frame floordiv lowering: per-COLUMN dtype decides float vs long
    floor (a frame can mix int and float columns).  Marked ``_typed`` so
    ``_frame_binop`` passes each column's Spark DataType through."""
    safe = _safe_nonzero(other)
    other_float = isinstance(other, float)

    def fn(a, b, dts):
        is_f = other_float or any(
            isinstance(t, (T.DoubleType, T.FloatType)) for t in dts)
        if swap:
            a, b = b, a
        if is_f:
            return _raw_floordiv_f(a, b) if safe else _pandas_floordiv_f(a, b)
        return _raw_floordiv(a, b) if safe else _pandas_floordiv(a, b)

    fn._typed = True
    return fn


def _pandas_pow(a: Column, b: Column) -> Column:
    """IEEE 754 / pandas pow: ``x**0 == 1`` and ``1**y == 1`` even when
    the other operand is NaN/null (Spark's pow propagates null)."""
    return F.when(b == 0, F.lit(1.0)) \
            .when(a == 1, F.lit(1.0)) \
            .otherwise(F.pow(a, b))


def _safe_nonzero(o) -> bool:
    """True when ``o`` is a literal nonzero number — the division guard
    can be skipped entirely (keeps integer result dtypes static, e.g.
    int % 3 stays int64 like pandas)."""
    if isinstance(o, bool):
        return False
    return isinstance(o, (int, float)) and o == o and o != 0


def _ensure_list(x) -> list:
    if x is None:
        return []
    if isinstance(x, (list, tuple)):
        return list(x)
    return [x]


def _interval_display(edges, precision: int, first_edge_adjust: bool):
    """pandas ``tile._format_labels`` edge formatting: round float edges to
    the smallest precision >= ``precision`` that keeps them distinct;
    integer edge lists keep integer formatting.  ``first_edge_adjust`` dips
    the displayed first edge by one display ulp (the ``(13.999, …]`` look
    of include_lowest)."""
    import numpy as _np
    if all(isinstance(e, int) for e in edges):
        return list(edges)
    p = precision
    while p < 20 and len({float(_np.around(float(e), p))
                          for e in edges}) < len(edges):
        p += 1

    def _round_frac(x: float) -> float:
        if not _np.isfinite(x) or x == 0:
            return x
        frac, whole = _np.modf(x)
        if whole == 0:
            digits = -int(_np.floor(_np.log10(abs(frac)))) - 1 + p
        else:
            digits = p
        return float(_np.around(x, digits))

    disp = [_round_frac(float(e)) for e in edges]
    if first_edge_adjust:
        disp[0] = float(_np.around(disp[0] - 10.0 ** -p, p + 1))
    return disp


def _assign_positional(frame, key: str, values) -> SparkDF:
    """pandas sequence assignment: value i goes to row i (current row
    order).  The sequence is a driver-held Python object, so the
    (position, value) table broadcasts; the frame needs one position
    pass.  An eager count enforces pandas' length check."""
    if isinstance(values, pd.Series):
        idx = values.index
        if not (isinstance(idx, pd.RangeIndex)
                and idx.start == 0 and idx.step == 1):
            raise ValueError(
                "assign with a pandas Series needs a default RangeIndex; "
                "align explicitly (from_pandas + merge) instead")
        values = values.to_numpy()
    vals = list(values.tolist() if hasattr(values, "tolist") else values)
    sdf = frame._sdf
    n = sdf.count()
    if len(vals) != n:
        raise ValueError(f"Length of values ({len(vals)}) does not match "
                         f"length of index ({n})")
    lookup = sdf.sparkSession.createDataFrame(
        pd.DataFrame({"__assign_pos__": range(len(vals)), key: vals}))
    orig_cols = list(sdf.columns)
    withpos = positions(frame, "__assign_pos__")
    if _LABEL in orig_cols and _LABEL not in withpos.columns:
        # the positions were the in-scan labels — keep the labels too
        withpos = withpos.withColumn(_LABEL, F.col("__assign_pos__"))
    if key in withpos.columns:
        withpos = withpos.drop(key)
    out = (withpos.join(F.broadcast(lookup), "__assign_pos__", "left")
           .drop("__assign_pos__"))
    # preserve column order; a replaced column keeps its original slot
    final = orig_cols + ([key] if key not in orig_cols else [])
    return out.select(*[F.col(c) for c in final])


def _is_na_scalar(v) -> bool:
    """True for None/NaN/NaT/pd.NA scalars (pandas' missing sentinels)."""
    try:
        return v is None or bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


def _aligned_columns(left_cols, right_cols) -> list:
    """pandas frame-alignment column order: identical orders are
    PRESERVED; otherwise the sorted union (r8)."""
    lc, rc = list(left_cols), list(right_cols)
    if lc == rc:
        return lc
    return sorted(dict.fromkeys(lc + rc))


def _order_cols(sdf: SparkDF) -> list:
    """The hidden presentation-order / positional-label columns, iff the
    input carried them — row-preserving projections must keep them so
    downstream consumers (and compute()) still see the stamped order and
    bare filter/dropna can still promote the original labels."""
    out = [F.col(_ORDER)] if _ORDER in sdf.columns else []
    if _LABEL in sdf.columns:
        out.append(F.col(_LABEL))
    return out


def _lag_value(op: str, fill_value=None):
    """``build(col, prev)`` of a shift-family op over the equi-join on
    position: shift's moved value, diff's difference or pct_change's
    ratio.  A null ``__src__`` flags a row shifted in from beyond the
    boundary — shift's ``fill_value`` fills only those, never NaNs
    already in the data."""
    if op == "diff":
        return lambda c, prev: c - prev
    if op == "pct_change":
        return _pct_ratio
    if fill_value is None:
        return lambda c, prev: prev
    return lambda c, prev: F.when(F.col("__src__").isNull(),
                                  F.lit(fill_value)).otherwise(prev)


def _fusable(spec: tuple, dt: T.DataType) -> bool:
    """Whether ``assign`` may fuse positional op ``spec`` over a column of
    type ``dt``: exactly the types its standalone kernel computes without
    raising (shift moves any column)."""
    kind = spec[0]
    if kind == "lag" and spec[1] == "shift":
        return True
    if kind in ("cum", "roll"):
        return is_numeric(dt) or isinstance(dt, T.BooleanType)
    return is_numeric(dt)


def _fused_positional(frame, values: dict):
    """``(sdf, idx)``: ``frame``'s rows plus one column per entry of
    ``values`` (``{column: _PendingSeries over frame}``), and the index
    they carry (an unindexed frame gets its positions as the rowid
    index).  The values are computed in ONE pass over the frame's own
    rows — they sit next to the frame's columns, so no alignment join
    is needed.

    One ``prefix_scan`` over the rows in ``_positional_order`` carries
    the running 1-based position, every cum spec and each rolling
    sum/count; then one equi-join on the position per distinct offset
    (a shift's period, a rolling window) fetches the earlier rows'
    values and sums.  Each value reads the frame's columns as they are
    before any assign, and every formula is its standalone kernel's."""
    from .functions import scan
    sdf, order, idx, _ = _positional_order(frame)
    P, one = "__pes_fpos__", "__pes_fone__"
    specs, post, temps = [], {}, [one, P]
    lags: dict[int, dict] = {}      # offset -> {src: lagged name}
    at: dict[int, list] = {}        # offset -> [(out, fn(lagged))]
    for i, (out, v) in enumerate(values.items()):
        kind, *par = v._spec
        src = f"__pes_fsrc{i}__"
        col = v._base._scol
        if kind == "cum" and par[0] in ("sum", "prod") and isinstance(
                v._base.spark_type, T.BooleanType):
            col = col.cast("long")     # pandas cumsums bool as int
        sdf = sdf.withColumn(src, col)
        temps.append(src)
        if kind == "cum":
            op, skipna = par
            specs.append((src, op, out))
            if not skipna:
                fl = f"__pes_fnull{i}__"
                sdf = sdf.withColumn(fl, F.when(col.isNull(), F.lit(1))
                                     .otherwise(F.lit(0)))
                specs.append((fl, "max", fl))
                post[out] = F.when(F.col(fl) == 1, F.lit(None)) \
                    .otherwise(F.col(out))
                temps.append(fl)
            continue
        if kind == "lag":
            _op, k, build = par
            lag = lags.setdefault(k, {}).setdefault(src, f"{src}l")
            at.setdefault(k, []).append(
                (out, lambda g, b=build, s=src, l=lag: b(F.col(s), F.col(l))))
            continue
        fn, w, minp = par
        sdf, rspecs = scan.rolling_inputs(sdf, [src], fn in ("var", "std"))
        specs += rspecs
        sums = [o for _, _, o in rspecs]       # sum, count[, squares]
        temps += [s for s, _, _ in rspecs] + sums
        lags.setdefault(w, {}).update({o: f"{o}l" for o in sums})

        def _roll(g, fn=fn, w=w, minp=minp, sums=sums):
            # a window's sums: the running sums here minus w rows back
            win = [F.col(x) - F.coalesce(F.col(g[x]), F.lit(0))
                   for x in sums]
            have = (F.col(P) - F.greatest(F.col(P) - w, F.lit(0))
                    if fn == "count" else win[1])
            return F.when(have >= F.lit(minp), scan.window_stat(fn, *win))
        at.setdefault(w, []).append((out, _roll))
    if lags:
        sdf = sdf.withColumn(one, F.lit(1).cast("long"))
        specs.insert(0, (one, "sum", P))
    scanned = scan.prefix_scan(sdf, specs, order)
    out = scanned
    for k in sorted(lags):
        g = lags[k]
        lagged = scanned.select((F.col(P) + F.lit(k)).alias(P),
                                F.lit(1).alias("__src__"),
                                *[F.col(s).alias(l) for s, l in g.items()])
        out = (out.join(lagged, P, "left")
               .withColumns({o: fn(g) for o, fn in at[k]})
               .drop("__src__", *g.values()))
    if post:
        out = out.withColumns(post)
    return out.drop(*temps), idx


def _value_key(name) -> str:
    """The name a Series' value takes in ``to_frame()``: the key its
    dtype record entry is kept under."""
    return name or "0"


def _frame_column(frame, col: str, name, expr: Node | None = None
                  ) -> "Series":
    """Column ``col`` of ``frame`` as a Series named ``name``, with the
    frame's index and the column's dtype record entry."""
    return Series(frame._sdf, F.col(col), name,
                  frame._expr if expr is None else expr,
                  frame._index_cols, frame._index_names,
                  {**frame._entries(frame._index_cols),
                   _value_key(name): frame._dtypes.get(col)})


def _ewm_alpha(com, span, halflife, alpha) -> float:
    """pandas' ewm decay: exactly one of com/span/halflife/alpha."""
    import math
    given = [x is not None for x in (com, span, halflife, alpha)]
    if sum(given) != 1:
        raise ValueError("pass exactly one of com, span, halflife, alpha")
    if com is not None:
        return 1.0 / (1.0 + com)
    if span is not None:
        return 2.0 / (span + 1.0)
    if halflife is not None:
        return 1.0 - math.exp(-math.log(2.0) / halflife)
    return alpha


def _pct_ratio(c: Column, prev: Column) -> Column:
    """``c / prev - 1`` with pandas' zero-divisor semantics (x/0 → ±inf,
    0/0 → NaN), not the ANSI divide-by-zero error.  IEEE sign rule incl.
    NEGATIVE zero: x/-0.0 = -sign(x)·inf — ±0.0 is distinguishable only
    via its string form ("-0.0"), signum gives 0 for both."""
    neg_zero = prev.cast("string").startswith("-")
    inf_sign = F.when(neg_zero, -F.signum(c)).otherwise(F.signum(c))
    ratio = (F.when(prev.isNull(), F.lit(None).cast("double"))
             .when(prev != 0, c / prev)
             .when(c == 0, F.lit(float("nan")))
             .otherwise(F.lit(float("inf")) * inf_sign))
    return ratio - F.lit(1)


# the value column's name while a Series crosses the frame boundary
_VALUES = "__values__"

# ``Series._with_scol``'s default: the new value keeps the Series' name
_SAME_NAME = object()

# Node ops whose boolean output is a pandas MASK (False at missing
# operands), as opposed to a nullable boolean data column — consulted by
# Series.compute's null→False boundary fill.
_MASK_OPS = frozenset({
    "lt", "le", "gt", "ge", "eq", "ne", "and", "or", "xor", "invert",
    "isin", "between", "isna", "notna", "duplicated",
})


def _offset_binop_expr(col: Column, off, sub: bool = False) -> Column:
    """Lower a pandas DateOffset operand (``ts + pd.offsets.MonthEnd(0)``)
    to JVM datetime arithmetic.  Tick/Week offsets are fixed intervals;
    anchored Month/Year offsets follow pandas' roll rules (n=0 rolls
    FORWARD to the next anchor; n>=1 counts the current month's anchor
    as the first hit when not already on it).  Time-of-day is preserved
    (the day delta rides a make_interval, not a date cast)."""
    import pandas.tseries.offsets as O
    if isinstance(off, (O.Tick, O.Week)) and getattr(off, "weekday",
                                                     None) is None:
        td = (pd.Timedelta(weeks=off.n) if isinstance(off, O.Week)
              else pd.Timedelta(off))
        us = td.value // 1000
        if sub:
            us = -us
        neg = us < 0
        iv = F.expr(f"INTERVAL '{abs(us)}' MICROSECOND")
        return (col - iv) if neg else (col + iv)
    if sub or off.n < 0:
        raise NotImplementedError(
            f"datetime - {type(off).__name__} / negative n: only forward "
            "anchored offsets are supported")
    n = off.n
    zero = F.lit(0)
    if isinstance(off, O.MonthEnd):
        on_anchor = F.to_date(col) == F.last_day(col)
        tgt = (F.last_day(F.add_months(col, n)) if n == 0 else
               F.when(on_anchor, F.last_day(F.add_months(col, n)))
               .otherwise(F.last_day(F.add_months(col, n - 1))))
        if n == 0:
            tgt = F.last_day(col)
    elif isinstance(off, O.MonthBegin):
        # n=0 rolls forward to the next 1st (stays if already on it);
        # n>=1: the next anchor after rolling n months is always
        # trunc(add_months(col, n)) — the 1st counts from off-anchor too
        on_anchor = F.dayofmonth(col) == F.lit(1)
        if n == 0:
            tgt = F.when(on_anchor, F.to_date(col)).otherwise(
                F.to_date(F.trunc(F.add_months(col, 1), "month")))
        else:
            tgt = F.to_date(F.trunc(F.add_months(col, n), "month"))
    elif isinstance(off, O.YearEnd):
        ye = F.last_day(F.make_date(F.year(col), F.lit(12), F.lit(1)))
        on_anchor = F.to_date(col) == ye
        if n == 0:
            tgt = ye
        else:
            tgt = F.when(on_anchor,
                         F.last_day(F.make_date(F.year(col) + n,
                                                F.lit(12), F.lit(1)))
                         ).otherwise(
                F.last_day(F.make_date(F.year(col) + (n - 1),
                                       F.lit(12), F.lit(1))))
    elif isinstance(off, O.YearBegin):
        on_anchor = (F.dayofmonth(col) == 1) & (F.month(col) == 1)
        if n == 0:
            tgt = F.when(on_anchor, F.to_date(col)).otherwise(
                F.make_date(F.year(col) + 1, F.lit(1), F.lit(1)))
        else:
            tgt = F.make_date(F.year(col) + n, F.lit(1), F.lit(1))
    else:
        raise NotImplementedError(
            f"DateOffset {type(off).__name__} is not supported in "
            "datetime arithmetic (Tick/Week/MonthEnd/MonthBegin/"
            "YearEnd/YearBegin are)")
    delta = F.datediff(tgt, F.to_date(col))
    return col + F.make_interval(zero, zero, zero, delta, zero, zero,
                                 F.lit(0.0))


def _inline_at_refs(expr: str, env: Mapping) -> str:
    """Inline pandas ``@name`` scope references as SQL literals (shared by
    ``query`` and ``eval`` — the predicate stays a pure Catalyst
    expression, pushdown-eligible)."""
    import re as _re

    def _sub(m):
        name = m.group(1)
        if name not in env:
            raise KeyError(f"query: undefined variable @{name}")
        v = env[name]
        if isinstance(v, str):
            return "'" + v.replace("'", "''") + "'"
        if isinstance(v, (list, tuple, set)):
            return "(" + ",".join(
                ("'" + str(x).replace("'", "''") + "'")
                if isinstance(x, str) else repr(x) for x in v) + ")"
        return repr(v)
    return _re.sub(r"@(\w+)", _sub, expr)


def _rewrite_not_equal(expr: str) -> str:
    """Rewrite every top-level-operand ``a != b`` in a SQL predicate to
    ``NOT ((a) <=> (b))`` — pandas' `!=` keeps rows whose operand is
    missing (NaN != x → True) where SQL's null-propagating `!=` drops
    them.  (Known edge: NaN != NaN is True in pandas but <=> calls two
    nulls equal; the engine conflates NaN/None.)

    Boundary-aware, not a token regex (r5 advice): the operands extend to
    the nearest same-depth logical/comparison boundary, so quoted
    literals with spaces (``city != 'New York'``) and arithmetic operands
    (``a + 1 != b``) rewrite as whole units.  Any scan confusion leaves
    that occurrence as plain ``!=`` (fail-open to Spark semantics)."""
    import re as _re

    def _skip_str(s: str, i: int) -> int:
        # s[i] is a quote: return index just past the literal ('' escapes)
        q = s[i]
        j = i + 1
        while j < len(s):
            if s[j] == q:
                if q == "'" and j + 1 < len(s) and s[j + 1] == "'":
                    j += 2
                    continue
                return j + 1
            j += 1
        return len(s)

    # mark quoted/backticked spans so boundary scans skip them wholesale
    spans = []
    i = 0
    while i < len(expr):
        ch = expr[i]
        if ch in "'\"`":
            j = _skip_str(expr, i)
            spans.append((i, j))
            i = j
        else:
            i += 1

    def _in_span(p: int) -> bool:
        return any(a <= p < b for a, b in spans)

    bound_word = _re.compile(r"\b(and|or|not|in|like|between|rlike)\b",
                             _re.IGNORECASE)
    occurrences = [m.start() for m in _re.finditer(r"!=", expr)
                   if not _in_span(m.start())]
    for pos in reversed(occurrences):
        # LEFT boundary: walk back skipping balanced ()/[] and literals
        i = pos
        depth = 0
        lstart = 0
        while i > 0:
            i -= 1
            if _in_span(i):
                i = next(a for a, b in spans if a <= i < b)
                continue
            ch = expr[i]
            if ch in ")]":
                depth += 1
            elif ch in "([":
                if depth == 0:
                    lstart = i + 1
                    break
                depth -= 1
            elif depth == 0:
                if ch in "&|^~,;<>=!":
                    lstart = i + 1
                    break
        # boundary WORDS (and/or/not/in/...) at depth 0 in the candidate
        lhs_region = expr[lstart:pos]
        last_word = None
        for m in bound_word.finditer(lhs_region):
            p = lstart + m.start()
            if not _in_span(p):
                last_word = lstart + m.end()
        if last_word is not None:
            lstart = last_word
        lhs = expr[lstart:pos].strip()
        # RIGHT boundary: walk forward symmetrically
        j = pos + 2
        depth = 0
        rend = len(expr)
        k = j
        while k < len(expr):
            if _in_span(k):
                k = next(b for a, b in spans if a <= k < b)
                continue
            ch = expr[k]
            if ch in "([":
                depth += 1
            elif ch in ")]":
                if depth == 0:
                    rend = k
                    break
                depth -= 1
            elif depth == 0:
                if ch in "&|^~,;" or ch in "<>=!":
                    rend = k
                    break
                m = bound_word.match(expr, k)
                if m:
                    rend = k
                    break
            k += 1
        rhs = expr[j:rend].strip()
        if not lhs or not rhs:
            continue  # fail-open: leave this != as-is
        expr = (expr[:lstart] + f" NOT (({lhs}) <=> ({rhs})) "
                + expr[rend:])
    return expr


def _sort_dir(c, asc: bool, na_position: str):
    """Apply a sort direction + pandas NA placement to a column."""
    if asc:
        return c.asc_nulls_last() if na_position == "last" \
            else c.asc_nulls_first()
    return c.desc_nulls_last() if na_position == "last" \
        else c.desc_nulls_first()


# --------------------------------------------------------------------------
# Base
# --------------------------------------------------------------------------
class FrameBase:
    """Common machinery for DataFrame/Series/Index/Scalar
    (reference ``FrameBase``, ``_collection.py:66-320``)."""

    def __init__(self, sdf: SparkDF, expr: Node,
                 index_cols: tuple[str, ...] = (),
                 index_names: tuple | None = None,
                 dtypes: Mapping | None = None,
                 axis: "D.Axis" = D.NO_AXIS):
        self._sdf = sdf
        self._expr = expr
        self._index_cols = tuple(index_cols)
        self._index_names = tuple(index_names) if index_names is not None \
            else tuple(None for _ in index_cols)
        # the dtype and column-axis records (module docstring): driver-side
        self._dtypes = D.dtype_record(dtypes or ())
        self._axis = axis

    def _entries(self, cols, renames: Mapping | None = None) -> dict:
        """This record's entries for the Spark columns ``cols``, keyed
        through ``renames``."""
        ren = renames or {}
        return {ren.get(c, c): self._dtypes[c] for c in cols
                if c in self._dtypes}

    def _hint(self, *ops: str):
        """The objects this collection's plan node recorded for a later
        peephole (``_expr`` module docstring): only while the node's op
        is one of ``ops`` and this collection reads the plan the node
        produced, else None."""
        node = self._expr
        if (node.op in ops and node.hint is not None
                and node.hint[0] is self._sdf):
            return node.hint[1]
        return None

    def _sorted_limit(self, n: int, tail: bool = False) -> SparkDF | None:
        """``head``/``tail`` directly after ``sort_values``/``sort_index``
        (the sort node's hint): a distributed TopK over the SORT KEYS on
        the pre-sort plan — ``TakeOrderedAndProject(n, keys)``, map-side
        partial top-k, no global Exchange+Sort — with the order stamp
        re-minted over the n output rows.  The tail is the reverse TopK
        (every direction and NULL placement flipped) re-sorted forward;
        no count action, no global sort.  None for any other plan."""
        hint = self._hint("sort", "sort_index")
        if hint is None or n < 0:
            return None
        pre, raw, na_position, tie = hint
        fwd = [_sort_dir(c, a, na_position) for c, a in raw]
        fwd += [F.col(tie).asc()] if tie is not None else []
        if not tail:
            return (pre.orderBy(*fwd).limit(n)
                    .withColumn(_ORDER, F.monotonically_increasing_id()))
        flip = "first" if na_position == "last" else "last"
        rev = [_sort_dir(c, not a, flip) for c, a in raw]
        rev += [F.col(tie).desc()] if tie is not None else []
        sdf = (pre.orderBy(*rev).limit(n).orderBy(*fwd)
               .withColumn(_ORDER, F.monotonically_increasing_id()))
        if self._index_cols:
            return sdf
        # ignore_index-sorted parent: pandas labels are the dense
        # positions in the FULL sorted order — for the tail's k rows that
        # is N - rank_from_the_end, with N a LAZY 1-row count branch (no
        # driver action; the reverse-TopK plan shape survives).  (head
        # needs nothing: its labels 0..k-1 equal the renumber the default
        # index already presents.)  r7 hunt seed 40142.
        cnt = pre.agg(F.count(F.lit(1)).alias("__n__"))
        w = Window.orderBy(F.col(_ORDER).desc())
        return (sdf.crossJoin(F.broadcast(cnt))
                .withColumn(_ROWID, (F.col("__n__") - F.row_number().over(w))
                            .cast("long"))
                .drop("__n__"))

    def pipe(self, func, *args, **kwargs):
        """pandas ``pipe``: ``df.pipe(f, *a)`` == ``f(df, *a)`` — method
        chaining for user functions; ``(f, 'name')`` form supported."""
        if isinstance(func, tuple):
            func, target = func
            if target in kwargs:
                raise ValueError(f"{target} is both pipe target and kwarg")
            kwargs[target] = self
            return func(*args, **kwargs)
        return func(self, *args, **kwargs)

    def to_timestamp(self, freq: str | None = None, how: str = "start"):
        """PeriodIndex → DatetimeIndex (reference ToTimestamp
        ``_expr.py:1159-1168``).  The index already stores period starts,
        so ``how='start'`` is the identity and ``how='end'`` is pure
        column arithmetic (start + one period - 1µs) — no shuffle."""
        from .functions.timeseries import period_to_timestamp_col
        freqs = {c: e.freq for c, e in self._entries(self._index_cols).items()
                 if e.kind == "period"}
        if not freqs:
            # a period-VALUED Series (from dt.to_period) converts its
            # values — same as .dt.to_timestamp()
            if isinstance(self, Series) and (freq or self._period_freq):
                f = freq or self._period_freq
                return self._with_scol(
                    period_to_timestamp_col(self._scol, f, how),
                    "to_timestamp")
            if freq is None:
                raise ValueError(
                    "to_timestamp: index has no period freq metadata; "
                    "pass freq= explicitly")
            freqs = {c: freq for c in self._index_cols}
        sdf = self._sdf
        for c, f in freqs.items():
            sdf = sdf.withColumn(
                c, period_to_timestamp_col(F.col(c), freq or f, how))
        node = Node("to_timestamp", {"freq": freq, "how": how}, self._expr)
        rest = {c: e for c, e in self._dtypes.items() if c not in freqs}
        if isinstance(self, Series):
            return type(self)(sdf, self._scol, self._col_name, node,
                              self._index_cols, self._index_names, rest)
        return DataFrame(sdf, node, self._index_cols, self._index_names,
                         rest, self._axis)

    # -- plan introspection (reference _collection.py:115-124, _expr.py:103-108)
    @property
    def expr(self) -> Node:
        return self._expr

    def pprint(self) -> None:
        self._expr.pprint()

    def tree_repr(self) -> str:
        return self._expr.tree_repr()

    def visualize(self, filename: str | None = None, format: str = "png"):
        """Graphviz rendering of the logical plan (reference ``visualize``
        ``_expr.py:718-814``); falls back to DOT source when graphviz
        isn't installed."""
        return self._expr.visualize(filename, format)

    def explain(self, mode: str = "formatted") -> None:
        """Spark physical-plan introspection (SURVEY §2.11)."""
        self.to_spark().explain(mode)

    def optimize(self):
        """No engine-side pass needed: plans are lowered to Spark DataFrames
        whose optimization is Catalyst's job (SURVEY §4).  Returns self."""
        return self

    simplify = optimize
    lower_once = optimize

    def copy(self):
        """Reference ``copy`` (collections are immutable — a new wrapper
        over the same plan is an exact copy)."""
        import copy as _copy
        return _copy.copy(self)

    @property
    def dask(self):
        """Reference ``.dask`` exposes the materialized task graph; the
        Spark-native analogue of "the thing the scheduler executes" is the
        lowered Spark DataFrame (its physical plan is Catalyst's) —
        presented without hidden engine columns, same as ``to_spark``."""
        return self.to_spark()

    # -- execution --------------------------------------------------------
    def to_spark(self) -> SparkDF:
        """The lowered Spark DataFrame.  Named index columns are included;
        SYNTHETIC engine columns (positional rowid index, presentation
        stamp, in-scan label) are not — engine artifacts, not user data.
        The stripped twin is memoized per underlying plan so scan-sharing
        CSE (two reads of one path → one object) survives the strip."""
        sdf = self._sdf
        drop = [c for c in (_ORDER, _LABEL) if c in sdf.columns]
        if _ROWID in sdf.columns and _ROWID in getattr(
                self, "_index_cols", ()):
            drop.append(_ROWID)
        if not drop:
            return sdf
        key = id(sdf)
        hit = _PUBLIC_TWIN.get(key)
        if hit is not None and hit[0] is sdf:
            _PUBLIC_TWIN.move_to_end(key)
            return hit[1]
        twin = sdf.drop(*drop)
        _PUBLIC_TWIN[key] = (sdf, twin)
        while len(_PUBLIC_TWIN) > _PUBLIC_TWIN_CAP:
            _PUBLIC_TWIN.popitem(last=False)
        return twin

    def persist(self, storage_level: str = "MEMORY_AND_DISK"):
        self._sdf.persist()
        return self

    def compute(self):
        raise NotImplementedError

    def __repr__(self) -> str:
        return (f"<{type(self).__name__}: expr={self._expr!r} "
                f"index={list(self._index_cols)!r}>")


# --------------------------------------------------------------------------
# Scalar
# --------------------------------------------------------------------------
class Scalar(FrameBase):
    """A lazy 0-dimensional result (reference ``_collection.py:582-586``):
    a 1×1 Spark DataFrame collected on ``.compute()``.  As an operand it
    is one more expression in the consumer's plan, ``_scol``: Spark's
    uncorrelated scalar subquery over that frame (``_lit`` is the one
    conversion every operand goes through) — no join, the consumer keeps
    its own plan, and the aggregate still runs distributed."""

    @property
    def _scol(self) -> Column:
        return self._sdf.select(self._sdf.columns[0]).scalar()

    def compute(self):
        rows = self._sdf.collect()
        if not rows:
            return None
        v = rows[0][0]
        if v is None and is_numeric(self._sdf.schema[0].dataType):
            # pandas numeric reductions yield NaN, not None (var of a
            # single value, prod(skipna=False) over a null, ...)
            return float("nan")
        import datetime as _dt
        if isinstance(v, _dt.timedelta):
            # pandas scalars are Timestamps/Timedeltas, not stdlib types
            return pd.Timedelta(v)
        if isinstance(v, _dt.datetime):
            return pd.Timestamp(v)
        return v

    def __float__(self):
        return float(self.compute())

    def __int__(self):
        return int(self.compute())

    def __bool__(self):
        return bool(self.compute())

    def __round__(self, ndigits=None):
        v = self.compute()
        return round(v) if ndigits is None else round(v, ndigits)

    def __str__(self):
        # str(scalar) gives the VALUE (an eager action, like __float__);
        # repr stays lazy for plan display
        return str(self.compute())

    # -- lazy scalar algebra (reference scalars stay expressions) --------
    # a projection of this 1×1 frame; a Scalar operand is its scalar
    # subquery — no eager collect anywhere.
    def _binop(self, other, fn, op: str, reverse: bool = False):
        if isinstance(other, (Series, DataFrame)):
            # let Series/DataFrame reflected dunders handle scalar∘frame
            return NotImplemented
        if isinstance(other, Scalar):
            node = Node("scalar_" + op, {}, self._expr, other._expr)
        else:
            node = Node("scalar_" + op, {"other": other}, self._expr)
        a, b = F.col(self._sdf.columns[0]), _lit(other)
        expr = fn(b, a) if reverse else fn(a, b)
        return Scalar(self._sdf.select(expr.alias("__r__")), node)

    def __add__(self, o): return self._binop(o, lambda a, b: a + b, "add")
    def __radd__(self, o): return self._binop(o, lambda a, b: a + b, "add", True)
    def __sub__(self, o): return self._binop(o, lambda a, b: a - b, "sub")
    def __rsub__(self, o): return self._binop(o, lambda a, b: a - b, "sub", True)
    def __mul__(self, o): return self._binop(o, lambda a, b: a * b, "mul")
    def __rmul__(self, o): return self._binop(o, lambda a, b: a * b, "mul", True)
    def __truediv__(self, o): return self._binop(o, _pandas_div, "div")
    def __rtruediv__(self, o): return self._binop(o, _pandas_div, "div", True)
    def __pow__(self, o): return self._binop(o, _pandas_pow, "pow")
    def __neg__(self): return self._binop(-1, lambda a, b: a * b, "neg")
    def __gt__(self, o): return self._binop(o, lambda a, b: a > b, "gt")
    def __ge__(self, o): return self._binop(o, lambda a, b: a >= b, "ge")
    def __lt__(self, o): return self._binop(o, lambda a, b: a < b, "lt")
    def __le__(self, o): return self._binop(o, lambda a, b: a <= b, "le")

    def __eq__(self, o):  # type: ignore[override]
        # `s.sum() == 0.0` must compare the VALUE (a lazy boolean Scalar),
        # not object identity — same contract as the ordering dunders
        return self._binop(o, lambda a, b: a.eqNullSafe(b), "eq")

    def __ne__(self, o):  # type: ignore[override]
        return self._binop(o, lambda a, b: ~a.eqNullSafe(b), "ne")

    # identity hash: a lazy Scalar stays usable as a dict key/cache token
    # (pandas scalars are plain hashable numbers; Node-keyed caches here)
    __hash__ = object.__hash__  # type: ignore[assignment]


def _lit(v) -> Column:
    """An operand as a Spark Column: a lazy Scalar's scalar subquery,
    anything else but a collection a literal."""
    if isinstance(v, Scalar):
        return v._scol
    if isinstance(v, FrameBase):
        raise TypeError(f"expected a scalar value here, got a "
                        f"{type(v).__name__}")
    return F.lit(v)


def _node(op: str, params: dict, *children: Node,
          hint: tuple | None = None) -> Node:
    """``Node(op, params, *children)`` with every collection among the
    param values (a lazy Scalar operand, a Series bound, a frame
    ``other``) moved into the children and named by its kind in the
    params: an operand is one more expression in the tree, so walk,
    pprint and the token reach its whole subtree."""
    kids = [v._expr for v in params.values() if isinstance(v, FrameBase)]
    params = {k: ("<scalar>" if isinstance(v, Scalar) else
                  "<series>" if isinstance(v, Series) else "<frame>")
              if isinstance(v, FrameBase) else v
              for k, v in params.items()}
    return Node(op, params, *children, *kids, hint=hint)


# --------------------------------------------------------------------------
# Series
# --------------------------------------------------------------------------
class Series(FrameBase):
    """Anchored single-column collection (reference ``_collection.py:500-558``)."""

    def __init__(self, sdf: SparkDF, scol: Column, name: str | None,
                 expr: Node, index_cols: tuple[str, ...] = (),
                 index_names: tuple | None = None,
                 dtypes: Mapping | None = None):
        super().__init__(sdf, expr, index_cols, index_names, dtypes)
        self._scol = scol
        self._col_name = name

    # ------------------------------------------------------------------
    @property
    def name(self) -> str | None:
        return self._col_name

    @property
    def spark_column(self) -> Column:
        return self._scol

    def _with_scol(self, scol: Column, op: str, name=_SAME_NAME, *,
                   entry: "D.Presented | None" = None,
                   **params) -> "Series":
        """A new value over the same rows and index; ``entry`` is the
        new value's dtype record entry (none: its stored type)."""
        if name is _SAME_NAME:
            name = self._col_name
        node = _node(op, {"name": name, **params}, self._expr)
        return Series(self._sdf, scol, name, node, self._index_cols,
                      self._index_names,
                      {**self._entries(self._index_cols),
                       _value_key(name): entry})

    @property
    def _vkey(self) -> str:
        """The key of the value's dtype record entry."""
        return _value_key(self._col_name)

    @property
    def _value_dtype(self) -> "D.Presented | None":
        return self._dtypes.get(self._vkey)

    @property
    def _period_freq(self) -> str | None:
        """The freq of a period-valued Series, else None."""
        e = self._value_dtype
        return e.freq if e is not None else None

    @property
    def dtype(self):
        e = self._value_dtype
        return e.dtype if e is not None else to_pandas_dtype(self.spark_type)

    @property
    def spark_type(self) -> T.DataType:
        # cached per instance: Series wrappers are immutable, and the
        # arithmetic dunders consult the type on every op (the analysis
        # pass behind select().schema is NOT free at plan-build time)
        cached = self.__dict__.get("_spark_type_cache")
        if cached is None:
            cached = self._sdf.select(
                self._scol.alias("__c__")).schema[0].dataType
            self.__dict__["_spark_type_cache"] = cached
        return cached

    @property
    def size(self) -> Scalar:
        return Scalar(self._sdf.agg(F.count(F.lit(1)).alias("size")),
                      Node("size", {}, self._expr))

    @property
    def nbytes(self) -> Scalar:
        """pandas ``Series.nbytes`` (reference NBytes ``_reductions.py``):
        row count × the dtype's pandas itemsize (object/string columns are
        8-byte pointers, matching pandas' ``.nbytes``)."""
        itemsize = {
            T.LongType: 8, T.DoubleType: 8, T.TimestampType: 8,
            T.TimestampNTZType: 8, T.IntegerType: 4, T.FloatType: 4,
            T.DateType: 8, T.ShortType: 2, T.ByteType: 1, T.BooleanType: 1,
        }.get(type(self.spark_type), 8)
        return Scalar(self._sdf.agg(
            (F.count(F.lit(1)) * F.lit(itemsize)).alias("nbytes")),
            Node("nbytes", {"itemsize": itemsize}, self._expr))

    def __len__(self) -> int:
        return self._sdf.count()

    ndim = 1

    @property
    def shape(self) -> tuple:
        return (len(self),)

    @property
    def empty(self) -> bool:
        return self._sdf.isEmpty()

    # ------------------------------------------------------------------
    # binops — same-anchor composes Columns; cross-anchor aligns on index
    # (pandas alignment, reference Binop `_expr.py:1519-1621`)
    # ------------------------------------------------------------------
    _BOOL_LIFT_OPS = frozenset(
        {"add", "sub", "mul", "div", "mod", "pow", "floordiv",
         "radd", "rsub", "rmul", "rdiv", "rmod", "rpow", "rfloordiv"})

    def _binop(self, other, fn: Callable[[Column, Column], Column], op: str,
               reflexive: bool = False) -> "Series":
        if isinstance(other, DataFrame):
            # defer to the frame's reflected dunder: pandas broadcasts
            # series ∘ frame along the columns axis (DataFrame._binop_axis1)
            return NotImplemented
        # numpy bool arithmetic: bool∘bool add/mul are logical OR/AND,
        # sub raises, everything else (and bool∘number) lifts bools to
        # int like pandas — Spark's ANSI `int * boolean` is a type error
        if op in self._BOOL_LIFT_OPS:
            self_bool = isinstance(self.spark_type, T.BooleanType)
            other_bool = (isinstance(other, (bool, np.bool_))
                          or (isinstance(other, Series)
                              and isinstance(other.spark_type,
                                             T.BooleanType)))
            if self_bool and other_bool:
                base = op.lstrip("r") if op.startswith("r") else op
                if base == "add":
                    fn = lambda a, b: a | b      # noqa: E731
                elif base == "mul":
                    fn = lambda a, b: a & b      # noqa: E731
                elif base == "sub":
                    raise TypeError(
                        "numpy boolean subtract, the `-` operator, is not "
                        "supported, use the bitwise_xor, the `^` operator, "
                        "or the logical_xor function instead.")
                else:
                    # pandas: truediv/floordiv/mod/pow are not defined for
                    # bool∘bool (array_ops._BOOL_OP_NOT_ALLOWED)
                    raise NotImplementedError(
                        f"operator '{base if base != 'div' else 'truediv'}'"
                        " not implemented for bool dtypes")
            elif self_bool:
                return self.astype("int64")._binop(other, fn, op, reflexive)
            elif other_bool:
                o2 = (other.astype("int64") if isinstance(other, Series)
                      else int(other))
                return self._binop(o2, fn, op, reflexive)
        if (isinstance(other, (float, np.floating)) and other != other
                and op in ("lt", "le", "gt", "ge", "eq", "ne")):
            # pandas: every comparison against a NaN literal is False
            # (True for ne).  Spark's NaN semantics treat NaN = NaN as
            # TRUE and null-vs-NaN as null — both silently wrong (r5 pin)
            return self._with_scol(F.lit(op == "ne"), op)
        if isinstance(self.spark_type, T.StringType):
            # pandas string semantics: + concatenates, * int repeats —
            # Spark's ANSI +/* on strings is a numeric-cast type error
            otype = (other.spark_type if isinstance(other, Series) else
                     other._sdf.schema[0].dataType
                     if isinstance(other, Scalar) else None)
            other_str = (isinstance(other, str)
                         or isinstance(otype, T.StringType))
            if op == "add" and other_str:
                fn = lambda a, b: F.concat(a, b)          # noqa: E731
            elif (op == "mul" and isinstance(other, (int, np.integer))
                    and not isinstance(other, (bool, np.bool_))):
                return self._with_scol(F.repeat(self._scol, int(other)),
                                       op)
        pfreq = self._period_freq
        if (pfreq is not None and op in ("add", "sub")
                and isinstance(other, (int, np.integer))
                and not isinstance(other, (bool, np.bool_))):
            # pandas Period ± int advances by whole periods of the freq —
            # lower to interval arithmetic on the stored period-start
            # timestamp; the freq metadata rides to the result (r5 pin)
            from .functions.timeseries import _norm_freq
            interval, _unit = _norm_freq(pfreq)
            num, iunit = interval.split(" ", 1)
            n = int(other) * int(num) * (-1 if op == "sub" else 1)
            iv = F.expr(f"INTERVAL {abs(n)} {iunit}")
            return self._with_scol(
                (self._scol - iv) if n < 0 else (self._scol + iv), op,
                entry=self._value_dtype)
        if (isinstance(other, pd.offsets.BaseOffset)
                and op in ("add", "sub")
                and isinstance(self.spark_type,
                               (T.TimestampType, T.TimestampNTZType,
                                T.DateType))):
            # ts ± pd.offsets.* → JVM datetime arithmetic (wave T)
            return self._with_scol(
                _offset_binop_expr(self._scol, other, sub=(op == "sub")),
                op)
        if isinstance(other, Series):
            if other._sdf is self._sdf:
                l, r = (other._scol, self._scol) if reflexive else (self._scol, other._scol)
                # pandas: differing names drop
                return self._with_scol(
                    fn(l, r), op, self._col_name
                    if self._col_name == other._col_name else None)
            return self._aligned_binop(other, fn, op, reflexive)
        # `s > s.mean()`: a lazy Scalar is a scalar subquery over its
        # 1×1 frame, so the result stays on this frame's plan
        lit = _lit(other)
        l, r = (lit, self._scol) if reflexive else (self._scol, lit)
        return self._with_scol(fn(l, r), op, params_other=other)

    def _aligned_binop(self, other: "Series", fn, op: str,
                       reflexive: bool) -> "Series":
        joined = _paired(self, other)
        l, r = F.col("__l__"), F.col("__r__")
        if reflexive:
            l, r = r, l
        scol = fn(l, r)
        node = Node(op, {"aligned": True}, self._expr, other._expr)
        return Series(joined._sdf, scol, self._col_name if self._col_name == other._col_name else None,
                      node, joined._index_cols, joined._index_names)

    # arithmetic
    def __add__(self, o): return self._binop(o, lambda a, b: a + b, "add")
    def __radd__(self, o): return self._binop(o, lambda a, b: a + b, "add", True)
    def __sub__(self, o): return self._binop(o, lambda a, b: a - b, "sub")
    def __rsub__(self, o): return self._binop(o, lambda a, b: a - b, "sub", True)
    def __mul__(self, o): return self._binop(o, lambda a, b: a * b, "mul")
    def __rmul__(self, o): return self._binop(o, lambda a, b: a * b, "mul", True)
    def __truediv__(self, o):
        # timedelta / timedelta → float ratio (pandas): intervals don't
        # divide in Spark, so both sides lower to exact epoch micros
        # (cast(interval as bigint) is in the type's END-FIELD unit —
        # unreliable; adding to the epoch and unix_micros is exact)
        if isinstance(self.spark_type, T.DayTimeIntervalType):
            import datetime as _dt

            def _iv_us(col):
                epoch = F.lit(_dt.datetime(1970, 1, 1)).cast("timestamp")
                return F.unix_micros(epoch + col).cast("double")

            if isinstance(o, _dt.timedelta):
                # _pandas_div: x/0 → ±inf, 0/0 → NaN (pandas), never null
                us = o / _dt.timedelta(microseconds=1)
                return self._with_scol(
                    _pandas_div(_iv_us(self._scol), F.lit(float(us))), "div")
            if isinstance(o, Series) and \
                    isinstance(o.spark_type, T.DayTimeIntervalType) and \
                    o._sdf is self._sdf:
                num, den = _iv_us(self._scol), _iv_us(o._scol)
                return self._with_scol(_pandas_div(num, den), "div")
        fn = (lambda a, b: a / b) if _safe_nonzero(o) else _pandas_div
        return self._binop(o, fn, "div")

    def __rtruediv__(self, o):
        return self._binop(o, _pandas_div, "div", True)

    def __floordiv__(self, o):
        # CPython floor division is (a - a.__mod__(b)) / b — NOT
        # floor(a/b), which loses when a/b underflows (denormal a):
        # 5e-324 // -2 is -1.0 in Python but floor(-0.0) = -0.0
        return self._binop(o, _floordiv_fn(self, o), "floordiv")

    # pandas named arithmetic with fill_value: a null on ONE side takes
    # the fill; both-null stays null.  The wrapped fn flows through BOTH
    # the same-anchor and the index-aligned paths of _binop.
    def _named_binop(self, other, fn, op: str, fill_value=None) -> "Series":
        if isinstance(other, DataFrame):
            # pandas: s.add(df) broadcasts along the frame's columns (the
            # reflected frame op); fill_value is unsupported there
            if fill_value is not None:
                raise NotImplementedError(
                    f"fill_value {fill_value} not supported.")
            return other._binop_axis1(self, fn, op, reflexive=True)
        if fill_value is None:
            return self._binop(other, fn, op)
        fv = F.lit(fill_value)
        # pandas fills NaN VALUES too, not just absent labels — and a
        # downstream-computed NaN (e.g. 0/0) keeps Spark's NaN physical
        # form rather than null, so normalize float sides through nanvl
        # before the null checks (non-float sides pass through: nanvl
        # would force an int→double cast and change result dtypes)
        self_f = isinstance(self.spark_type, (T.DoubleType, T.FloatType))
        other_f = (isinstance(other.spark_type, (T.DoubleType, T.FloatType))
                   if isinstance(other, Series) else isinstance(other, float))

        def filled(a, b):
            a = F.nanvl(a, F.lit(None)) if self_f else a
            b = F.nanvl(b, F.lit(None)) if other_f else b
            both_null = a.isNull() & b.isNull()
            r = fn(F.coalesce(a, fv), F.coalesce(b, fv))
            return F.when(both_null, F.lit(None).cast("double")).otherwise(r)

        return self._binop(other, filled, op)

    def add(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: a + b, "add", fill_value)

    def sub(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: a - b, "sub", fill_value)

    def mul(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: a * b, "mul", fill_value)

    def div(self, other, fill_value=None):
        fn = (lambda a, b: a / b) if _safe_nonzero(other) else _pandas_div
        return self._named_binop(other, fn, "div", fill_value)

    truediv = div

    def pow(self, other, fill_value=None):
        return self._named_binop(other, _pandas_pow, "pow",
                                 fill_value)

    # pandas comparison METHODS: materialized booleans, null compares
    # False (True for ne) — see the dunder note above.  A DataFrame other
    # broadcasts along its columns axis like the arithmetic methods.
    def _cmp_method(self, other, fn, op: str):
        if isinstance(other, DataFrame):
            return other._binop_axis1(self, fn, op, reflexive=True)
        return self._binop(other, fn, op)

    def eq(self, other):
        return self._cmp_method(
            other, lambda a, b: F.coalesce(a == b, F.lit(False)), "eq")

    def ne(self, other):
        return self._cmp_method(
            other, lambda a, b: F.coalesce(a != b, F.lit(True)), "ne")

    def lt(self, other):
        return self._cmp_method(
            other, lambda a, b: F.coalesce(a < b, F.lit(False)), "lt")

    def le(self, other):
        return self._cmp_method(
            other, lambda a, b: F.coalesce(a <= b, F.lit(False)), "le")

    def gt(self, other):
        return self._cmp_method(
            other, lambda a, b: F.coalesce(a > b, F.lit(False)), "gt")

    def ge(self, other):
        return self._cmp_method(
            other, lambda a, b: F.coalesce(a >= b, F.lit(False)), "ge")
    def __mod__(self, o):
        # Python/pandas modulo: CPython computes fmod then adds the
        # divisor ONCE when signs differ (Spark's % is the C fmod).  A
        # double-wrap ((a%b)+b)%b is NOT equivalent: for a tiny negative
        # a and b=1 the sum rounds to b and CPython returns b itself.
        fn = _pymod_raw if _safe_nonzero(o) else _pandas_mod
        return self._binop(o, fn, "mod")
    def __pow__(self, o):
        # pandas/numpy: int ** negative int is a ValueError, not a float
        if (isinstance(o, (int, np.integer)) and not isinstance(o, bool)
                and o < 0
                and isinstance(self.spark_type,
                               (T.LongType, T.IntegerType, T.ShortType,
                                T.ByteType))):
            raise ValueError(
                "Integers to negative integer powers are not allowed.")
        return self._binop(o, _pandas_pow, "pow")
    # comparisons
    # Comparison DUNDERS keep SQL null propagation: a filter treats null
    # as False (identical row set to pandas), and the raw predicate is
    # what Catalyst can push into the parquet scan — wrapping it in
    # coalesce() kills PushedFilters, a real 100 TB regression.  The
    # named eq/ne/... METHODS below materialize pandas' null→False
    # (null→True for ne) booleans for value-level parity.
    # pandas comparisons are BOOL-dtype, never null: a comparison
    # touching a missing value is False — except ne, where it is True
    # (numpy: NaN != x → True).  lt/le/gt/ge/eq stay PLAIN SQL: their
    # null results behave as False in every filter (identical rows kept)
    # and parquet predicate pushdown survives; the boundary fills null →
    # False (Series.compute), and __invert__ coalesces before negating.
    # ne MUST coalesce to True — SQL null would silently DROP NaN rows
    # from `d[d.v != 3]` (r5 wave R2), and "!= or null" has no pushable
    # parquet form anyway.
    def __lt__(self, o): return self._binop(o, lambda a, b: a < b, "lt")
    def __le__(self, o): return self._binop(o, lambda a, b: a <= b, "le")
    def __gt__(self, o): return self._binop(o, lambda a, b: a > b, "gt")
    def __ge__(self, o): return self._binop(o, lambda a, b: a >= b, "ge")
    def __eq__(self, o): return self._binop(o, lambda a, b: a == b, "eq")  # type: ignore[override]
    def __ne__(self, o): return self._binop(
        o, lambda a, b: F.coalesce(a != b, F.lit(True)), "ne")  # type: ignore[override]
    # boolean
    def __and__(self, o): return self._binop(o, lambda a, b: a & b, "and")
    def __rand__(self, o): return self._binop(o, lambda a, b: a & b, "and", True)
    def __or__(self, o): return self._binop(o, lambda a, b: a | b, "or")
    def __ror__(self, o): return self._binop(o, lambda a, b: a | b, "or", True)
    def __xor__(self, o): return self._binop(o, lambda a, b: a.cast("boolean") != b.cast("boolean"), "xor")
    def __rxor__(self, o): return self._binop(o, lambda a, b: a.cast("boolean") != b.cast("boolean"), "xor", True)
    # unary (reference Invert/Neg/Pos `_expr.py:1624-1656`)
    def __invert__(self):
        # pandas ~mask: a null comparison result acts as False, so its
        # negation is True — SQL NOT(null) = null would DROP those rows
        if isinstance(self.spark_type, T.BooleanType):
            return self._with_scol(~F.coalesce(self._scol, F.lit(False)),
                                   "invert")
        return self._with_scol(~self._scol, "invert")
    def __neg__(self): return self._with_scol(-self._scol, "neg")
    def __pos__(self): return self._with_scol(self._scol, "pos")

    __hash__ = None  # type: ignore[assignment]  # like pandas: unhashable

    # ------------------------------------------------------------------
    # elementwise (reference §2.2)
    # ------------------------------------------------------------------
    def abs(self): return self._with_scol(F.abs(self._scol), "abs")

    # NumPy universal-function protocol: np.sqrt(series) etc. lower to the
    # JVM-side column function — no data leaves Spark.  Binary ufuncs
    # fall back to the reflected dunders via NotImplemented.
    _UFUNC_MAP = {
        "sqrt": F.sqrt, "exp": F.exp, "log": F.log, "log2": F.log2,
        "log10": F.log10, "log1p": F.log1p, "expm1": F.expm1,
        "sin": F.sin, "cos": F.cos, "tan": F.tan, "arcsin": F.asin,
        "arccos": F.acos, "arctan": F.atan, "sinh": F.sinh,
        "cosh": F.cosh, "tanh": F.tanh, "absolute": F.abs, "fabs": F.abs,
        "floor": F.floor, "ceil": F.ceil, "rint": F.bround,
        "sign": F.signum, "negative": lambda c: -c, "cbrt": F.cbrt,
        "degrees": F.degrees, "radians": F.radians,
        "isnan": F.isnan, "reciprocal": lambda c: F.lit(1.0) / c,
        "square": lambda c: c * c,
    }
    _UFUNC_BINARY = {"add": "__add__", "subtract": "__sub__",
                     "multiply": "__mul__", "true_divide": "__truediv__",
                     "divide": "__truediv__", "floor_divide": "__floordiv__",
                     "mod": "__mod__", "power": "__pow__",
                     "maximum": None, "minimum": None,
                     "arctan2": None, "hypot": None}

    def __array_ufunc__(self, ufunc, method, *inputs, **kwargs):
        if method != "__call__" or kwargs.get("out") is not None:
            return NotImplemented
        name = ufunc.__name__
        if len(inputs) == 1 and inputs[0] is self and name in self._UFUNC_MAP:
            return self._with_scol(
                self._UFUNC_MAP[name](self._scol).cast("double")
                if name not in ("isnan", "sign", "negative")
                else self._UFUNC_MAP[name](self._scol), f"np.{name}")
        if len(inputs) == 2 and name in self._UFUNC_BINARY:
            a, b = inputs
            if name == "maximum" or name == "minimum":
                fn = F.greatest if name == "maximum" else F.least
                if a is self:
                    other = b._scol if isinstance(b, Series) else F.lit(b)
                    return self._with_scol(fn(self._scol, other), name)
                other = a._scol if isinstance(a, Series) else F.lit(a)
                return self._with_scol(fn(other, self._scol), name)
            if name in ("arctan2", "hypot"):
                fn = F.atan2 if name == "arctan2" else F.hypot
                if a is self:
                    other = b._scol if isinstance(b, Series) else F.lit(b)
                    return self._with_scol(fn(self._scol, other), name)
                other = a._scol if isinstance(a, Series) else F.lit(a)
                return self._with_scol(fn(other, self._scol), name)
            dunder = self._UFUNC_BINARY[name]
            if a is self:
                return getattr(self, dunder)(b)
            rd = dunder.replace("__", "__r", 1)
            if hasattr(self, rd):
                return getattr(self, rd)(a)
        return NotImplemented

    def floor(self):
        """``F.floor`` — LongType result; ties-free (unlike round), so
        double→cents scaling is bit-identical across engines."""
        return self._with_scol(F.floor(self._scol), "floor")

    def ceil(self):
        return self._with_scol(F.ceil(self._scol), "ceil")

    def round(self, decimals: int = 0):
        # pandas/numpy round is banker's (HALF_EVEN) → F.bround, not
        # F.round; copysign keeps numpy's signed zero (round(-1e-45) is
        # -0.0 — bround loses the sign; round never flips a nonzero sign,
        # so copying the input sign is safe everywhere)
        out = F.bround(self._scol, decimals)
        if isinstance(self.spark_type, (T.DoubleType, T.FloatType)):
            neg = (self._scol < 0) | \
                self._scol.cast("string").startswith("-")
            out = F.when((out == 0) & neg, F.lit(-0.0)).otherwise(out)
        return self._with_scol(out, "round", decimals=decimals)

    def clip(self, lower=None, upper=None):
        """Reference Clip ``_expr.py:1139-1150`` →
        ``F.least(F.greatest(col, lower), upper)``, with a missing-value
        guard: Spark's greatest/least *skip* nulls and order NaN above every
        double, which would turn missing values into the clip bounds —
        pandas keeps them missing.  A Series bound is reindexed onto this
        Series' labels (``_onto``).  A lazy Scalar bound
        (``s.clip(lower=s.quantile(.2))``) is its scalar subquery
        (``_lit``), like any other literal bound."""
        base, (lo, hi) = self._onto(lower, upper)
        c = base._scol
        clipped = c
        if lower is not None:
            clipped = F.greatest(clipped, lo)
        if upper is not None:
            clipped = F.least(clipped, hi)
        guard = c.isNull()
        if isinstance(self.spark_type, (T.DoubleType, T.FloatType)):
            guard = guard | F.isnan(c)
        return base._with_scol(F.when(guard, c).otherwise(clipped),
                               "clip", lower=lower, upper=upper)

    def isna(self):
        """Reference IsNa ``_expr.py:1209-1212``; NaN counts as missing for
        float columns (pandas semantics)."""
        dt = self.spark_type
        c = self._scol.isNull()
        if isinstance(dt, (T.DoubleType, T.FloatType)):
            c = c | F.isnan(self._scol)
        return self._with_scol(c, "isna")

    isnull = isna

    def notna(self):
        return self._with_scol(~self.isna()._scol, "notna")

    notnull = notna

    def isin(self, values: Iterable):
        """Reference Isin ``_expr.py:1133-1136``.  For large value lists this
        should become a broadcast semi-join; literal ``isin`` is fine for the
        reference's list-sized inputs (Catalyst converts long IN-lists to a
        hash set).  Null inputs yield False (pandas), not SQL's null.

        ``isin(Series)`` tests membership in the other series' VALUES —
        a distributed presence join on the distinct value set (never a
        driver collect); null matches null, as pandas' hash table does."""
        if isinstance(values, Series):
            sdf, name, order, idx = self._ordered_base()
            vals = (values.to_frame("__val__")._sdf.select("__val__")
                    .distinct().withColumn("__present__", F.lit(True)))
            j = sdf.join(vals, F.col(name).eqNullSafe(F.col("__val__")),
                         "left")
            out = j.select(*[F.col(c) for c in idx], *_order_cols(j),
                           F.coalesce(F.col("__present__"),
                                      F.lit(False)).alias(name))
            node = Node("isin", {"values": "<series>"}, self._expr,
                        values._expr)
            return Series(out, F.col(name), self._col_name, node, idx,
                          self._index_names if self._index_cols else (None,))
        vals = list(values)
        clean = [v for v in vals if not _is_na_scalar(v)]
        pred = self._scol.isin(clean) if clean else F.lit(False)
        if len(clean) < len(vals):
            # pandas: NaN/None IN the values list matches null elements
            # (its hash table treats NaN == NaN); SQL IN never would
            pred = pred | self._scol.isNull()
        return self._with_scol(F.coalesce(pred, F.lit(False)), "isin")

    def between(self, left, right, inclusive: str = "both"):
        """Reference Between ``_expr.py:1153-1156``.  Named method, so it
        materializes the pandas boolean (null value → False) — the filter
        row-set is identical either way, and dunder predicates stay raw
        for parquet pushdown: a ``coalesce(pred, false)`` wrapper drops the
        predicate from ``PushedFilters``."""
        c = self._scol
        lo, hi = _lit(left), _lit(right)
        lo = (c >= lo) if inclusive in ("both", "left") else (c > lo)
        hi = (c <= hi) if inclusive in ("both", "right") else (c < hi)
        return self._with_scol(F.coalesce(lo & hi, F.lit(False)),
                               "between", left=left, right=right,
                               inclusive=inclusive)

    def fillna(self, value, limit: int | None = None):
        """pandas ``Series.fillna``: a Series value fills from the aligned
        other Series; any other value — a lazy Scalar too, as its scalar
        subquery (``_lit``) — is one coalesce on this plan.  ``limit=n``
        fills only the first n missing values."""
        if limit is None:
            if isinstance(value, Series):
                base, (v,) = self._onto(value)
                return base._with_scol(F.coalesce(base._scol, v), "fillna",
                                       entry=self._value_dtype)
            e = self._value_dtype
            if (e is not None and e.categories is not None
                    and not isinstance(value, Scalar)
                    and value not in e.categories):
                raise TypeError(
                    f"Cannot setitem on a Categorical with a new category "
                    f"({value}), set the categories first")
            return self._with_scol(F.coalesce(self._scol, _lit(value)),
                                   "fillna", entry=e, value=value)
        # pandas limit=n: fill only the first n nulls along the WHOLE axis
        # (not per-run) — null-rank via one distributed prefix-sum scan
        from .functions import scan
        sdf, name, order, idx = self._ordered_base()
        flag = "__nullrank__"
        base = sdf.withColumn(
            flag, F.when(F.col(name).isNull(), F.lit(1)).otherwise(F.lit(0)))
        out = scan.prefix_scan(base, [(flag, "sum", flag)], order)
        filled = F.when(F.col(name).isNull() & (F.col(flag) <= F.lit(limit)),
                        _lit(value)).otherwise(F.col(name))
        out = out.withColumn(name, filled).drop(flag)
        node = _node("fillna", {"value": value, "limit": limit}, self._expr)
        return Series(out, F.col(name), self._col_name, node, idx,
                      self._index_names if self._index_cols else (None,))

    def replace(self, to_replace, value=None, regex: bool = False):
        if regex:
            # pandas regex replace = re.sub on the matching substring
            mapping = (to_replace if isinstance(to_replace, dict)
                       else {to_replace: value})
            out = self._scol
            for pat, rep in mapping.items():
                out = F.regexp_replace(out, str(pat), str(rep))
            return self._with_scol(out, "replace", mapping=repr(mapping))
        if isinstance(to_replace, dict):
            mapping = to_replace
        elif isinstance(to_replace, (list, tuple, set)):
            # list → scalar, or list → equal-length list (pandas forms)
            vals = value if isinstance(value, (list, tuple)) \
                else [value] * len(to_replace)
            if len(vals) != len(to_replace):
                raise ValueError("replace: to_replace and value lists must "
                                 "have equal length")
            mapping = dict(zip(to_replace, vals))
        else:
            mapping = {to_replace: value}
        c = self._scol
        out = c
        st = self.spark_type
        for k, v in mapping.items():
            # pandas: replace(np.nan, v) / replace(None, v) hits missing
            # values — `col == lit(nan)` is never true under SQL null
            # semantics (wave-S silent-wrong-data fix)
            if k is None or (isinstance(k, float) and k != k):
                cond = c.isNull()
                if isinstance(st, (T.DoubleType, T.FloatType)):
                    cond = cond | F.isnan(c)
            else:
                cond = c.eqNullSafe(F.lit(k))
            out = F.when(cond, F.lit(v)).otherwise(out)
        return self._with_scol(out, "replace", mapping=repr(mapping))

    def astype(self, dtype):
        """Reference AsType ``_expr.py:1171-1206``.

        ``category`` is engine metadata, not a physical cast (SURVEY §1.4):
        values stay as the underlying Spark type; categories are *unknown*
        until ``.cat.as_known()`` computes the distinct list — exactly the
        reference's ``AsType._meta`` clearing unknown categories
        (``_expr.py:1177-1195``).  A ``pd.CategoricalDtype`` with explicit
        categories arrives already *known*."""
        if str(dtype) == "category":
            return self._with_scol(
                self._scol, "astype", dtype="category",
                entry=D.category(getattr(dtype, "categories", None),
                                 getattr(dtype, "ordered", False)))
        st = to_spark_type(dtype)
        if isinstance(st, T.StringType):
            # pandas astype(str) stringifies missing values by SOURCE dtype:
            # float NaN → 'nan', datetime NaT → 'NaT', object None → 'None'
            pfreq = self._period_freq
            if pfreq is not None:
                # period-valued series: pandas Period labels ('2024Q1'),
                # not the stored period-start timestamp
                from .functions.timeseries import period_label_col
                out = F.coalesce(period_label_col(self._scol, pfreq),
                                 F.lit("NaT"))
                return self._with_scol(out, "astype", dtype=str(dtype))
            src = self.spark_type
            if isinstance(src, (T.DoubleType, T.FloatType)):
                # Python repr formatting ('1e-05', not Java's '1.0E-5');
                # the UDF also stringifies NaN/None as 'nan' like pandas
                return self._with_scol(_float_str_udf(self._scol),
                                       "astype", dtype=str(dtype))
            elif isinstance(src, (T.TimestampType, T.TimestampNTZType,
                                  T.DateType)):
                null_repr = "NaT"
            else:
                # a categorical's missing value is NaN
                e = self._value_dtype
                null_repr = "nan" if e is not None and e.kind == "category" \
                    else "None"
            out = F.coalesce(self._scol.cast(st), F.lit(null_repr))
            return self._with_scol(out, "astype", dtype=str(dtype))
        return self._with_scol(_astype_expr(self._scol, self.spark_type, st),
                               "astype", dtype=str(dtype))

    def truncate(self, before=None, after=None) -> "Series":
        """pandas ``Series.truncate`` on the engine index — range
        predicates (pushdown-friendly).  On a default RangeIndex the
        labels are positions: one rowid attach (narrow, no shuffle)
        anchors them (wave S)."""
        if not self._index_cols:
            # positions ARE the labels: one global-position pass (rowid
            # attach is narrow; the position numbering is the same
            # two-phase offset scan every positional op uses), then the
            # same range predicates; surviving labels stay 2..5 like
            # pandas
            from .functions import scan
            sdf, name, order, _ = self._ordered_base()
            pos = scan.global_pos(sdf, order, name="__trunc_pos__")
            c = F.col("__trunc_pos__")
            if before is not None:
                pos = pos.filter(c >= F.lit(int(before)))
            if after is not None:
                pos = pos.filter(c <= F.lit(int(after)))
            node = Node("truncate", {"before": before, "after": after},
                        self._expr)
            return Series(pos, F.col(name), self._col_name, node,
                          ("__trunc_pos__",), (None,))
        c = F.col(self._index_cols[0])
        sdf = self._sdf
        if before is not None:
            sdf = sdf.filter(c >= F.lit(before))
        if after is not None:
            sdf = sdf.filter(c <= F.lit(after))
        node = Node("truncate", {"before": before, "after": after},
                    self._expr)
        return Series(sdf, self._scol, self._col_name, node,
                      self._index_cols, self._index_names)

    def between_time(self, start_time: str, end_time: str,
                     inclusive: str = "both") -> "Series":
        """pandas ``Series.between_time`` on a datetime index — see
        ``DataFrame.between_time`` (same string-compare predicate)."""
        if not self._index_cols:
            raise ValueError("between_time needs a datetime index")
        tod = F.date_format(F.col(self._index_cols[0]), "HH:mm:ss.SSS")
        s, e = _normalize_tod(start_time), _normalize_tod(end_time)
        lo = tod >= s if inclusive in ("both", "left") else tod > s
        hi = tod <= e if inclusive in ("both", "right") else tod < e
        cond = (lo & hi) if s <= e else (lo | hi)
        node = Node("between_time", {"start": start_time, "end": end_time},
                    self._expr)
        return Series(self._sdf.filter(cond), self._scol, self._col_name,
                      node, self._index_cols, self._index_names)

    def at_time(self, time: str) -> "Series":
        if not self._index_cols:
            raise ValueError("at_time needs a datetime index")
        tod = F.date_format(F.col(self._index_cols[0]), "HH:mm:ss.SSS")
        node = Node("at_time", {"time": time}, self._expr)
        return Series(self._sdf.filter(tod == _normalize_tod(time)),
                      self._scol, self._col_name, node,
                      self._index_cols, self._index_names)

    def _onto(self, *values) -> tuple["Series", list]:
        """This Series over a plan that also carries every foreign Series
        of ``values`` reindexed onto its labels (``align``'s left form: a
        missing label gives null), and each value as a Column of that
        plan — a scalar, lazy or not, through ``_lit``."""
        base, cols = self, []
        for v in values:
            if isinstance(v, Series) and v._sdf is not self._sdf:
                f, _, rmap = align(
                    DataFrame(base._sdf, base._expr, base._index_cols,
                              base._index_names), v.to_frame("v"))
                base = Series(f._sdf, self._scol, self._col_name, self._expr,
                              f._index_cols, f._index_names, self._dtypes)
                cols.append(F.col(rmap["v"]))
            else:
                cols.append(v._scol if isinstance(v, Series) else _lit(v))
        return base, cols

    def mask(self, cond: "Series", other=None):
        """pandas ``mask``: ``where`` on the condition inverted over its
        own rows (a null counts as False), so a label the condition lacks
        replaces, as in pandas."""
        if callable(cond) and not isinstance(cond, FrameBase):
            cond = cond(self)
        return self.where(cond._with_scol(
            ~F.coalesce(cond._scol, F.lit(False)), "invert"), other)

    def where(self, cond: "Series", other=None):
        """pandas ``where``: a foreign condition or ``other`` is reindexed
        onto this Series' labels; a missing condition replaces."""
        if callable(cond) and not isinstance(cond, FrameBase):
            cond = cond(self)
        if callable(other) and not isinstance(other, FrameBase):
            other = other(self)
        base, (c, o) = self._onto(cond, other)
        return base._with_scol(
            F.when(c, base._scol).otherwise(o), "where", other=other,
            entry=self._value_dtype if other is None else None)

    def combine_first(self, other: "Series") -> "Series":
        """pandas ``Series.combine_first``: index-aligned null overlay —
        full outer join on the index + one coalesce (the Series form of
        reference CombineFirst ``_expr.py:1005-1031``)."""
        name = self._col_name or other._col_name or "__v__"
        joined = _paired(self, other)
        scol = F.coalesce(F.col("__l__"), F.col("__r__"))
        node = Node("combine_first", {}, self._expr, other._expr)
        return Series(joined._sdf, scol, name, node,
                      joined._index_cols, joined._index_names)

    def dropna(self) -> "Series":
        """Reference DropnaSeries — a null filter on the anchored column.
        pandas keeps the surviving rows' original positional labels; an
        in-scan label column promotes to the rowid index (pure rename)."""
        node = Node("dropna", {}, self._expr)
        lbase = (None if self._index_cols
                 else positions(self, upto="pass"))
        if lbase is not None:
            return Series(lbase.filter(self._scol.isNotNull()), self._scol,
                          self._col_name, node, (_ROWID,), (None,),
                          self._dtypes)
        return Series(self._sdf.filter(self._scol.isNotNull()), self._scol,
                      self._col_name, node,
                      self._index_cols, self._index_names, self._dtypes)

    def memory_usage(self, index: bool = True, deep: bool = False) -> Scalar:
        """pandas ``Series.memory_usage``: value bytes (= ``nbytes``)
        plus 8 bytes/row for the index when requested."""
        per_row = 8 if index else 0
        itemsize_agg = self.nbytes._sdf
        if per_row:
            return Scalar(self._sdf.agg(
                (F.count(F.lit(1)) * F.lit(per_row)).alias("__idx__"))
                .crossJoin(itemsize_agg)
                .select((F.col("__idx__") + F.col("nbytes")).alias("memory_usage")),
                Node("memory_usage", {"index": index}, self._expr))
        return Scalar(itemsize_agg, Node("memory_usage", {}, self._expr))

    def map(self, arg, na_action=None):
        """Reference Map ``_expr.py:1264-1272``.  dict arg → chained CASE WHEN
        (JVM-side, no Python roundtrip — SURVEY §2.10); callable → pandas UDF."""
        if isinstance(arg, Mapping):
            c = self._scol
            # dict subclasses with __missing__ (defaultdict) supply the
            # miss value in pandas; a plain dict misses to null.  A
            # defaultdict's factory is key-independent, so the fast literal
            # CASE path applies; any OTHER subclass defining __missing__
            # may be key-dependent (and probing it can mutate the mapping),
            # so it takes the Arrow UDF path where pandas calls
            # __missing__ per key.
            from collections import defaultdict as _dd
            factory = getattr(arg, "default_factory", None)
            if factory is None and not isinstance(arg, _dd) and any(
                    "__missing__" in klass.__dict__
                    for klass in type(arg).__mro__ if klass is not dict):
                return self.apply(lambda v: arg[v], _na_action=na_action)
            default = F.lit(None) if factory is None else F.lit(factory())
            out = default
            for k, v in arg.items():
                out = F.when(c == F.lit(k), F.lit(v)).otherwise(out)
            if na_action == "ignore":
                out = F.when(c.isNull(), F.lit(None)).otherwise(out)
            return self._with_scol(out, "map")
        return self.apply(arg, _na_action=na_action)

    def apply(self, func: Callable, return_type: Any = None,
              _na_action: str | None = None, args: tuple = (),
              **kwargs):
        """Elementwise UDF via Arrow-batched pandas_udf (reference Apply
        ``_expr.py:1240-1261``).  Schema inferred by running ``func`` on a
        tiny sample when not given — mirroring ``Apply._meta``.
        ``_na_action='ignore'`` (from ``map``) skips nulls like pandas;
        ``args``/``**kwargs`` pass through to ``func`` (wave W)."""
        if args or kwargs:
            func = (lambda x, _b=func, _a=tuple(args), _k=dict(kwargs):
                    _b(x, *_a, **_k))
        if return_type is None:
            sample = self._sdf.select(self._scol.alias("__c__")).limit(10).toPandas()["__c__"]
            inferred = (sample.map(func, na_action=_na_action)
                        if len(sample) else pd.Series([], dtype="object"))
            return_type = to_spark_type(inferred.dtype if inferred.dtype != object else "string") \
                if len(inferred) else T.StringType()
        else:
            return_type = to_spark_type(return_type)

        from pyspark.sql.functions import pandas_udf

        @pandas_udf(return_type)
        def _apply(s: pd.Series) -> pd.Series:
            return s.map(func, na_action=_na_action)

        return self._with_scol(_apply(self._scol), "apply", func=getattr(func, "__name__", "lambda"))

    # ------------------------------------------------------------------
    # reductions → Scalar (reference §2.5, `_reductions.py`)
    # ------------------------------------------------------------------
    def _reduce(self, agg: Column, op: str, skipna: bool = True) -> Scalar:
        out = agg
        if not skipna:
            has_null = F.max(self.isna()._scol.cast("int")) == 1
            out = F.when(has_null, F.lit(None)).otherwise(agg)
        node = Node(op, {}, self._expr)
        return Scalar(self._sdf.agg(out.alias(op)), node)

    def _num_scol(self):
        """The column with booleans lifted to long — pandas sums/means
        booleans as 0/1; Spark's ANSI sum(boolean) is a type error."""
        if isinstance(self.spark_type, T.BooleanType):
            return self._scol.cast("long")
        return self._scol

    def sum(self, skipna: bool = True, min_count: int = 0):
        c = self._num_scol()
        agg = F.sum(c)
        if min_count:
            agg = F.when(F.count(c) >= min_count, agg)
        elif isinstance(self.spark_type, T.DayTimeIntervalType):
            # timedelta sum: pandas' empty identity is Timedelta(0) — the
            # int 0 literal is a coalesce type error against intervals
            agg = F.coalesce(agg, F.expr("INTERVAL '0' SECOND"))
        else:
            agg = F.coalesce(agg, F.lit(0))
        return self._reduce(agg, "sum", skipna)

    def prod(self, skipna: bool = True, min_count: int = 0):
        agg = F.product(self._scol)
        if min_count:
            agg = F.when(F.count(self._scol) >= min_count, agg)
        else:
            # pandas empty-product identity
            agg = F.coalesce(agg, F.lit(1.0))
        return self._reduce(agg, "prod", skipna)

    product = prod

    def min(self, skipna: bool = True):
        return self._extreme("min", skipna)

    def max(self, skipna: bool = True):
        return self._extreme("max", skipna)

    def _extreme(self, op: str, skipna: bool) -> Scalar:
        """min/max; a categorical reduces in CATEGORY order, and only
        when ordered (pandas)."""
        agg = (F.min if op == "min" else F.max)(self._scol)
        e = self._value_dtype
        if e is not None and e.kind == "category":
            if not e.ordered:
                raise TypeError(
                    f"Categorical is not ordered for operation {op}\n"
                    "you can use .as_ordered() to change the Categorical "
                    "to an ordered one\n")
            if e.categories:
                pos = F.array_position(
                    F.array(*[F.lit(c) for c in e.categories]), self._scol)
                agg = (F.min_by if op == "min" else F.max_by)(
                    self._scol, F.when(pos > 0, pos))
        return self._reduce(agg, op, skipna)

    def mean(self, skipna: bool = True):
        """Correct kwargs — the reference's Mean silently ignores them
        (wart at ``_reductions.py:221-230``; SURVEY §7.3.4)."""
        return self._reduce(F.avg(self._num_scol()), "mean", skipna)

    def count(self) -> Scalar:
        return self._reduce(F.count(self._scol), "count")

    def var(self, ddof: int = 1, skipna: bool = True):
        """General ddof via sufficient statistics (n, Σx, Σx²) —
        SURVEY §2.5 Var/Std."""
        if ddof == 1:
            return self._reduce(F.var_samp(self._scol), "var", skipna)
        if ddof == 0:
            return self._reduce(F.var_pop(self._scol), "var", skipna)
        # exact decimal power sums, then double arithmetic — Σx·Σx in the
        # input's integer type would overflow int64 (Σx ≈ 1e10 squared)
        n, (s1, s2) = self._moment_sums(2)
        agg = F.when(n > ddof, (s2 - s1 * s1 / n) / (n - ddof))
        return self._reduce(agg, "var", skipna)

    def std(self, ddof: int = 1, skipna: bool = True):
        if ddof == 1:
            return self._reduce(F.stddev_samp(self._scol), "std", skipna)
        if ddof == 0:
            return self._reduce(F.stddev_pop(self._scol), "std", skipna)
        return Scalar(self.var(ddof=ddof, skipna=skipna)._sdf.select(
            F.sqrt(F.col("var")).alias("std")), Node("std", {}, self._expr))

    def sem(self, ddof: int = 1, skipna: bool = True):
        """pandas ``Series.sem``: standard error of the mean =
        ``std(ddof) / sqrt(count)``.  One distributed aggregation pass."""
        # General ddof goes through exact decimal power sums then IEEE-exact
        # double arithmetic (+,-,*,/,sqrt only, no pow) — deterministic
        # across engines and partition orders when the input is integral.
        if ddof in (0, 1):
            n = F.count(self._scol)
            sd = F.stddev_samp(self._scol) if ddof == 1 \
                else F.stddev_pop(self._scol)
            # n = 0 → NaN in pandas; /0 is an ANSI error
            return self._reduce(F.when(n > 0, sd / F.sqrt(n)),
                                "sem", skipna)
        n, (s1, s2) = self._moment_sums(2)
        sd = F.sqrt((s2 - s1 * s1 / n) / (n - ddof))
        return self._reduce(F.when(n > ddof, sd / F.sqrt(n)),
                            "sem", skipna)

    def _moment_sums(self, k: int) -> tuple[Column, list[Column]]:
        """(n, [Σx, Σx², … Σx^k]) in ONE aggregation.  For integral inputs
        the power sums accumulate in ``decimal(38,0)`` so they are EXACT —
        the same integers DuckDB's HUGEINT sums produce — which makes the
        derived skew/kurt bit-deterministic across engines and partition
        orders (the float-determinism policy of ``__spark_entry__``).
        Partial+final aggregation — no data movement beyond one reduce."""
        integral = isinstance(self.spark_type,
                              (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
        x = self._scol.cast("decimal(38,0)") if integral else \
            self._scol.cast("double")
        sums, p = [], x
        for _ in range(k):
            sums.append(F.sum(p).cast("double"))
            p = p * x
        return F.count(self._scol).cast("double"), sums

    def skew(self, skipna: bool = True):
        """pandas ``Series.skew``: bias-corrected sample skewness G1 from
        sufficient statistics (n, Σx, Σx², Σx³) — a single agg pass, no
        second scan for the mean (SURVEY §2.5 Var/Std machinery extended)."""
        n, (s1, s2, s3) = self._moment_sums(3)
        m = s1 / n
        m2 = s2 / n - m * m
        m3 = s3 / n - 3 * m * (s2 / n) + 2 * m * m * m
        # m2^1.5 as sqrt(m2*m2*m2): correctly rounded, engine-portable
        g1 = m3 / F.sqrt(m2 * m2 * m2)
        core = g1 * F.sqrt(n * (n - 1)) / (n - 2)
        # pandas edges: n < 3 -> NaN; zero variance -> 0.0 (ANSI would
        # error on the /0 before the result is even read)
        agg = (F.when(n < 3, F.lit(None).cast("double"))
               .when(m2 <= 0, F.lit(0.0)).otherwise(core))
        return self._reduce(agg, "skew", skipna)

    def kurt(self, skipna: bool = True):
        """pandas ``Series.kurt``: bias-corrected excess kurtosis G2 from
        (n, Σx..Σx⁴) in one pass."""
        n, (s1, s2, s3, s4) = self._moment_sums(4)
        m = s1 / n
        m2 = s2 / n - m * m
        m4 = (s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n)
              - 3 * m * m * m * m)
        g2 = m4 / (m2 * m2) - 3
        core = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
        agg = (F.when(n < 4, F.lit(None).cast("double"))
               .when(m2 <= 0, F.lit(0.0)).otherwise(core))
        return self._reduce(agg, "kurt", skipna)

    kurtosis = kurt

    def unstack(self, level: int = -1, fill_value=None,
                pivot_values: Sequence | None = None) -> "DataFrame":
        """pandas ``Series.unstack``: pivot one MultiIndex level into
        columns — ``groupBy(remaining levels).pivot(level).first(value)``.
        One shuffle on the kept levels; like ``pivot_table``, pass
        ``pivot_values`` at scale to skip the distinct-discovery scan of
        the pivoted level."""
        if len(self._index_cols) < 2:
            raise ValueError("unstack requires a MultiIndex (>= 2 index "
                             "levels); use to_frame() for flat series")
        idx_cols = list(self._index_cols)
        names = list(self._index_names or (None,) * len(idx_cols))
        lvl = level if level >= 0 else len(idx_cols) + level
        piv = idx_cols[lvl]
        keep = [c for i, c in enumerate(idx_cols) if i != lvl]
        keep_names = tuple(n for i, n in enumerate(names) if i != lvl)
        name = self._col_name or "__v__"
        sdf = self._sdf.select(*idx_cols, self._scol.alias(name))
        if pivot_values is None:
            # pandas raises on duplicate (keep, piv) entries instead of
            # silently picking one — one small dup-probe agg, piggybacking
            # on the eager distinct-discovery scan pivot() runs anyway.
            # The explicit pivot_values= scale path skips both scans (the
            # caller vouches for the shape).
            dup = (sdf.groupBy(*idx_cols).count()
                   .filter(F.col("count") > 1).limit(1).collect())
            if dup:
                raise ValueError(
                    "Index contains duplicate entries, cannot reshape")
        # pandas presents the rows sorted by the kept levels
        out = (sdf.groupBy(*keep)
               .pivot(piv, list(pivot_values) if pivot_values is not None
                      else None)
               .agg(F.first(name))
               .orderBy(*keep))
        if fill_value is not None:
            out = out.fillna(fill_value,
                             subset=[c for c in out.columns if c not in keep])
        node = Node("unstack", {"level": lvl}, self._expr)
        # pandas names the column axis after the unstacked level
        return DataFrame(out, node, tuple(keep), keep_names,
                         axis=D.axis_record(name=_scrub_name(names[lvl])))

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False, na_option: str = "keep") -> "Series":
        """pandas ``Series.rank`` (whole-series).  A naive global window
        (``Window.orderBy(v)`` with no partition) funnels ALL rows through
        one task — unusable at 100 TB.  Instead: ranks depend only on the
        VALUE, so aggregate to distinct values first (``groupBy(v).count()``,
        one shuffle on v), run the DISTRIBUTED prefix scan over the
        distinct-value table (high-cardinality columns — doubles, ids —
        have distinct ≈ rows, so even the value table must never funnel
        through one task), and join back on v (AQE broadcasts when small).
        ``na_option``: 'keep' → null rank (pandas NaN); 'top'/'bottom' →
        nulls rank first/last, adjusted with one broadcast 1-row stats
        join (no extra pass over the data)."""
        from .functions import scan as _scan
        if na_option not in ("keep", "top", "bottom"):
            raise ValueError(f"na_option must be keep/top/bottom, "
                             f"got {na_option!r}")
        name = self._col_name or "__v__"
        sdf = self._sdf.select(*[F.col(c) for c in self._index_cols],
                               self._scol.alias(name))
        counts = (sdf.select(name).filter(F.col(name).isNotNull())
                  .groupBy(name).agg(F.count(F.lit(1)).alias("__cnt__")))
        desc = [not ascending]
        scanned = _scan.prefix_scan(counts, [("__cnt__", "sum", "__cum__")],
                                    [name], descending=desc)
        cum = F.col("__cum__")       # count through this value, inclusive
        before = cum - F.col("__cnt__")
        if method == "average":
            r = before + (F.col("__cnt__") + 1) / 2.0
        elif method == "min":
            r = (before + 1).cast("double")
        elif method == "max":
            r = cum.cast("double")
        elif method == "dense":
            # dense rank = the value's position in the distinct-value
            # order — the distributed zipWithIndex, no window
            scanned = _scan.global_pos(counts, [name], "__dr__",
                                       descending=desc)
            r = (F.col("__dr__") + 1).cast("double")
        elif method == "first":
            # tie-break by appearance order: per-value 'before' count from
            # the distinct-value table + row_number within the equal-value
            # partition ordered by the engine index (rowid when implicit).
            # The window is bounded by the value partition — never global.
            base_sdf, vname, order_cols, idx = self._ordered_base()
            ranks = scanned.select(F.col(name), before.alias("__before__"))
            out = base_sdf.join(ranks, on=vname, how="left")
            wv = Window.partitionBy(vname).orderBy(
                *[F.col(c).asc() for c in order_cols])
            out = out.withColumn("__rn__", F.row_number().over(wv))
            valid = (F.col("__before__") + F.col("__rn__")).cast("double")
            if na_option == "keep" and not pct:
                out = out.withColumn("__rank__", valid)
            else:
                stats = sdf.agg(F.count(F.lit(1)).alias("__tot__"),
                                F.count(name).alias("__val__"))
                out = out.crossJoin(F.broadcast(stats))
                n_nan = F.col("__tot__") - F.col("__val__")
                if na_option == "top":
                    rk = F.when(F.col(vname).isNull(),
                                F.col("__rn__").cast("double")) \
                         .otherwise(valid + n_nan)
                elif na_option == "bottom":
                    rk = F.when(F.col(vname).isNull(),
                                (F.col("__val__") + F.col("__rn__"))
                                .cast("double")).otherwise(valid)
                else:
                    rk = valid
                out = out.withColumn("__rank__", rk)
                if pct:
                    den = (F.col("__val__") if na_option == "keep"
                           else F.col("__tot__"))
                    out = out.withColumn("__rank__", F.col("__rank__") / den)
            node = Node("rank", {"method": method}, self._expr)
            return Series(out, F.col("__rank__"), self._col_name, node, idx,
                          self._index_names if self._index_cols else (None,))
        else:
            raise ValueError(f"rank method {method!r} not supported "
                             "(average/min/max/dense/first)")
        ranks = scanned.select(F.col(name), r.alias("__rank__"))
        out = sdf.join(ranks, on=name, how="left")
        if na_option != "keep" or pct:
            # 1-row stats broadcast: non-null count, total, and (dense
            # only) distinct-value count — no extra pass over the data
            stats = sdf.agg(F.count(F.lit(1)).alias("__tot__"),
                            F.count(name).alias("__val__"))
            if method == "dense":
                stats = stats.crossJoin(
                    counts.agg(F.count(F.lit(1)).alias("__ndist__")))
            out = out.crossJoin(F.broadcast(stats))
            n_nan = F.col("__tot__") - F.col("__val__")
            rk = F.col("__rank__")
            if na_option == "top":
                # dense shifts the valid ranks by ONE nan group (if any),
                # the others by the nan row count
                shift_ = (F.when(n_nan > 0, F.lit(1)).otherwise(F.lit(0))
                          if method == "dense" else n_nan)
                nanr = {"average": (n_nan + 1) / 2.0,
                        "min": F.lit(1.0),
                        "max": n_nan.cast("double"),
                        "dense": F.lit(1.0)}[method]
                rk = F.when(F.col(name).isNull(), nanr) \
                     .otherwise(rk + shift_)
            elif na_option == "bottom":
                nanr = {"average": F.col("__val__") + (n_nan + 1) / 2.0,
                        "min": (F.col("__val__") + 1).cast("double"),
                        "max": (F.col("__val__") + n_nan).cast("double"),
                        "dense": (F.col("__ndist__") + 1).cast("double")
                        }[method]
                rk = F.when(F.col(name).isNull(), nanr).otherwise(rk)
            out = out.withColumn("__rank__", rk)
            if pct:
                # pandas: divide by non-NA count — dense by DISTINCT count;
                # top/bottom include the nulls (nan group) in the divisor
                if method == "dense":
                    den = (F.col("__ndist__") if na_option == "keep" else
                           F.col("__ndist__") +
                           F.when(n_nan > 0, F.lit(1)).otherwise(F.lit(0)))
                else:
                    den = (F.col("__val__") if na_option == "keep"
                           else F.col("__tot__"))
                out = out.withColumn("__rank__", F.col("__rank__") / den)
        node = Node("rank", {"method": method}, self._expr)
        return Series(out, F.col("__rank__"), self._col_name, node,
                      self._index_cols, self._index_names)

    # -- positional family: each op lowers through the DataFrame kernel on
    # the one-column frame (functions/scan.py segment scans — never a
    # global single-task window, SURVEY §2.7 superset) -----------------
    def _ordered_base(self, extra: list[Column] | None = None):
        """(sdf, value_name, order_cols, index_cols): the value column
        materialized next to the order ``_positional_order`` picks."""
        name = self._pos_col
        sdf, order, idx, _ = _positional_order(self)
        keep = [F.col(c) for c in dict.fromkeys([*order, *idx])]
        return (sdf.select(*keep, self._scol.alias(name), *(extra or [])),
                name, order, idx)

    @property
    def _pos_col(self) -> str:
        """The column name this Series takes in its one-column frame."""
        n = self._col_name
        return n if isinstance(n, str) and n else "__v__"

    def _positional(self, spec: tuple, lower) -> "Series":
        """A positional op ``DataFrame.assign`` can fuse into one scan of
        this Series' frame (``_fused_positional``): a ``_PendingSeries``
        that runs ``lower()`` — the standalone kernel — on first use as a
        Series.  Types the fused kernel does not compute lower now, so
        their errors stay eager."""
        if _fusable(spec, self.spark_type):
            return _PendingSeries(self, spec, lower)
        return lower()

    def _cumop(self, op: str, skipna: bool) -> "Series":
        return self._positional(
            ("cum", op, skipna),
            lambda: self._via_frame(
                lambda f, _n: getattr(f, f"cum{op}")(skipna=skipna),
                f"cum{op}"))

    def cumsum(self, skipna: bool = True):
        return self._cumop("sum", skipna)

    def cumprod(self, skipna: bool = True):
        return self._cumop("prod", skipna)

    def cummax(self, skipna: bool = True):
        return self._cumop("max", skipna)

    def cummin(self, skipna: bool = True):
        return self._cumop("min", skipna)

    def _lagop(self, op: str, periods, lower, fill_value=None) -> "Series":
        if isinstance(periods, bool) or \
                not isinstance(periods, (int, np.integer)):
            return lower()     # the fused kernel joins on whole offsets
        return self._positional(
            ("lag", op, int(periods), _lag_value(op, fill_value)), lower)

    def shift(self, periods: int = 1, fill_value=None,
              freq: str | None = None) -> "Series":
        if freq is not None:
            # pandas shift(freq=): move the INDEX timestamps by
            # periods*freq, values unchanged — a pure projection (no
            # reorder, no join, no shuffle).  r5 hunt fix: the old path
            # shifted the VALUE column.  Without an engine index the
            # series itself must be the timestamps (engine extension).
            if self._index_cols:
                icol = self._index_cols[0]
                name = self._col_name if self._col_name is not None \
                    else "__v__"
                sdf = self.to_frame(name)._sdf.withColumn(
                    icol, F.col(icol) + _freq_interval(freq, periods))
                node = Node("shift_freq", {"freq": freq}, self._expr)
                return Series(sdf, F.col(name), self._col_name, node,
                              self._index_cols, self._index_names)
            return self._with_scol(
                self._scol + _freq_interval(freq, periods), "shift_freq")
        return self._lagop("shift", periods, lambda: self._via_frame(
            lambda f, _n: f.shift(periods, fill_value), "shift",
            periods=periods), fill_value)

    def diff(self, periods: int = 1) -> "Series":
        return self._lagop("diff", periods, lambda: self._via_frame(
            lambda f, _n: f.diff(periods), "diff", periods=periods))

    def pct_change(self, periods: int = 1,
                   fill_method: str | None = "pad") -> "Series":
        def lower():
            return self._via_frame(
                lambda f, _n: f.pct_change(periods, fill_method),
                "pct_change", periods=periods)
        if fill_method is not None:
            return lower()   # the pad fill is a scan of its own
        return self._lagop("pct_change", periods, lower)

    def interpolate(self, method: str = "linear",
                    limit: int | None = None,
                    limit_direction: str | None = None) -> "Series":
        """pandas ``Series.interpolate`` over the global order, distributed:
        one global-position pass (range shuffle), two prefix scans for the
        nearest non-null neighbor positions (sentinel-encoded max scans —
        the backward one runs forward over the negated position), then two
        equi-joins on the neighbor positions to fetch their values.  No
        global window anywhere.

        ``linear``: prev + (next-prev)·(pos-pp)/(np-pp); trailing nulls
        take the last valid value and leading nulls stay null (pandas
        ``limit_direction='forward'`` default).  ``pad``/``ffill``: previous
        valid value.  ``limit`` caps the fill distance after a valid row.
        """
        return self._via_frame(
            lambda f, _n: f.interpolate(method, limit, limit_direction),
            "interpolate")

    def ffill(self, limit: int | None = None) -> "Series":
        """pandas ``Series.ffill`` over the global order — the distributed
        ``last_scan`` (range shuffle + per-partition fill + tiny per-
        partition carry fold), never a global window.  Dtype-preserving,
        unlike ``interpolate('pad')`` which promotes to double.
        ``limit=k`` fills at most k rows past each non-null."""
        return self._via_frame(lambda f, _n: f.ffill(limit), "ffill")

    def bfill(self, limit: int | None = None) -> "Series":
        """pandas ``Series.bfill`` — the same scan traversed in reverse
        key order."""
        return self._via_frame(lambda f, _n: f.bfill(limit), "bfill")

    def rolling(self, window: int | str, min_periods: int | None = None,
                center: bool = False, closed: str | None = None):
        """pandas ``Series.rolling`` over the GLOBAL order — prefix-sum
        differencing (``functions/scan.py``), one range shuffle + one
        position equi-join, no window function.  sum/mean/count/var/std/
        min/max; ``center=True`` shifts the window per pandas.  A string
        window (``"3D"``) is a TIME-offset window over the datetime
        index — block-bucketed self-join, see ``_FrameTimeRolling``."""
        if isinstance(window, str):
            return _FrameTimeRolling(self._as_frame(), window, min_periods,
                                     closed or "right", series=self)
        return _FrameRolling(None, window, min_periods, center,
                             closed=closed, series=self)

    def expanding(self, min_periods: int = 1):
        """pandas ``Series.expanding`` over the global order — the prefix
        scan itself, guarded by the running non-null count."""
        return _FrameExpanding(self._as_frame(), min_periods, series=self)

    def ewm(self, com: float | None = None, span: float | None = None,
            halflife: float | None = None, alpha: float | None = None,
            adjust: bool = True, ignore_na: bool = False):
        """pandas ``Series.ewm(...)`` chain (``.mean()``/``.var()``/
        ``.std()``) over the GLOBAL order — the distributed segment-scan
        recurrence in ``functions/timeseries.py`` (range shuffle +
        per-partition local recurrence + tiny decayed-carry fold), never a
        single-task pass."""
        return _FrameEwm(self._as_frame(),
                         _ewm_alpha(com, span, halflife, alpha), adjust,
                         ignore_na, series=self)

    @property
    def is_unique(self) -> bool:
        """pandas ``is_unique``: no value (nulls included) appears twice —
        one aggregation pass (count vs null-safe distinct count)."""
        row = (self._sdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(self._scol).alias("d"),
            F.sum(self._scol.isNull().cast("long")).alias("nulls"))
            .first())
        return int(row["n"]) == int(row["d"]) + min(int(row["nulls"] or 0), 1) \
            if int(row["nulls"] or 0) <= 1 else False

    def argmax(self) -> int:
        """pandas ``argmax``: integer POSITION (index order) of the max —
        distributed position pass + TopK limit 1."""
        return self._argextreme(largest=True)

    def argmin(self) -> int:
        return self._argextreme(largest=False)

    def _argextreme(self, largest: bool) -> int:
        from .functions.scan import global_pos
        sdf, name, order, _ = self._ordered_base()
        pos = global_pos(sdf, order)
        key = F.col(name).desc() if largest else F.col(name).asc()
        row = (pos.filter(F.col(name).isNotNull())
               .orderBy(key, F.col("__pos__").asc()).limit(1).first())
        return int(row["__pos__"]) if row is not None else -1

    def combine(self, other: "Series", func, fill_value=None) -> "Series":
        """pandas ``Series.combine``: elementwise Python ``func(a, b)`` —
        an Arrow-batched pandas_udf over the two (same-anchor or
        index-aligned) columns; result dtype inferred from a 10-row
        sample, like ``apply``.  ``fill_value`` substitutes for labels
        ABSENT from one side only (a present NaN value is passed to
        ``func`` unchanged, like pandas) — presence ride-along columns
        distinguish the two cases after the outer index join."""
        if other._sdf is self._sdf:
            base = self._sdf.select(
                *[F.col(c) for c in self._index_cols],
                self._scol.alias("__a__"), other._scol.alias("__b__"),
                F.lit(True).alias("__pa__"), F.lit(True).alias("__pb__"))
            idx, names = self._index_cols, self._index_names
        else:
            lf = self.to_frame("__a__").assign(__pa__=True)
            rf = other.to_frame("__b__").assign(__pb__=True)
            joined, lmap, rmap = align(lf, rf, "outer")
            base = joined._sdf.select(
                *[F.col(c) for c in joined._index_cols],
                F.col(lmap["__a__"]).alias("__a__"),
                F.col(rmap["__b__"]).alias("__b__"),
                F.col(lmap["__pa__"]).alias("__pa__"),
                F.col(rmap["__pb__"]).alias("__pb__"))
            idx, names = joined._index_cols, joined._index_names

        def _apply(a: pd.Series, b: pd.Series, pa: pd.Series,
                   pb: pd.Series) -> pd.Series:
            if fill_value is not None:
                a = a.where(pa.notna(), fill_value)
                b = b.where(pb.notna(), fill_value)
            return pd.Series([func(x, y) for x, y in zip(a, b)])

        sample = base.limit(10).toPandas()
        probe = _apply(sample["__a__"], sample["__b__"],
                       sample["__pa__"], sample["__pb__"])
        out_t = to_spark_type(probe.dtype if len(probe) else "float64")

        @F.pandas_udf(out_t)
        def _fn(a: pd.Series, b: pd.Series, pa: pd.Series,
                pb: pd.Series) -> pd.Series:
            return _apply(a, b, pa, pb)

        name = self._col_name or "__v__"
        out = base.select(*[F.col(c) for c in idx],
                          _fn("__a__", "__b__", "__pa__", "__pb__")
                          .alias(name))
        node = Node("combine", {}, self._expr, other._expr)
        return Series(out, F.col(name), self._col_name, node, idx, names)

    @property
    def is_monotonic_increasing(self) -> bool:
        from .functions import scan
        sdf, name, order, _ = self._ordered_base()
        return scan.is_monotonic(sdf, name, order, increasing=True)

    @property
    def is_monotonic_decreasing(self) -> bool:
        from .functions import scan
        sdf, name, order, _ = self._ordered_base()
        return scan.is_monotonic(sdf, name, order, increasing=False)

    def first_valid_index(self) -> Scalar:
        """pandas ``first_valid_index``: smallest index holding a non-null
        value — a filtered MIN aggregate, no ordering pass."""
        sdf, name, order, _ = self._ordered_base()
        agg = (sdf.filter(F.col(name).isNotNull())
               .agg(F.min(F.col(order[0])).alias("first_valid")))
        return Scalar(agg, Node("first_valid_index", {}, self._expr))

    def last_valid_index(self) -> Scalar:
        sdf, name, order, _ = self._ordered_base()
        agg = (sdf.filter(F.col(name).isNotNull())
               .agg(F.max(F.col(order[0])).alias("last_valid")))
        return Scalar(agg, Node("last_valid_index", {}, self._expr))

    def repeat(self, repeats: int) -> "Series":
        """pandas ``Series.repeat`` → ``explode(array_repeat(...))``."""
        name = self._col_name or "__v__"
        cols = [F.col(c) for c in self._index_cols]
        sdf = self._sdf.select(
            *cols, F.explode(F.array_repeat(self._scol, repeats)).alias(name))
        node = Node("repeat", {"repeats": repeats}, self._expr)
        return Series(sdf, F.col(name), self._col_name, node,
                      self._index_cols, self._index_names)

    # -- pairwise statistics ---------------------------------------------
    def _pairwise(self, other: "Series", fn, op: str) -> Scalar:
        if isinstance(other, Series) and other._sdf is self._sdf:
            return Scalar(self._sdf.agg(fn(self._scol, other._scol).alias(op)),
                          Node(op, {}, self._expr, other._expr))
        joined = _paired(self, other)
        return Scalar(joined._sdf.agg(
            fn(F.col("__l__"), F.col("__r__")).alias(op)),
            Node(op, {"aligned": True}, self._expr, other._expr))

    def corr(self, other: "Series", method: str = "pearson") -> Scalar:
        if method == "pearson":
            return self._pairwise(other, F.corr, "corr")
        if method == "spearman":
            # rank-transform both sides (distinct-value rank table +
            # join-back — the same scale-safe shape as Series.rank, no
            # global window), then Pearson on the ranks.
            if isinstance(other, Series) and other._sdf is self._sdf:
                pair = self._sdf.select(self._scol.alias("__l__"),
                                        other._scol.alias("__r__"))
            else:
                pair = _paired(self, other)._sdf.select("__l__", "__r__")
            ranked = _avg_rank_join(_avg_rank_join(pair, "__l__", "__lrk__"),
                                    "__r__", "__rrk__")
            return Scalar(ranked.agg(
                F.corr(F.col("__lrk__"), F.col("__rrk__")).alias("corr")),
                Node("corr", {"method": "spearman"}, self._expr, other._expr))
        raise NotImplementedError("corr: method must be pearson or spearman")

    def cov(self, other: "Series", ddof: int = 1,
            min_periods: int | None = None) -> Scalar:
        base = F.covar_samp if ddof == 1 else F.covar_pop
        if min_periods is None:
            return self._pairwise(other, base, "cov")

        def fn(a, b):
            n = F.count(F.when(a.isNotNull() & b.isNotNull(), F.lit(1)))
            return F.when(n >= min_periods, base(a, b))
        return self._pairwise(other, fn, "cov")

    def autocorr(self, lag: int = 1) -> Scalar:
        """pandas ``Series.autocorr``: Pearson correlation with the
        lag-shifted self — computed on the position-joined frame directly,
        one agg, no second alignment pass."""
        col, f = self._pos_col, self._as_frame()
        f = f._derive(f._sdf.withColumn("__shifted__", F.col(col)),
                      "autocorr")
        out = f._frame_positional(lag, lambda c, prev: prev, "shift",
                                  cols=["__shifted__"])
        return Scalar(out._sdf.agg(
            F.corr(F.col(col), F.col("__shifted__")).alias("autocorr")),
            Node("autocorr", {"lag": lag}, self._expr))

    def any(self, skipna: bool = True):
        return self._reduce(F.max(F.coalesce(self._scol.cast("boolean"), F.lit(False))), "any")

    def all(self, skipna: bool = True):
        return self._reduce(F.min(F.coalesce(self._scol.cast("boolean"), F.lit(True))), "all")

    def nunique(self, dropna: bool = True):
        c = F.countDistinct(self._scol) if dropna else \
            F.countDistinct(self._scol) + F.max(self._scol.isNull().cast("int"))
        return self._reduce(c, "nunique")

    def nunique_approx(self, rsd: float = 0.05):
        """HyperLogLog distinct-count — implements properly what is a dead
        API in the reference (``_collection.py:282-283`` raises
        AttributeError; SURVEY §2.5)."""
        return self._reduce(F.approx_count_distinct(self._scol, rsd), "nunique_approx")

    def mode(self, dropna: bool = True):
        """Reference Mode ``_reductions.py:242-255``; deterministic
        tie-break by value.  ``dropna=True`` (pandas default) excludes
        missing values from the count entirely — without the filter a
        null-majority column would return null as its mode."""
        f = self.to_frame("__v__")
        sdf = f._sdf.filter(F.col("__v__").isNotNull()) if dropna \
            else f._sdf
        counted = (sdf.groupBy("__v__").agg(F.count(F.lit(1)).alias("__n__")))
        # broadcast-join against the max count — no single-partition window
        maxn = counted.agg(F.max("__n__").alias("__m__"))
        top = (counted.join(F.broadcast(maxn), F.col("__n__") == F.col("__m__"))
               .select("__v__").orderBy("__v__"))
        node = Node("mode", {}, self._expr)
        return Series(top, F.col("__v__"), self._col_name, node)

    def quantile(self, q: float | Sequence[float] = 0.5,
                 approx: bool = False, interpolation: str = "linear"):
        """Exact interpolating percentile by default (pandas semantics);
        ``approx=True`` → t-digest ``percentile_approx`` for the 100 TB
        path.  A LIST of quantiles computes all of them in ONE
        aggregation pass (pandas returns a q-indexed Series) — three
        separate calls would be three full scans.

        ``interpolation`` in {linear, lower, higher, nearest, midpoint}
        follows pandas.  The non-linear modes need the exact rank h =
        (n-1)q, so they pay one extra count pass, then read the bracketing
        order statistics via ``percentile`` at integer-rank fractions
        (still a single aggregation scan)."""
        if interpolation != "linear":
            if approx or isinstance(q, (list, tuple)):
                raise NotImplementedError(
                    "interpolation other than 'linear' supports a single "
                    "exact quantile")
            import math
            n = int(self._sdf.agg(
                F.count(self._scol).alias("n")).collect()[0]["n"])
            if n == 0:
                return self._reduce(F.lit(float("nan")), "quantile")
            h = (n - 1) * float(q)
            lo, hi = math.floor(h), math.ceil(h)

            def at(k: int) -> Column:
                frac = (k / (n - 1)) if n > 1 else 0.0
                return F.percentile(self._scol, F.lit(frac))

            if interpolation == "lower":
                agg = at(lo)
            elif interpolation == "higher":
                agg = at(hi)
            elif interpolation == "nearest":
                agg = at(lo if (h - lo) <= 0.5 else hi)
            elif interpolation == "midpoint":
                agg = (at(lo) + at(hi)) / 2
            else:
                raise ValueError(f"unknown interpolation {interpolation!r}")
            return self._reduce(agg, "quantile")
        if isinstance(q, (list, tuple)):
            qs = [float(x) for x in q]
            agg = (F.percentile_approx(self._scol, F.lit(qs), 10000)
                   if approx else F.percentile(self._scol, F.lit(qs)))
            one = self._sdf.agg(agg.alias("__qv__")).select(
                F.explode(F.arrays_zip(
                    F.lit(qs).alias("q"),
                    F.col("__qv__").alias("quantile"))).alias("__z__"))
            out = one.select(F.col("__z__.q").alias("q"),
                             F.col("__z__.quantile").alias("quantile"))
            node = Node("quantile", {"q": qs}, self._expr)
            return Series(out, F.col("quantile"), self._col_name, node,
                          ("q",), (None,))
        if approx:
            return self._reduce(F.percentile_approx(self._scol, q, 10000), "quantile")
        return self._reduce(F.percentile(self._scol, F.lit(q)), "quantile")

    def median(self, skipna: bool = True, approx: bool = False):
        if approx:
            return self._reduce(F.percentile_approx(self._scol, 0.5, 10000), "median", skipna)
        return self._reduce(F.median(self._scol), "median", skipna)

    def cut(self, bins: Sequence[float], labels: Sequence[str] | None = None,
            right: bool = True, precision: int = 3,
            include_lowest: bool = False,
            _first_edge_adjust: bool = False) -> "Series":
        """pandas ``pd.cut`` with explicit edges: a JVM-side CASE chain —
        no shuffle, no Python.  Default labels follow pandas' interval
        formatting (float edges rounded per ``precision`` with the
        uniqueness-preserving escalation pandas uses); ``labels=False``
        returns the integer bin code; out-of-range → null.

        An integer ``bins`` computes pandas' equal-width edges (linspace
        over [min, max] with the 0.1%-of-range boundary adjustment) from
        one tiny min/max aggregation — an eager driver action exactly
        like pandas' own scan."""
        if isinstance(bins, int):
            if bins < 1:
                raise ValueError("`bins` should be a positive integer")
            import numpy as _np
            row = self._sdf.agg(F.min(self._scol).alias("mn"),
                                F.max(self._scol).alias("mx")).collect()[0]
            mn, mx = float(row["mn"]), float(row["mx"])
            if mn == mx:  # pandas: widen a degenerate range by 0.1%
                mn -= (0.001 * abs(mn)) if mn != 0 else 0.001
                mx += (0.001 * abs(mx)) if mx != 0 else 0.001
                bins = [float(e) for e in _np.linspace(mn, mx, bins + 1)]
            else:
                edges_arr = _np.linspace(mn, mx, bins + 1)
                adj = (mx - mn) * 0.001
                if right:
                    edges_arr[0] -= adj
                else:
                    edges_arr[-1] += adj
                bins = [float(e) for e in edges_arr]
        edges = list(bins)
        if len(edges) < 2:
            raise ValueError("cut needs at least 2 bin edges")
        if include_lowest and right and not _first_edge_adjust:
            # pandas: the first right-closed interval also includes its
            # left edge — nudge the edge down (interval labels keep the
            # original edge via _first_edge_adjust display handling)
            edges[0] = edges[0] - abs(edges[0]) * 1e-9 - 1e-12
            _first_edge_adjust = True
        if labels not in (None, False) and len(labels) != len(edges) - 1:
            raise ValueError("labels must have len(bins) - 1 entries")
        disp = _interval_display(edges, precision, _first_edge_adjust)
        c = self._scol
        if labels is None:
            labels = [f"({disp[i]}, {disp[i + 1]}]" if right
                      else f"[{disp[i]}, {disp[i + 1]})"
                      for i in range(len(edges) - 1)]
        expr = F.lit(None).cast("int" if labels is False else "string")
        for i in range(len(edges) - 2, -1, -1):
            lo, hi = edges[i], edges[i + 1]
            cond = (c > lo) & (c <= hi) if right else (c >= lo) & (c < hi)
            val = F.lit(i) if labels is False else F.lit(str(labels[i]))
            expr = F.when(cond, val).otherwise(expr)
        # pandas cut returns an ordered Categorical of the bin labels
        # (integer codes for labels=False)
        return self._with_scol(
            expr, "cut", n_bins=len(edges) - 1,
            entry=None if labels is False
            else D.category([str(x) for x in labels], ordered=True))

    def qcut(self, q: int | Sequence[float],
             labels: Sequence[str] | None = None,
             duplicates: str = "raise") -> "Series":
        """pandas ``pd.qcut``: quantile-based bins.  Edge values are the
        exact order statistics bracketing each quantile position (one
        ``scan.global_pos`` pass + a ≤2(q+1)-row collect — an eager driver
        action, like pandas itself), interpolated driver-side with
        numpy's exact ``_lerp`` arithmetic: pandas routes quantiles
        through ``np.percentile(values, qs * 100)``, whose ``(q*100)/100``
        round-trip and ``t >= 0.5`` reversed-lerp branch shift edges by an
        ulp — and an ulp decides the bin of edge-exact values (wave S).
        Binning is then a JVM-side CASE chain.
        ``duplicates='raise'/'drop'`` matches pandas: repeated quantile
        edges error unless dropped."""
        import math
        probs = [i / q for i in range(q + 1)] if isinstance(q, int) \
            else [float(p) for p in q]
        n = int(self._sdf.agg(F.count(self._scol).alias("n"))
                .collect()[0]["n"])
        if n == 0:
            raise ValueError("qcut: no non-null values")
        pos_list, need = [], set()
        for p in probs:
            qfrac = (p * 100) / 100            # pandas' ×100 round-trip
            pos = qfrac * (n - 1)
            lo, hi = math.floor(pos), math.ceil(pos)
            need.update((lo, hi))
            pos_list.append((pos, lo, hi))
        from .functions import scan
        vals = (self._sdf.select(self._scol.alias("__v__"))
                .filter(F.col("__v__").isNotNull()))
        posd = scan.global_pos(vals, ["__v__"])
        stats = {int(r["__pos__"]): float(r["__v__"])
                 for r in posd.filter(
                     F.col("__pos__").isin([int(k) for k in need]))
                 .collect()}
        raw = []
        for pos, lo, hi in pos_list:
            a, b = stats[lo], stats[hi]
            t = pos - lo
            v = a + (b - a) * t
            if t >= 0.5:                       # numpy _lerp stability branch
                v = b - (b - a) * (1 - t)
            raw.append(v)
        edges = list(dict.fromkeys(raw))  # dedupe, keep order
        if len(edges) < len(raw) and duplicates != "drop":
            raise ValueError(
                "Bin edges must be unique. You can drop duplicate edges "
                "by setting the 'duplicates' kwarg")
        if len(edges) < 2:
            if duplicates == "drop" and len(edges) == 1:
                # pandas: every quantile edge equal → zero usable bins →
                # ALL values bin to NaN (verified against pandas 2.2)
                t = "double" if labels is False else "string"
                return self._with_scol(
                    F.lit(None).cast(t), "qcut", entry=None
                    if labels is False else D.category((), ordered=True))
            raise ValueError("qcut: all values identical — no bins")
        # pandas includes the minimum in the first bin: nudge the left edge
        edges[0] = edges[0] - abs(edges[0]) * 1e-9 - 1e-12
        return self.cut(edges, labels=labels, right=True,
                        _first_edge_adjust=True)

    def describe(self, percentiles: Sequence[float] | None = None) -> "DataFrame":
        """pandas ``Series.describe``: one aggregation pass (count, mean,
        std, min, exact quartiles, max), stacked JVM-side into stat rows."""
        name = self._col_name or "value"
        sdf = self._sdf.select(self._scol.alias(name))
        return DataFrame(sdf, Node("to_frame", {}, self._expr)) \
            .describe(percentiles=percentiles)

    def idxmin(self, skipna: bool = True):
        """Reference IdxMin ``_reductions.py:142-152`` → ``F.min_by`` over the
        index column (no sort, single agg).  Ties break to the SMALLEST
        index label (pandas returns the first occurrence; min-label is the
        distributed-deterministic analogue) via a (value, index) struct
        ordering."""
        return self._idx_extreme("idxmin")

    def idxmax(self, skipna: bool = True):
        return self._idx_extreme("idxmax")

    def _idx_extreme(self, op: str) -> Scalar:
        if self._index_cols:
            idx = F.col(self._index_cols[0])
            sdf = self._sdf
        else:
            sdf = positions(self)
            idx = F.col(_ROWID)
        valid = sdf.filter(self._scol.isNotNull())
        # min_by over a (value', idx) struct — struct comparison is
        # lexicographic, so value ties resolve to the smallest index in
        # ONE aggregation.  idxmax negates numeric values to reuse the
        # same min ordering; non-numeric values fall back to a two-pass
        # (extreme value → min index among equals).
        if op == "idxmin":
            agg = F.min_by(idx, F.struct(self._scol.alias("__v__"),
                                         idx.alias("__i__")))
        elif is_numeric(self.spark_type):
            agg = F.min_by(idx, F.struct((-self._scol.cast("double"))
                                         .alias("__v__"), idx.alias("__i__")))
        else:
            m = valid.agg(F.max(self._scol).alias("__m__"))
            hit = valid.join(F.broadcast(m),
                             self._scol.eqNullSafe(F.col("__m__")))
            return Scalar(hit.agg(F.min(idx).alias(op)),
                          Node(op, {}, self._expr))
        return Scalar(valid.agg(agg.alias(op)), Node(op, {}, self._expr))

    # ------------------------------------------------------------------
    # distinct / frequency (reference §2.5)
    # ------------------------------------------------------------------
    def unique(self) -> "Series":
        # distinct over the VALUE column alone — the frame's index/stamp/
        # label columns would make every row distinct
        name = self._col_name or "__v__"
        out = self._sdf.select(self._scol.alias(name)).distinct()
        node = Node("unique", {}, self._expr)
        return Series(out, F.col(name), self._col_name, node)

    def drop_duplicates(self, keep: str = "first") -> "Series":
        """pandas ``Series.drop_duplicates``: keeps the FIRST (or last)
        occurrence with its original label and row order — the frame
        dedup machinery, not a bare ``distinct()`` (which loses both)."""
        name = self._col_name if self._col_name is not None else "__v__"
        f = self.to_frame(name).drop_duplicates(subset=[name], keep=keep)
        return _frame_column(f, name, self._col_name)

    def value_counts(self, sort: bool = True, ascending: bool = False,
                     dropna: bool = True, normalize: bool = False,
                     bins: int | None = None) -> "Series":
        """Reference ValueCounts ``_reductions.py:288-305``.  ``bins=n``
        buckets into n equal-width intervals first (pandas lowers to
        ``pd.cut``): one min/max scan for the edges, then the CASE-chain
        cut — zero-count bins are not emitted (matching counts only)."""
        if bins is not None:
            # pandas lowers bins=n to pd.cut(s, n): equal-width edges over
            # [min, max] with the left edge pulled down 0.1% of the range
            # (include_lowest).  One min/max scan for the edges (a tiny
            # eager action, like pandas), then the categorical counts of
            # the JVM CASE-chain cut: zero-count bins ARE emitted.
            row = (self.to_frame("__v__")._sdf
                   .agg(F.min("__v__").alias("mn"),
                        F.max("__v__").alias("mx")).first())
            mn, mx = float(row["mn"]), float(row["mx"])
            if mn == mx:
                mn, mx = mn - 0.5, mx + 0.5
            step = (mx - mn) / bins
            edges = [mn + step * i for i in range(bins + 1)]
            edges[-1] = mx
            edges[0] = mn - (mx - mn) * 0.001
            return self.cut(edges, _first_edge_adjust=True).value_counts(
                sort=sort, ascending=ascending, dropna=dropna,
                normalize=normalize)
        # tie order is FIRST-APPEARANCE order in the presented row order
        # (pandas' own tie order under sort=True is unstable-quicksort
        # UNDEFINED; sort=False appearance order is pandas-defined) — one
        # extra map-side-combinable min(position) per group; the position
        # anchor is free on labeled scans / stamped frames and a rowid
        # attach otherwise.  CONTRACT: for an UNSTAMPED indexed series
        # "appearance" is index order (the engine's presentation
        # convention for indexed frames) — a non-monotonic index differs
        # from pandas' physical row order there (r8 review, documented
        # deliberate: arrival order is nondeterministic distributed).
        sdf, name, order, _vc_idx = self._ordered_base()
        if dropna:
            sdf = sdf.filter(F.col(name).isNotNull())
        first = (F.min(F.col(order[0])) if len(order) == 1
                 else F.min(F.struct(*[F.col(c) for c in order])))
        out = sdf.groupBy(name).agg(F.count(F.lit(1)).alias("count"),
                                    first.alias("__vc_first__"))
        cats = getattr(self._value_dtype, "categories", None)
        is_cat = bool(cats)
        if is_cat:
            # pandas: a KNOWN categorical's value_counts includes every
            # unobserved category with count 0 (wave U) — the category
            # list is driver-held metadata, so the zero-fill is one
            # broadcast left join.  Tie key = CATEGORY-LIST position
            # (pandas computes categorical counts in category order, NaN
            # appended last), not first appearance.
            spark = self._sdf.sparkSession
            cat_pdf = pd.DataFrame({name: list(cats),
                                    "__vc_pos__": range(len(cats))})
            lab = F.broadcast(spark.createDataFrame(cat_pdf))
            filled = (lab.join(out.filter(F.col(name).isNotNull())
                               .drop("__vc_first__"), name, "left")
                      .withColumn("count", F.coalesce(F.col("count"),
                                                      F.lit(0))))
            if not dropna:
                # the null-key count row never matches a category label —
                # union it back so dropna=False keeps the NaN count
                filled = filled.unionByName(
                    out.filter(F.col(name).isNull())
                    .withColumn("__vc_pos__", F.lit(len(cats)))
                    .drop("__vc_first__"))
            out = filled
        tie = F.col("__vc_pos__" if is_cat else "__vc_first__")
        val_col = "count"
        if normalize:
            out = out.withColumn("proportion",
                                 F.col("count") / F.sum("count").over(Window.partitionBy()))
            val_col = "proportion"
        if sort:
            out = out.orderBy(F.col(val_col).asc() if ascending
                              else F.col(val_col).desc(), tie.asc())
        else:
            # pandas sort=False presents first-appearance (or category)
            # order — pin it (arrival order was nondeterministic)
            out = out.orderBy(tie.asc())
        out = out.select(name, val_col)
        node = Node("value_counts", {"normalize": normalize}, self._expr)
        # the counted values index the result in their own dtype
        return Series(out, F.col(val_col), val_col, node, (name,), (name,),
                      {name: self._value_dtype})

    def _topk(self, n: int, keep: str, largest: bool, op: str) -> "Series":
        """Distributed TopK (TakeOrderedAndProject).  pandas drops nulls;
        ``keep='first'/'last'`` tie-breaks on index order, ``keep='all'``
        keeps every row tied with the cutoff (threshold from the top-n
        limit, broadcast back — never a global sort)."""
        if keep not in ("first", "last", "all"):
            raise ValueError(f"keep must be first/last/all, got {keep!r}")
        # default-index frames get the anonymous rowid index first so the
        # result preserves pandas' original row labels (and first/last has
        # a real positional tie-break)
        sdf, name, _order, idx = self._ordered_base()
        base = sdf.filter(F.col(name).isNotNull())
        key = F.col(name).desc() if largest else F.col(name).asc()
        if keep == "all":
            thr = (base.orderBy(key).limit(n)
                   .agg((F.min(name) if largest else F.max(name))
                        .alias("__thr__")))
            cond = (F.col(name) >= F.col("__thr__") if largest
                    else F.col(name) <= F.col("__thr__"))
            out = base.join(F.broadcast(thr), cond).drop("__thr__")
        else:
            tb = [(F.col(c).asc() if keep == "first" else F.col(c).desc())
                  for c in idx]
            out = base.orderBy(key, *tb).limit(n)
        return Series(out, F.col(name), self._col_name,
                      Node(op, {"n": n, "keep": keep}, self._expr),
                      tuple(idx),
                      self._index_names if self._index_cols else (None,))

    def nlargest(self, n: int = 5, keep: str = "first") -> "Series":
        """Reference NLargest ``_reductions.py:268-285``."""
        return self._topk(n, keep, True, "nlargest")

    def nsmallest(self, n: int = 5, keep: str = "first") -> "Series":
        return self._topk(n, keep, False, "nsmallest")

    def dot(self, other: "Series") -> "Scalar":
        """pandas ``Series.dot``: index-aligned sum of products — one
        elementwise multiply + one scalar aggregation.  numpy dot
        PROPAGATES NaN (no skipna), so any null product poisons the
        result — skipna=False, not the skipping default."""
        prod = self * other
        return prod.sum(skipna=False)

    # ------------------------------------------------------------------
    def to_frame(self, name: str | None = None) -> "DataFrame":
        """Reference ToFrame ``_expr.py:1073-1084``."""
        name = name or self._vkey
        cols = [F.col(c) for c in self._index_cols] + \
            _order_cols(self._sdf) + [self._scol.alias(name)]
        node = Node("to_frame", {"name": name}, self._expr)
        return DataFrame(self._sdf.select(*cols), node,
                         self._index_cols, self._index_names,
                         {**self._entries(self._index_cols),
                          name: self._value_dtype})

    def rename(self, name=None, index=None) -> "Series":
        """pandas ``Series.rename``: a scalar renames the SERIES; a dict
        (or callable) under ``index=`` — or passed positionally —
        relabels index values (a JVM CASE chain / Arrow map, wave V)."""
        if index is None and (isinstance(name, Mapping) or callable(name)):
            # pandas: dict-like OR callable passed positionally relabels
            # the INDEX, not the series name (r8 review)
            name, index = None, name
        if index is not None:
            if not self._index_cols:
                raise ValueError("rename(index=) needs an index")
            icol = F.col(self._index_cols[0])
            if isinstance(index, Mapping):
                out = icol
                for k, v in index.items():
                    out = F.when(icol.eqNullSafe(F.lit(k)),
                                 F.lit(v)).otherwise(out)
            elif callable(index):
                from pyspark.sql.functions import pandas_udf
                idx_type = self._sdf.schema[self._index_cols[0]].dataType

                @pandas_udf(idx_type)
                def _map_lbl(s: pd.Series) -> pd.Series:
                    return s.map(index)
                out = _map_lbl(icol)
            else:
                raise TypeError("rename index= expects a dict or callable")
            sdf = self._sdf.withColumn(self._index_cols[0], out)
            node = Node("rename_index", {}, self._expr)
            return Series(sdf, self._scol, self._col_name, node,
                          self._index_cols, self._index_names,
                          {self._vkey: self._value_dtype})
        # pandas: rename() / rename(None) UNNAMES the series (the no-arg
        # form is not a no-op — r8 name hunt)
        return self._with_scol(self._scol, "rename", name,
                               entry=self._value_dtype)

    def to_list(self) -> list:
        """Eager values as a Python list (pandas ``tolist``)."""
        return self.compute().tolist()

    tolist = to_list

    def head(self, n: int = 5) -> "Series":
        node = Node("head", {"n": n}, self._expr)
        sdf = self._sorted_limit(n)
        if sdf is not None:
            return Series(sdf, self._scol, self._col_name, node,
                          self._index_cols, self._index_names, self._dtypes)
        if n < 0:  # all but the last |n| rows: the frame's counted head
            return self._via_frame(lambda f, _n: f.head(n), "head", n=n)
        name = self._col_name if self._col_name is not None else "__v__"
        f = self.to_frame(name)
        return Series(f._sdf.limit(n), F.col(name), self._col_name, node,
                      self._index_cols, self._index_names, self._dtypes)

    def explode(self, ignore_index: bool = False) -> "Series":
        # delegate through the one-column frame so labels behave like
        # pandas: the SOURCE row label repeats per exploded element
        # (r5 hunt pin — the old scol-level explode renumbered)
        name = self._col_name if self._col_name is not None else "__v__"
        f = self.to_frame(name).explode(name, ignore_index=ignore_index)
        return _frame_column(f, name, self._col_name)

    def repeat(self, repeats: int) -> "Series":
        """pandas ``Series.repeat`` (scalar count): one generator
        projection (``explode(sequence)``), no shuffle."""
        if repeats < 0:
            raise ValueError("repeats must be non-negative")
        sdf, name, order, idx = self._ordered_base()
        if repeats == 0:
            # sequence(1, 0) is a DESCENDING 2-element sequence, not empty
            out = sdf.filter(F.lit(False))
        else:
            out = sdf.withColumn(
                "__rep__", F.explode(F.sequence(F.lit(1), F.lit(repeats)))) \
                .drop("__rep__")
        node = Node("repeat", {"repeats": repeats}, self._expr)
        return Series(out, F.col(name), self._col_name, node, idx,
                      self._index_names if self._index_cols else (None,),
                      self._dtypes)

    # ------------------------------------------------------------------
    # pandas API fill (round 3): ordered ops, index surgery, conversions.
    # Most delegate through the one-column frame so the DataFrame
    # implementations (distributed sorts, position passes, index joins)
    # are the single source of truth.
    # ------------------------------------------------------------------
    def _as_frame(self) -> "DataFrame":
        """The Series as a one-column frame, its column named
        ``_pos_col``.  A default positional index is materialized as the
        anonymous rowid index first so pandas' label-preserving semantics
        hold (tail keeps labels 4..5, sort keeps the permuted labels,
        etc.)."""
        if self._index_cols:
            return Series.to_frame(self, self._pos_col)
        sdf, nm, _order, idx = self._ordered_base()
        return DataFrame(sdf, Node("frame_base", {}, self._expr), idx,
                         dtypes={nm: self._value_dtype})

    def _via_frame(self, fn, op: str, **params) -> "Series":
        """Run a DataFrame op over the one-column frame and re-wrap the
        value column as a Series (keeps name, index and dtype entries)."""
        name = self._pos_col
        out = fn(self._as_frame(), name)
        return _frame_column(out, name, self._col_name,
                             Node(op, params, self._expr))

    @property
    def index(self) -> "Index":
        """The first index level, presented in its dtype record entry."""
        if self._index_cols:
            c, name = self._index_cols[0], self._index_names[0]
            return Index(self._sdf, F.col(c), name,
                         Node("index", {"col": c}, self._expr), (), None,
                         {_value_key(name): self._dtypes.get(c)})
        sdf = positions(self)
        return Index(sdf, F.col(_ROWID), None, Node("index", {}, self._expr))

    def keys(self) -> "Index":
        return self.index

    # sort_values/sort_index keep the frame sort's node (not a Series op
    # node over it): its hint is what lets head()/tail() TopK
    def sort_values(self, ascending: bool = True,
                    na_position: str = "last",
                    ignore_index: bool = False, key=None,
                    kind: str | None = None) -> "Series":
        out = self._as_frame().sort_values(
            self._pos_col, ascending=ascending, na_position=na_position,
            ignore_index=ignore_index, key=key, kind=kind)
        return _frame_column(out, self._pos_col, self._col_name)

    def sort_index(self, ascending: bool = True,
                   na_position: str = "last") -> "Series":
        out = self._as_frame().sort_index(ascending=ascending,
                                          na_position=na_position)
        return _frame_column(out, self._pos_col, self._col_name)

    def tail(self, n: int = 5) -> "Series":
        sdf = self._sorted_limit(n, tail=True)
        if sdf is not None:
            return Series(sdf, self._scol, self._col_name,
                          Node("tail", {"n": n}, self._expr),
                          self._index_cols or (_ROWID,),
                          self._index_names if self._index_cols else (None,),
                          self._dtypes)
        return self._via_frame(lambda f, _n: f.tail(n), "tail", n=n)

    def sample(self, frac: float | None = None, n: int | None = None,
               replace: bool = False,
               random_state: int | None = None) -> "Series":
        return self._via_frame(
            lambda f, _n: f.sample(frac=frac, n=n, replace=replace,
                                   random_state=random_state),
            "sample", frac=frac, n=n)

    def take(self, indices) -> "Series":
        return self._via_frame(lambda f, _n: f.take(indices), "take")

    def filter(self, items=None, like: str | None = None,
               regex: str | None = None) -> "Series":
        """pandas ``Series.filter``: keep rows whose INDEX LABEL matches
        (Series default axis is 0, unlike DataFrame)."""
        if sum(x is not None for x in (items, like, regex)) != 1:
            raise TypeError("pass exactly one of items, like, regex")
        if not self._index_cols:
            raise ValueError("Series.filter needs an index — set_index "
                             "on the parent frame first")
        icol = F.col(self._index_cols[0])
        if items is not None:
            cond = icol.isin(list(items))
        elif like is not None:
            cond = icol.cast("string").contains(like)
        else:
            cond = icol.cast("string").rlike(regex)
        name = self._col_name if self._col_name is not None else "__v__"
        sdf = self.to_frame(name)._sdf.filter(cond)
        node = Node("filter", {"like": like, "regex": regex}, self._expr)
        return Series(sdf, F.col(name), self._col_name, node,
                      self._index_cols, self._index_names, self._dtypes)

    def reset_index(self, drop: bool = False, name=None):
        """``drop=True`` → Series on a fresh positional index;
        ``drop=False`` → DataFrame with the index as a column."""
        if drop:
            vname = self._col_name if self._col_name is not None else "__v__"
            if (tuple(self._index_cols) == (_ROWID,)
                    and _ORDER not in self._sdf.columns):
                # pandas relabels but KEEPS row order — the rowid labels
                # carry the presented order, so they become the stamp
                # (as in the frame path)
                sdf = self._sdf.select(F.col(_ROWID).alias(_ORDER),
                                       self._scol.alias(vname))
            elif _ORDER in self._sdf.columns:
                # a stamped series keeps its presented order through the
                # relabel (r8 hunt: dropping the stamp scrambled to
                # arrival order)
                sdf = self._sdf.select(F.col(_ORDER),
                                       self._scol.alias(vname))
            else:
                sdf = self._sdf.select(self._scol.alias(vname))
            node = Node("reset_index", {"drop": True}, self._expr)
            return Series(sdf, F.col(vname), self._col_name, node, (), (),
                          {self._vkey: self._value_dtype})
        col = name if name is not None else (
            self._col_name if self._col_name is not None else "0")
        if self._index_cols:
            return self.to_frame(str(col)).reset_index()
        # default positional index: materialize it so pandas' ('index',
        # values) two-column result shape holds
        sdf, nm, _order, idx = self._ordered_base()
        if nm != str(col):
            sdf = sdf.withColumnRenamed(nm, str(col))
        f = DataFrame(sdf, Node("reset_index_base", {}, self._expr),
                      idx, (None,), {str(col): self._value_dtype})
        return f.reset_index()

    def drop(self, labels=None, errors: str = "raise") -> "Series":
        """pandas ``Series.drop``: remove rows by index label."""
        labels = _ensure_list(labels)
        if not self._index_cols:
            raise ValueError("Series.drop needs an index")
        icol = self._index_cols[0]
        name = self._col_name if self._col_name is not None else "__v__"
        base = self.to_frame(name)._sdf
        if errors == "raise":
            found = (base.filter(F.col(icol).isin(labels))
                     .select(icol).distinct().count())
            if found < len(set(labels)):
                raise KeyError(f"some labels of {labels!r} not found in index")
        out = base.filter(~F.col(icol).isin(labels) | F.col(icol).isNull())
        node = Node("drop", {"n_labels": len(labels)}, self._expr)
        return Series(out, F.col(name), self._col_name, node,
                      self._index_cols, self._index_names, self._dtypes)

    def duplicated(self, keep: str = "first") -> "Series":
        name = self._col_name if self._col_name is not None else "__v__"
        out = self.to_frame(name).duplicated(subset=[name], keep=keep)
        # pandas keeps the Series name (the FRAME variant is unnamed)
        out._col_name = self._col_name
        return out

    def equals(self, other) -> bool:
        if not isinstance(other, Series):
            return False
        return self.to_frame("__v__").equals(other.to_frame("__v__"))

    def xs(self, key, level=0):
        """Cross-section on an index level: filter + drop that level.
        With a single-level index this is the scalar lookup (pandas
        returns the value)."""
        if not self._index_cols:
            raise ValueError("xs needs an index")
        if isinstance(level, str):
            level = list(self._index_names).index(level)
        icol = self._index_cols[level]
        name = self._col_name if self._col_name is not None else "__v__"
        base = self.to_frame(name)._sdf.filter(F.col(icol) == F.lit(key))
        if len(self._index_cols) == 1:
            rows = base.select(name).limit(2).collect()
            if not rows:
                raise KeyError(key)
            if len(rows) == 1:
                return rows[0][0]
            # duplicate labels: pandas returns the matching sub-Series
            node = Node("xs", {"key": key}, self._expr)
            return Series(base, F.col(name), self._col_name, node,
                          self._index_cols, self._index_names, self._dtypes)
        cols = tuple(c for c in self._index_cols if c != icol)
        names = tuple(n for c, n in zip(self._index_cols, self._index_names)
                      if c != icol)
        node = Node("xs", {"key": key, "level": level}, self._expr)
        return Series(base.drop(icol), F.col(name), self._col_name, node,
                      cols, names, self._dtypes)

    def get(self, key, default=None):
        """Label lookup with a default (eager, like pandas)."""
        try:
            return self.xs(key)
        except KeyError:
            return default

    def swaplevel(self, i: int = -2, j: int = -1) -> "Series":
        return self._via_frame(lambda f, _n: f.swaplevel(i, j), "swaplevel")

    def droplevel(self, level) -> "Series":
        return self._via_frame(lambda f, _n: f.droplevel(level), "droplevel")

    def reorder_levels(self, order) -> "Series":
        return self._via_frame(lambda f, _n: f.reorder_levels(order),
                               "reorder_levels")

    def rename_axis(self, index=None) -> "Series":
        return self._via_frame(lambda f, _n: f.rename_axis(index),
                               "rename_axis")

    def set_axis(self, labels, axis: int = 0) -> "Series":
        if axis not in (0, "index"):
            raise ValueError("Series.set_axis only has axis=0")
        return self._via_frame(lambda f, _n: f.set_axis(labels, axis=0),
                               "set_axis")

    def add_prefix(self, prefix: str) -> "Series":
        """pandas: prefixes the INDEX labels (string concat — the index
        becomes string-typed, as in pandas)."""
        return self._relabel_index(lambda c: F.concat(F.lit(prefix),
                                                      c.cast("string")),
                                   "add_prefix")

    def add_suffix(self, suffix: str) -> "Series":
        return self._relabel_index(lambda c: F.concat(c.cast("string"),
                                                      F.lit(suffix)),
                                   "add_suffix")

    def _relabel_index(self, fn, op: str) -> "Series":
        sdf, name, order, idx = self._ordered_base()
        out = sdf.withColumn(idx[0], fn(F.col(idx[0])))
        node = Node(op, {}, self._expr)
        return Series(out, F.col(name), self._col_name, node, idx,
                      self._index_names if self._index_cols else (None,),
                      {self._vkey: self._value_dtype})

    def reindex(self, index, fill_value=None) -> "Series":
        return self._via_frame(
            lambda f, _n: f.reindex(index=index, fill_value=fill_value),
            "reindex")

    def align(self, other: "Series", join: str = "outer"):
        """Align two Series on their labels (``_order.align``): two
        re-wrapped views of one join (pandas returns the aligned pair)."""
        joined = _paired(self, other, join)
        node = Node("align", {"join": join}, self._expr, other._expr)
        l = Series(joined._sdf, F.col("__l__"), self._col_name, node,
                   joined._index_cols, joined._index_names)
        r = Series(joined._sdf, F.col("__r__"), other._col_name, node,
                   joined._index_cols, joined._index_names)
        return l, r

    # -- aggregation spec ------------------------------------------------
    def agg(self, spec):
        """pandas ``Series.agg``: ``"fn"`` → Scalar; ``["f1","f2"]`` →
        Series indexed by function name — ONE distributed aggregate pass
        for the whole list."""
        from .operators.groupby import _AGG_FNS
        if isinstance(spec, str):
            if spec not in _AGG_FNS and not hasattr(self, spec):
                raise ValueError(f"Unknown aggregation: {spec!r}")
            return getattr(self, spec)()
        if callable(spec):
            return spec(self)
        fns = list(spec)
        aggs = []
        for fn in fns:
            col = _AGG_FNS.get(fn)
            if col is None:
                raise ValueError(f"Unknown aggregation: {fn!r}")
            aggs.append(col(self._scol).cast("double").alias(f"__{fn}__"))
        one_row = self._sdf.agg(*aggs)
        stack = ", ".join(f"'{fn}', `__{fn}__`" for fn in fns)
        long = one_row.selectExpr(
            f"stack({len(fns)}, {stack}) as (__fn__, __val__)")
        node = Node("agg", {"spec": fns}, self._expr)
        return Series(long, F.col("__val__"), self._col_name, node,
                      ("__fn__",), (None,))

    aggregate = agg

    def transform(self, func):
        """Elementwise same-shape transform: engine-native for known
        names, Arrow ``apply`` for callables."""
        if isinstance(func, str):
            named = {
                "abs": F.abs, "sqrt": F.sqrt, "exp": F.exp, "log": F.log,
                "log1p": F.log1p, "floor": F.floor, "ceil": F.ceil,
            }
            if func in named:
                return self._with_scol(named[func](self._scol),
                                       f"transform_{func}")
            # pandas transform accepts any same-shape METHOD name
            # (cumsum, rank, ffill, ...) — delegate to the engine method
            meth = getattr(self, func, None)
            if callable(meth):
                out = meth()
                if isinstance(out, Series):
                    return out
            raise ValueError(f"Unknown transform: {func!r}")
        if isinstance(func, (list, tuple)):
            raise NotImplementedError("Series.transform with a list "
                                      "returns a frame — apply per entry")
        return self.apply(func)

    def case_when(self, caselist) -> "Series":
        """pandas 2.2 ``case_when``: ``[(cond, repl), ...]`` evaluated in
        order (first true condition wins), original values as default —
        one chained JVM CASE expression."""
        if not caselist:
            raise ValueError("case_when needs at least one (cond, repl)")
        expr = None
        for cond, repl in caselist:
            if isinstance(cond, Series):
                if cond._sdf is not self._sdf:
                    raise ValueError("case_when conditions must derive "
                                     "from this Series' frame")
                c = cond._scol
            elif callable(cond):
                c = cond(self)._scol
            else:
                raise TypeError("case_when condition must be a boolean "
                                "Series or callable")
            r = repl._scol if isinstance(repl, Series) else F.lit(repl)
            expr = F.when(c, r) if expr is None else expr.when(c, r)
        return self._with_scol(expr.otherwise(self._scol), "case_when")

    def update(self, other: "Series") -> None:
        """pandas ``Series.update``: non-null values of ``other``
        overwrite this Series, reindexed onto its labels, IN PLACE."""
        base, (v,) = self._onto(other)
        out = base._with_scol(F.coalesce(v, base._scol), "update",
                              other=other)
        self.__dict__.pop("_spark_type_cache", None)
        self._sdf, self._scol, self._expr = out._sdf, out._scol, out._expr
        self._index_cols = out._index_cols
        self._index_names = out._index_names

    def asof(self, where):
        """Last non-null value whose index <= ``where``.  Scalar ``where``
        → eager value; list → Series (one broadcast range-join + argmax,
        never a sort of the full frame)."""
        if not self._index_cols:
            raise ValueError("asof needs an index")
        icol = self._index_cols[0]
        name = self._col_name if self._col_name is not None else "__v__"
        base = self.to_frame(name)._sdf.filter(F.col(name).isNotNull())
        if not isinstance(where, (list, tuple)):
            row = (base.filter(F.col(icol) <= F.lit(where))
                   .agg(F.max_by(name, icol).alias("__v__")).collect())
            return row[0][0] if row else None
        spark = self._sdf.sparkSession
        dtype = self._sdf.select(F.col(icol)).schema[0].dataType
        wsdf = spark.createDataFrame(
            [(w,) for w in where],
            T.StructType([T.StructField("__where__", dtype)]))
        joined = base.join(F.broadcast(wsdf),
                           F.col(icol) <= F.col("__where__"), "right")
        out = (joined.groupBy("__where__")
               .agg(F.max_by(name, icol).alias(name)))
        node = Node("asof", {"n": len(where)}, self._expr)
        return Series(out, F.col(name), self._col_name, node,
                      ("__where__",), (self._index_names[0],))

    # -- factorize / searchsorted / argsort ------------------------------
    def factorize(self, sort: bool = False):
        """Distributed ``factorize``: codes by order of first appearance
        (``sort=True``: by sorted unique value — a dense rank, same
        distributed shape).

        Returns ``(codes, uniques)`` as lazy Series (pandas returns
        eager arrays — call ``.compute()``/``.to_list()``).  First
        appearance = min global position per value (one ranged pass +
        one groupBy + one equi-join back), null → code -1, like pandas.
        """
        from .functions.scan import global_pos
        sdf, name, order, idx = self._ordered_base()
        pos = global_pos(sdf, order, "__pos__")
        firsts = (pos.filter(F.col(name).isNotNull())
                  .groupBy(name).agg(F.min("__pos__").alias("__first__")))
        if sort:
            # sorted-value coding: rank distinct values by VALUE (the
            # ranged position pass below orders by __first__)
            firsts = firsts.withColumn("__first__", F.col(name))
        # rank the DISTINCT values with the distributed ranged position
        # pass (never a global row_number window — the unique-value table
        # can itself be large, e.g. factorizing an id column)
        coded = global_pos(firsts, ["__first__"], "__code__")
        joined = pos.join(coded.select(name, "__code__"), name, "left")
        codes_sdf = joined.select(
            *[F.col(c) for c in idx],
            F.coalesce(F.col("__code__"), F.lit(-1)).alias("__codes__"))
        node = Node("factorize", {}, self._expr)
        codes = Series(codes_sdf, F.col("__codes__"), None, node, idx,
                       self._index_names if self._index_cols else (None,))
        uniq_sdf = coded.orderBy("__code__").select(F.col(name))
        uniques = Series(uniq_sdf, F.col(name), self._col_name, node)
        return codes, uniques

    def searchsorted(self, value, side: str = "left"):
        """Insertion point(s) keeping the (assumed-sorted) Series sorted:
        a COUNT of smaller elements — fully distributed, one aggregate
        for the whole value list."""
        vals = value if isinstance(value, (list, tuple)) else [value]
        cmp = (lambda v: F.sum((self._scol < F.lit(v)).cast("long"))) \
            if side == "left" else \
            (lambda v: F.sum((self._scol <= F.lit(v)).cast("long")))
        row = self._sdf.agg(*[F.coalesce(cmp(v), F.lit(0)).alias(f"c{i}")
                              for i, v in enumerate(vals)]).collect()[0]
        out = [int(row[f"c{i}"]) for i in range(len(vals))]
        return out[0] if not isinstance(value, (list, tuple)) else out

    def argsort(self) -> "Series":
        """Positions that would sort the Series (NaN sorted last, like
        numpy/current pandas).  Result keeps the ORIGINAL index order —
        two ranged passes + one positional equi-join."""
        from .functions.scan import global_pos
        sdf, name, order, idx = self._ordered_base()
        pos = global_pos(sdf, order, "__pos__")
        flagged = pos.select(
            F.col(name), F.col("__pos__"),
            F.col(name).isNull().cast("int").alias("__nf__"))
        ranked = global_pos(flagged, ["__nf__", name, "__pos__"],
                            "__rank__") \
            .select(F.col("__rank__"),
                    F.col("__pos__").alias("__argsort__"))
        joined = pos.join(ranked, pos["__pos__"] == ranked["__rank__"]) \
                    .select(*[F.col(c) for c in idx], F.col("__argsort__"))
        node = Node("argsort", {}, self._expr)
        return Series(joined, F.col("__argsort__"), self._col_name, node,
                      idx, self._index_names if self._index_cols else (None,))

    # -- grouping --------------------------------------------------------
    def groupby(self, by=None, sort: bool = True, dropna: bool = True,
                level=None):
        """pandas ``Series.groupby``: key Series (same anchor), index
        level, or self-values — returns the sliced grouped accessor."""
        from .operators.groupby import GroupBy
        name = self._col_name if self._col_name is not None else "__v__"
        if by is None and level is not None:
            if not self._index_cols:
                raise ValueError("groupby(level=) needs an index")
            levels = level if isinstance(level, (list, tuple)) else [level]
            keys = []
            for lv in levels:
                if isinstance(lv, int):
                    keys.append(self._index_cols[lv])
                else:
                    keys.append(
                        self._index_cols[list(self._index_names).index(lv)])
            sdf = self._sdf.select(*[F.col(c) for c in self._index_cols],
                                   self._scol.alias(name))
            frame = DataFrame(sdf, Node("groupby_base", {}, self._expr),
                              self._index_cols, self._index_names)
            return GroupBy(frame, keys, sort=sort, dropna=dropna,
                           slice_=[name])[name]
        if isinstance(by, Series):
            if by._sdf is not self._sdf:
                raise TypeError("Series.groupby key must derive from the "
                                "same frame")
            kname = by._col_name if by._col_name not in (None, name) \
                else "__by__"
            sdf = self._sdf.select(*[F.col(c) for c in self._index_cols],
                                   by._scol.alias(kname),
                                   self._scol.alias(name))
            frame = DataFrame(sdf, Node("groupby_base", {}, self._expr),
                              self._index_cols, self._index_names)
            return GroupBy(frame, [kname], sort=sort, dropna=dropna,
                           slice_=[name])[name]
        raise TypeError("Series.groupby supports a key Series or level=")

    # -- named reflected arithmetic + aliases ----------------------------
    def radd(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: b + a, "radd",
                                 fill_value)

    def rsub(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: b - a, "rsub",
                                 fill_value)

    def rmul(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: b * a, "rmul",
                                 fill_value)

    def rdiv(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: _pandas_div(b, a),
                                 "rdiv", fill_value)

    rtruediv = rdiv

    def rpow(self, other, fill_value=None):
        return self._named_binop(other, lambda a, b: _pandas_pow(b, a), "rpow",
                                 fill_value)

    def mod(self, other, fill_value=None):
        fn = _pymod_raw if _safe_nonzero(other) else _pandas_mod
        return self._named_binop(other, fn, "mod", fill_value)

    def rmod(self, other, fill_value=None):
        return self._named_binop(
            other, lambda a, b: _pandas_mod(b, a), "rmod", fill_value)

    def floordiv(self, other, fill_value=None):
        return self._named_binop(other, _floordiv_fn(self, other),
                                 "floordiv", fill_value)

    def rfloordiv(self, other, fill_value=None):
        fd = (_pandas_floordiv_f if _float_operands(self, other)
              else _pandas_floordiv)
        return self._named_binop(
            other, lambda a, b: fd(b, a), "rfloordiv", fill_value)

    def divmod(self, other, fill_value=None):
        return (self.floordiv(other, fill_value),
                self.mod(other, fill_value))

    def rdivmod(self, other, fill_value=None):
        return (self.rfloordiv(other, fill_value),
                self.rmod(other, fill_value))

    def divide(self, other, fill_value=None):
        return self.div(other, fill_value)

    def multiply(self, other, fill_value=None):
        return self.mul(other, fill_value)

    def subtract(self, other, fill_value=None):
        return self.sub(other, fill_value)

    # fill-direction aliases (pandas long-form names)
    def pad(self, limit: int | None = None) -> "Series":
        return self.ffill(limit)

    def backfill(self, limit: int | None = None) -> "Series":
        return self.bfill(limit)

    # -- conversions / eager views ---------------------------------------
    @property
    def values(self):
        return self.compute().values

    def to_numpy(self, dtype=None):
        out = self.compute().to_numpy()
        return out.astype(dtype) if dtype is not None else out

    def to_dict(self) -> dict:
        return self.compute().to_dict()

    def items(self):
        return iter(self.compute().items())

    def to_string(self, *args, **kwargs) -> str:
        return self.compute().to_string(*args, **kwargs)

    def to_markdown(self, *args, **kwargs) -> str:
        return self.compute().to_markdown(*args, **kwargs)

    def to_csv(self, path_or_buf=None, **kwargs):
        return self.compute().to_csv(path_or_buf, **kwargs)

    def to_json(self, path_or_buf=None, **kwargs):
        return self.compute().to_json(path_or_buf, **kwargs)

    def item(self):
        rows = self._sdf.select(self._scol.alias("__v__")).limit(2).collect()
        if len(rows) != 1:
            raise ValueError("can only convert an array of size 1 to a "
                             "Python scalar")
        return rows[0][0]

    @property
    def hasnans(self) -> bool:
        return bool(self._sdf.select(
            F.max(self._scol.isNull()).alias("h")).collect()[0][0] or False)

    def squeeze(self):
        rows = self._sdf.select(self._scol.alias("__v__")).limit(2).collect()
        if len(rows) == 1:
            return rows[0][0]
        return self

    @property
    def T(self) -> "Series":
        return self

    def transpose(self) -> "Series":
        return self

    def swapaxes(self, *args, **kwargs) -> "Series":
        return self

    def ravel(self):
        return self.compute().to_numpy()

    view = ravel

    @property
    def array(self):
        return self.compute().array

    def infer_objects(self) -> "Series":
        return self

    def convert_dtypes(self) -> "Series":
        return self

    def set_flags(self, **kwargs) -> "Series":
        return self

    @property
    def at(self):
        return _AtIndexer(self)

    def __iter__(self):
        """pandas iterates VALUES (eager).  Must exist alongside
        ``__getitem__``: without it Python's legacy iteration protocol
        would loop ``s[0], s[1], …`` through the label indexer."""
        return iter(self.compute())

    def __getitem__(self, key):
        """pandas ``s[...]``: boolean-mask filter (same-anchor fast path,
        foreign masks through the frame's alignment join), int slices →
        iloc, everything else → loc."""
        if isinstance(key, Series):
            if key._sdf is self._sdf:
                node = Node("filter", {"predicate": key._expr.op},
                            self._expr)
                lbase = (None if self._index_cols
                         else positions(self, upto="pass"))
                if lbase is not None:
                    # pandas keeps original positional labels (see the
                    # frame getitem promotion)
                    return Series(lbase.filter(key._scol),
                                  self._scol, self._col_name, node,
                                  (_ROWID,), (None,), self._dtypes)
                return Series(self._sdf.filter(key._scol), self._scol,
                              self._col_name, node, self._index_cols,
                              self._index_names, self._dtypes)
            return _frame_column(self.to_frame("__v__")[key], "__v__",
                                 self._col_name)
        if isinstance(key, slice):
            if all(x is None or isinstance(x, int)
                   for x in (key.start, key.stop, key.step)):
                return self.iloc[key]
            return self.loc[key]
        return self.loc[key]

    @property
    def iat(self):
        return _IatIndexer(self)

    @property
    def loc(self):
        return _SeriesLocIndexer(self)

    @property
    def iloc(self):
        return _SeriesILocIndexer(self)

    @property
    def dtypes(self):
        return self.dtype

    @property
    def axes(self) -> list:
        return [self.index]

    @property
    def attrs(self) -> dict:
        d = self.__dict__.get("_attrs")
        if d is None:
            d = {}
            self.__dict__["_attrs"] = d
        return d

    @attrs.setter
    def attrs(self, value) -> None:
        self.__dict__["_attrs"] = dict(value)

    @property
    def flags(self):
        return _Flags()

    def pop(self, item):
        """Return the value at ``item`` and drop it IN PLACE (eager value
        + lazy residual filter, like pandas)."""
        val = self.xs(item)
        rest = self.drop([item])
        self._sdf, self._scol = rest._sdf, rest._scol
        self._index_cols = rest._index_cols
        self._index_names = rest._index_names
        self._expr = rest._expr
        return val

    def reindex_like(self, other: "Series") -> "Series":
        return self._via_frame(
            lambda f, n: f.reindex_like(other.to_frame("__o__")),
            "reindex_like")

    def compare(self, other: "Series") -> "DataFrame":
        """pandas ``Series.compare``: rows where the two differ, columns
        ``self``/``other`` — one index align + null-safe inequality
        (works on the default positional index too)."""
        joined = _paired(self, other)
        diff = ~F.col("__l__").eqNullSafe(F.col("__r__"))
        sdf = joined._sdf.filter(diff).select(
            *[F.col(c) for c in joined._index_cols],
            F.col("__l__").alias("self"), F.col("__r__").alias("other"))
        node = Node("compare", {}, self._expr, other._expr)
        return DataFrame(sdf, node, joined._index_cols,
                         joined._index_names)

    def info(self, buf=None, **kwargs) -> None:
        import sys
        n = self._sdf.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(self._scol).alias("nn")).collect()[0]
        out = buf if buf is not None else sys.stdout
        print(f"<class '{type(self).__module__}.Series'>", file=out)
        print(f"RangeIndex: {n['n']} entries", file=out)
        print(f"Series name: {self._col_name}", file=out)
        print(f"Non-Null Count  Dtype", file=out)
        print(f"{n['nn']} non-null  {self.dtype}", file=out)

    def to_pickle(self, path, **kwargs) -> None:
        self.compute().to_pickle(path, **kwargs)

    def to_latex(self, *args, **kwargs):
        return self.compute().to_latex(*args, **kwargs)

    # -- time-indexed conveniences (delegate to the frame machinery) -----
    def resample(self, freq: str, fill_empty: bool = True,
                 label: str | None = None, closed: str | None = None,
                 origin=None, offset: str | None = None):
        """``s.resample('D').mean()`` over the datetime index — the frame
        Resampler sliced to this column (date_trunc bucketing, one
        grouped-agg shuffle)."""
        name = self._col_name if self._col_name is not None else "__v__"
        return self.to_frame(name).resample(freq, fill_empty=fill_empty,
                                            label=label, closed=closed,
                                            origin=origin,
                                            offset=offset)[name]

    def asfreq(self, freq: str, method: str | None = None) -> "Series":
        """Calendar-spine re-index at ``freq`` (see ``DataFrame.asfreq``)."""
        if not self._index_cols:
            raise ValueError("asfreq needs a datetime index")
        name = self._col_name if self._col_name is not None else "__v__"
        icol = self._index_cols[0]
        out = self.to_frame(name).asfreq(freq, on=icol, method=method)
        out = out.set_index(icol)
        node = Node("asfreq", {"freq": freq}, self._expr)
        return Series(out._sdf, F.col(name), self._col_name, node,
                      out._index_cols, (self._index_names[0],))

    def to_period(self, freq: str) -> "Series":
        """Convert the datetime INDEX to periods of ``freq`` (pandas
        ``Series.to_period``) — index values truncate to the period start,
        freq rides as driver-side metadata."""
        from .functions.timeseries import period_start_col
        if not self._index_cols:
            raise ValueError("to_period needs a datetime index")
        name = self._col_name if self._col_name is not None else "__v__"
        icol = self._index_cols[0]
        sdf = self.to_frame(name)._sdf.withColumn(
            icol, period_start_col(F.col(icol), freq))
        node = Node("to_period", {"freq": freq}, self._expr)
        return Series(sdf, F.col(name), self._col_name, node,
                      self._index_cols, self._index_names,
                      {**self._dtypes,
                       icol: D.Presented("period", freq=freq)})

    to_period_index = to_period

    def first(self, offset: str) -> "Series":
        return self._via_frame(lambda f, _n: f.first(offset), "first")

    def last(self, offset: str) -> "Series":
        return self._via_frame(lambda f, _n: f.last(offset), "last")

    # -- accessors (wired in functions/accessors.py) ---------------------
    @property
    def str(self):
        from .functions.accessors import StringAccessor
        return StringAccessor(self)

    @property
    def dt(self):
        from .functions.accessors import DatetimeAccessor, TimedeltaAccessor
        if isinstance(self.spark_type, T.DayTimeIntervalType):
            return TimedeltaAccessor(self)
        return DatetimeAccessor(self)

    @property
    def cat(self):
        from .functions.accessors import CategoricalAccessor
        return CategoricalAccessor(self)

    @property
    def list(self):
        from .functions.accessors import ListAccessor
        if not isinstance(self.spark_type, T.ArrayType):
            raise AttributeError(".list accessor needs an array column")
        return ListAccessor(self)

    @property
    def struct(self):
        from .functions.accessors import StructAccessor
        if not isinstance(self.spark_type, T.StructType):
            raise AttributeError(".struct accessor needs a struct column")
        return StructAccessor(self)

    # ------------------------------------------------------------------
    def compute(self) -> pd.Series:
        # the one-column frame through the frame boundary (order, index,
        # dtype record), then the column
        ser = Series.to_frame(self, _VALUES).compute()[_VALUES]
        if (ser.dtype == object and ser.isna().any()
                and isinstance(self.spark_type, T.BooleanType)
                and getattr(self._expr, "op", None) in _MASK_OPS):
            # pandas boolean MASKS (null comparison results) are bool
            # dtype with False at missing operands.  A genuine nullable-
            # boolean DATA column (read from parquet) keeps its missing
            # values (r5 advice): only a series whose own expression node
            # is a comparison/mask op gets the fill.
            ser = ser.fillna(False).astype(bool)
        ser.name = _scrub_name(self._col_name)
        return ser


def _chain_result(res: "DataFrame", series: "Series | None", cols):
    """A rolling/expanding/ewm chain's result: the frame, or — when the
    chain started from a Series — that Series' column of it."""
    if series is None:
        return res
    return _frame_column(res, cols[0], series._col_name)


def _window_cols(frame: "DataFrame", skip=()) -> list[str]:
    """The columns a rolling/expanding/ewm chain aggregates: every column
    of ``frame`` (a Series' one-column frame) not in ``skip``.  Like
    pandas, a column that is neither numeric nor bool fails with
    DataError instead of being dropped."""
    types = frame._require_types(
        "window aggregation",
        lambda dt: is_numeric(dt) or isinstance(dt, T.BooleanType),
        error=pd.errors.DataError, skip=skip)
    return [c for c in frame.columns if c in types]


def _bools_as_double(sdf: SparkDF, frame: "DataFrame", cols) -> SparkDF:
    """Window aggregations read bool columns as 0.0/1.0 (pandas: float64
    results)."""
    schema = frame._sdf.schema
    casts = {c: F.col(c).cast("double") for c in cols
             if isinstance(schema[c].dataType, T.BooleanType)}
    return sdf.withColumns(casts) if casts else sdf


# pairwise-complete moment inputs of rolling/expanding cov/corr, in
# _pair_stat's argument order: pair count, x, y, xy, x², y²
_PAIR = ("__pn__", "__px__", "__py__", "__pxy__", "__px2__", "__py2__")


def _pair_frame(s: "Series", other, op: str) -> "DataFrame":
    """``s`` and ``other`` (rolling/expanding cov/corr) as the ``_PAIR``
    columns of one frame, each null where either side is: a projection
    when they share an anchor, else outer-aligned by label (``_paired``)."""
    if not isinstance(other, Series):
        raise NotImplementedError(f"{op} cov/corr needs a Series other "
                                  "(frame-pairwise not supported)")
    if other._sdf is s._sdf:
        f = DataFrame(
            s._sdf.select(*_order_cols(s._sdf),
                          *[F.col(c) for c in s._index_cols],
                          s._scol.alias("__x__"), other._scol.alias("__y__")),
            Node(f"{op}_pair", {}, s._expr), s._index_cols, s._index_names)
    else:
        f = _paired(s, other, a="__x__", b="__y__")
    x, y = F.col("__x__").cast("double"), F.col("__y__").cast("double")
    m = x.isNotNull() & y.isNotNull()
    moments = (F.lit(1.0), x, y, x * y, x * x, y * y)
    return f._derive(f._sdf.withColumns(
        {c: F.when(m, v) for c, v in zip(_PAIR, moments)}), f"{op}_pair")


def _pair_stat(want: str, ddof: int, n, sx, sy, sxy, sx2, sy2):
    """cov/corr from the pairwise moment sums."""
    if want == "cov":
        return F.when(n > ddof, (sxy - sx * sy / n) / (n - ddof))
    den = (n * sx2 - sx * sx) * (n * sy2 - sy * sy)
    return F.when(den > 0, (n * sxy - sx * sy) / F.sqrt(den))


class _FrameTimeRolling:
    """Time-offset rolling (pandas ``rolling("3D")``) over every numeric
    column of a datetime-indexed frame or over a Series (``series=``) —
    block-bucketed self-join, never a global window
    (``functions/timeseries.py`` ``time_rolling``).  Optionally grouped:
    ``by`` adds the group keys to the block equi-join and the result
    index."""

    def __init__(self, frame: "DataFrame", window: str,
                 min_periods: int | None, closed: str = "right",
                 by: list[str] | None = None, cols=None,
                 series: "Series | None" = None):
        self._f, self._by, self._cols = frame, list(by or []), cols
        self._s = series
        self._wm = int(pd.Timedelta(window).value // 1000)
        self._mp = 1 if min_periods is None else min_periods
        self._closed = closed
        self._wstr = window

    def _agg(self, how: str):
        from .functions.timeseries import time_rolling
        f = self._f
        if f._index_cols in ((), (_ROWID,)):
            raise ValueError("rolling(offset) needs a datetime index — "
                             "set_index first")
        ts_col = f._index_cols[0]
        cols = (self._cols if self._cols is not None
                else _window_cols(f, skip=self._by))
        # duplicate-timestamp ties follow the presented order
        sdf = _bools_as_double(positions(f), f, cols)
        out = time_rolling(sdf, [_ROWID, ts_col], ts_col, cols,
                           self._wm, how, self._mp, by=self._by,
                           closed=self._closed, pos_col=_ROWID)
        node = Node(f"time_rolling_{how}", {"window": self._wstr},
                    f._expr)
        idx = tuple(self._by) + (ts_col,)
        names = tuple(self._by) + tuple(f._index_names)
        return _chain_result(DataFrame(out.drop(_ROWID), node, idx, names),
                             self._s, cols)

    def sum(self): return self._agg("sum")
    def mean(self): return self._agg("mean")
    def count(self): return self._agg("count")
    def min(self): return self._agg("min")
    def max(self): return self._agg("max")
    def var(self): return self._agg("var")
    def std(self): return self._agg("std")

    def __getitem__(self, key):
        cols = [key] if isinstance(key, str) else list(key)
        return _FrameTimeRolling(self._f, self._wstr, self._mp,
                                 self._closed, self._by, cols)


class _FrameRolling:
    """pandas ``rolling`` over a frame, or over a Series (``series=``:
    ``frame`` is None, the Series' one-column form is built on first
    use, and results come back as the Series).  sum/mean/count/var/std:
    every column in ONE shared prefix scan + ONE position join
    (``scan.rolling_agg_frame``) — a Series' trailing window is pending,
    so ``assign`` can fuse it; min/max: one van Herk block pass per
    column; order statistics and ``apply``: the halo-block path
    (``scan.rolling_apply``)."""

    # closed= reduces to a window-size change plus a one-row shift of the
    # result: the window CONTENTS are identical sets, so every aggregation
    # composes exactly.  min_periods keeps pandas' default of the ORIGINAL
    # window (closed='neither' without min_periods is all-NaN, like pandas)
    _CLOSED = {None: (0, 0), "right": (0, 0), "left": (0, 1),
               "both": (1, 0), "neither": (-1, 1)}

    def __init__(self, frame: "DataFrame", window: int,
                 min_periods: int | None, center: bool,
                 on: str | None = None, closed: str | None = None,
                 series: "Series | None" = None):
        if closed not in self._CLOSED:
            raise ValueError(f"closed must be 'right', 'left', 'both' or "
                             f"'neither', got {closed!r}")
        if center and closed not in (None, "right"):
            # the (window, result shift) reduction assumes trailing
            # windows; composing it with the centering shift would yield
            # windows that silently differ from pandas
            raise NotImplementedError(
                "rolling(center=True) with closed= other than 'right' is "
                "not supported")
        grow, self._shift = self._CLOSED[closed]
        self._frame, self._s = frame, series
        self._window = window + grow
        self._minp = window if min_periods is None else min_periods
        self._center, self._on, self._sel = center, on, None

    @property
    def _f(self) -> "DataFrame":
        if self._frame is None:
            self._frame = self._s._as_frame()
        return self._frame

    def __getitem__(self, key):
        """pandas ``df.rolling(...)[cols]`` column restriction."""
        import copy
        out = copy.copy(self)
        out._sel = key
        return out

    def _numeric(self):
        cols = _window_cols(self._f, skip=(self._on,))
        if self._sel is not None:
            keep = [self._sel] if isinstance(self._sel, str) else list(self._sel)
            cols = [c for c in cols if c in keep]
        return cols

    def _run(self, op: str, kernel):
        """Order the rows, run ``kernel(sdf, order, cols)`` (results
        overwrite ``cols``) and finish the result."""
        f = self._f
        sdf, order, idx, names = _positional_order(f)
        num = self._numeric()
        sdf = _bools_as_double(sdf, f, num)
        out = kernel(sdf, order, num) if self._window >= 1 else sdf
        # pandas COUNT-window on=: the column is excluded from aggregation
        # and kept in the output at its ORIGINAL slot, but the window
        # slides over ROW order — on= only becomes the window axis for
        # OFFSET windows (r8 audit: ordering by on= diverged on any
        # non-monotonic on column)
        want = set(num) | ({self._on} if self._on is not None
                           and self._on not in idx else set())
        out = out.select(*[F.col(c) for c in idx], *_order_cols(out),
                         *[c for c in f.columns if c in want])
        node = Node(f"rolling_{op}", {"window": self._window}, f._expr)
        return self._post(DataFrame(out, node, idx, names), num)

    def _post(self, res: "DataFrame", cols: list[str]):
        """closed='left'/'neither' results shift one row down (the window
        ends at the PRIOR row); a zero-width window is all-NaN."""
        if self._window < 1:
            res = res._derive(res._sdf.withColumns(
                {c: F.lit(None).cast("double") for c in cols}), "rolling")
        elif self._shift:
            res = res._frame_positional(self._shift, lambda c, prev: prev,
                                        "shift", cols=cols)
        if self._s is None and isinstance(self._sel, str) and len(cols) == 1:
            return _frame_column(res, cols[0], cols[0])
        return _chain_result(res, self._s, cols)

    def _agg(self, fn: str):
        from .functions import scan

        def lower():
            return self._run(fn, lambda sdf, order, cols:
                             scan.rolling_agg_frame(
                                 sdf, cols, order, self._window, fn,
                                 self._minp, center=self._center))
        if (self._s is None or self._center or self._shift
                or self._window < 1 or self._sel is not None):
            return lower()
        return self._s._positional(
            ("roll", fn, self._window, self._minp), lower)

    def _minmax(self, fn: str):
        from .functions import scan

        def kernel(sdf, order, cols):
            for c in cols:
                sdf = scan.rolling_minmax(sdf, c, order, self._window, fn,
                                          self._minp, out=c,
                                          center=self._center)
            return sdf
        return self._run(fn, kernel)

    def sum(self): return self._agg("sum")
    def mean(self): return self._agg("mean")
    def count(self): return self._agg("count")
    def var(self): return self._agg("var")
    def std(self): return self._agg("std")
    def min(self): return self._minmax("min")
    def max(self): return self._minmax("max")

    def agg(self, spec):
        """pandas ``rolling(...).agg``: a str delegates to the named
        method; on a Series a list returns a frame with one column per
        function (each an independent scan — they share the same ranged
        layout so AQE reuses the shuffle)."""
        if isinstance(spec, str):
            return getattr(self, spec)()
        if isinstance(spec, (list, tuple)) and self._s is not None:
            from .operators.setops import concat
            frames = [getattr(self, f)().to_frame(f) for f in spec]
            return concat(frames, axis=1)
        raise NotImplementedError(f"rolling.agg spec {type(spec).__name__}")

    aggregate = agg

    # order statistics / higher moments need the raw window values, so
    # they ride the exact halo-block apply path (Arrow-batched pandas per
    # block — the documented slow lane; the running-sum scans above stay
    # the JVM fast lane)
    def median(self):
        return self.apply(lambda s: s.median())

    def quantile(self, q: float, interpolation: str = "linear"):
        return self.apply(lambda s: s.quantile(q, interpolation))

    def skew(self):
        return self.apply(lambda s: s.skew())

    def kurt(self):
        return self.apply(lambda s: s.kurt())

    def sem(self, ddof: int = 1):
        # pandas Rolling.sem normalizes by sqrt(count - ddof), NOT the
        # Series.sem sqrt(count)
        return self.apply(
            lambda s: s.std(ddof=ddof) / (s.count() - ddof) ** 0.5)

    def apply(self, func, raw: bool = False):
        """pandas ``rolling(...).apply(func)`` for an arbitrary Python
        window function — the distributed halo-block pattern
        (``scan.rolling_apply``): blocks of rows + a two-sided halo copy
        (``window-1`` rows back, ``(w-1)//2`` forward when centered) run
        exact pandas locally per block, Arrow-batched.  ``raw`` defaults
        to False like pandas (func receives a Series).  This is the slow
        path by construction — prefer the JVM aggs when the function is
        expressible."""
        from .functions import scan
        return self._run("apply", lambda sdf, order, cols: scan.rolling_apply(
            sdf, cols, order, self._window, func, self._minp, out=cols,
            raw=raw, center=self._center))

    def rank(self, method: str = "average", pct: bool = False):
        """pandas ``rolling(...).rank``: rank of the CURRENT row's value
        within its window — needs the raw window values, so it rides the
        same halo-block apply path as median/quantile."""
        def _rk(win: pd.Series):
            r = win.rank(method=method, pct=pct)
            return r.iloc[-1]
        return self.apply(_rk)

    def _pairwise(self, other: "Series", want: str, ddof: int = 1):
        """Rolling cov/corr of a Series against another Series:
        pairwise-complete masks feed FIVE running sums (x, y, xy, x², y²)
        plus the pair count through ONE shared prefix scan + ONE position
        join (``scan.rolling_agg_frame``) — the textbook moment identities
        do the rest as column arithmetic."""
        from .functions import scan
        s = self._s
        if s is None:
            raise NotImplementedError("rolling cov/corr is supported on a "
                                      "Series")
        sdf, order, idx, names = _positional_order(
            _pair_frame(s, other, "rolling"))
        out = scan.rolling_agg_frame(sdf, list(_PAIR), order, self._window,
                                     "sum", self._minp, self._center)
        res = _pair_stat(want, ddof, *[F.col(c) for c in _PAIR])
        name = s._pos_col
        sel = out.select(*[F.col(c) for c in idx], *_order_cols(out),
                         res.alias(name))
        node = Node(f"rolling_{want}", {"window": self._window}, s._expr)
        return self._post(DataFrame(sel, node, idx, names), [name])

    def cov(self, other: "Series", ddof: int = 1):
        return self._pairwise(other, "cov", ddof)

    def corr(self, other: "Series"):
        return self._pairwise(other, "corr")


class _FrameEwm:
    """pandas ``ewm`` chain target over a frame or a Series (``series=``)
    — every column through ONE shared ranged pass
    (``timeseries.ewm_global``)."""

    def __init__(self, frame: "DataFrame", alpha: float,
                 adjust: bool = True, ignore_na: bool = False,
                 series: "Series | None" = None):
        self._f, self._alpha, self._adjust = frame, alpha, adjust
        self._ignore_na, self._s = ignore_na, series

    def _base(self):
        f = self._f
        sdf, order, idx, names = _positional_order(f)
        if len(order) != 1:
            raise ValueError("ewm needs a single order column "
                             "(a single-level index)")
        num = _window_cols(f)
        return (_bools_as_double(sdf, f, num), order[0], idx, names, num)

    def _finish(self, out: SparkDF, op: str, idx, names, num):
        out = out.select(*[F.col(c) for c in idx], *_order_cols(out), *num)
        res = DataFrame(out, Node(op, {"alpha": self._alpha}, self._f._expr),
                        idx, names)
        return _chain_result(res, self._s, num)

    def mean(self):
        from .functions import timeseries as _ts
        sdf, order, idx, names, num = self._base()
        out = _ts.ewm_global(sdf, num, order, self._alpha,
                             adjust=self._adjust, ignore_na=self._ignore_na)
        return self._finish(out, "ewm_mean", idx, names, num)

    def var(self, bias: bool = False):
        """pandas ``ewm(...).var()`` — the distributed segment scan
        (``timeseries.ewm_global``) with a 5-component state per column,
        every column in the same pass; debiased by default."""
        return self._var(bias, sqrt=False)

    def std(self, bias: bool = False):
        return self._var(bias, sqrt=True)

    def _var(self, bias: bool, sqrt: bool):
        from .functions import timeseries as _ts
        if not self._adjust or self._ignore_na:
            raise NotImplementedError(
                "ewm.var supports adjust=True, ignore_na=False")
        out, order, idx, names, num = self._base()
        out = _ts.ewm_global(out, num, order, self._alpha, "var", bias=bias)
        if sqrt:
            out = out.withColumns({c: F.sqrt(c) for c in num})
        return self._finish(out, "ewm_std" if sqrt else "ewm_var", idx,
                            names, num)


class _FrameExpanding:
    """pandas ``expanding`` over a frame or a Series (``series=``) —
    every column in ONE shared prefix scan (no join at all: the prefix
    IS the answer), guarded by the running non-null count."""

    def __init__(self, frame: "DataFrame", min_periods: int,
                 series: "Series | None" = None):
        self._f, self._minp, self._s = frame, min_periods, series

    def _agg(self, fn: str, ddof: int = 1):
        from .functions import scan
        f = self._f
        sdf, order, idx, names = _positional_order(f)
        num = _window_cols(f)
        base, specs = scan.rolling_inputs(
            sdf.withColumn("__one__", F.lit(1).cast("long")), num,
            fn in ("var", "std"))
        specs.insert(0, ("__one__", "sum", "__P__"))
        for c in num:
            if fn in ("min", "max"):
                # prefix min/max IS the expanding extreme — same single
                # scan.  Nulls take the identity (±inf) so the scan carries
                # through them (expanding().min() emits no NaN AT a null,
                # unlike cummin)
                ident = float("inf") if fn == "min" else float("-inf")
                base = base.withColumn(f"__zm_{c}__", F.coalesce(
                    F.col(c).cast("double"), F.lit(ident)))
                specs.append((f"__zm_{c}__", fn, f"__M_{c}__"))
        scanned = scan.prefix_scan(base, specs, order)
        updates = {}
        for c in num:
            cnt = F.col(f"__C_{c}__")
            if fn == "sum":
                val = F.col(f"__S_{c}__")
            elif fn == "mean":
                val = F.when(cnt > 0, F.col(f"__S_{c}__") / cnt)
            elif fn in ("var", "std"):
                n = cnt.cast("double")
                # <=ddof-observation prefixes are NaN in pandas and a
                # DIVIDE_BY_ZERO under ANSI — guard BEFORE dividing
                # (ddof=0 needs one observation, like pandas)
                v = F.when(n >= max(ddof + 1, 1), F.greatest(
                    (F.col(f"__S2_{c}__")
                     - F.col(f"__S_{c}__") * F.col(f"__S_{c}__") / n)
                    / (n - F.lit(float(ddof))), F.lit(0.0)))
                val = F.sqrt(v) if fn == "std" else v
            elif fn in ("min", "max"):
                val = F.col(f"__M_{c}__")
            else:
                val = cnt.cast("double")
            # pandas: sum/mean guard on non-null observations, count on rows
            have = F.col("__P__") if fn == "count" else cnt
            updates[c] = F.when(have >= F.lit(self._minp), val)
        out = scanned.withColumns(updates).select(
            *[F.col(c) for c in idx], *_order_cols(scanned), *num)
        res = DataFrame(out, Node(f"expanding_{fn}", {}, f._expr), idx, names)
        return _chain_result(res, self._s, num)

    def sum(self): return self._agg("sum")
    def mean(self): return self._agg("mean")
    def count(self): return self._agg("count")
    def var(self, ddof: int = 1): return self._agg("var", int(ddof))
    def std(self, ddof: int = 1): return self._agg("std", int(ddof))
    def min(self): return self._agg("min")
    def max(self): return self._agg("max")

    def _pairwise(self, other: "Series", want: str, ddof: int = 1):
        """Expanding cov/corr of a Series: the pairwise-masked moment sums
        ARE prefix sums — one shared scan, no position join at all
        (cheaper than the rolling form)."""
        from .functions import scan
        s = self._s
        if s is None:
            raise NotImplementedError("expanding cov/corr is supported on "
                                      "a Series")
        sdf, order, idx, names = _positional_order(
            _pair_frame(s, other, "expanding"))
        sdf = sdf.withColumns({c: F.coalesce(F.col(c), F.lit(0.0))
                               for c in _PAIR})
        scanned = scan.prefix_scan(sdf, [(c, "sum", c) for c in _PAIR],
                                   order)
        res = F.when(F.col("__pn__") >= F.lit(max(self._minp, 1)),
                     _pair_stat(want, ddof, *[F.col(c) for c in _PAIR]))
        name = s._pos_col
        sel = scanned.select(*[F.col(c) for c in idx],
                             *_order_cols(scanned), res.alias(name))
        node = Node(f"expanding_{want}", {}, s._expr)
        return _chain_result(DataFrame(sel, node, idx, names), s, [name])

    def cov(self, other: "Series", ddof: int = 1):
        return self._pairwise(other, "cov", ddof)

    def corr(self, other: "Series"):
        return self._pairwise(other, "corr")


class _PendingSeries(Series):
    """A Series positional op (cum*, shift/diff/pct_change, a trailing
    count-window rolling sum/mean/count/var/std) that has not run yet.
    ``_base`` is the Series it was called on and ``_spec`` the op.  Its
    first use as a Series lowers it through ``lower`` — the standalone
    kernel, unchanged, with the same result and Spark jobs — and from
    then on it is that Series.  ``DataFrame.assign`` on the frame
    ``_base`` came from reads the spec instead and computes the value
    next to the frame's columns (``_fused_positional``)."""

    _LAZY = frozenset({"_sdf", "_scol", "_expr", "_index_cols",
                       "_index_names"})

    def __init__(self, base: Series, spec: tuple, lower):
        self._base, self._spec, self._lower = base, spec, lower
        self._col_name = base._col_name
        # shift moves values and keeps their dtype; the other ops compute
        # new values: only the index entries carry
        self._dtypes = D.dtype_record({
            **base._entries(base._index_cols),
            base._vkey: base._value_dtype if spec[:2] == ("lag", "shift")
            else None})

    def __getattr__(self, name: str):
        if name not in _PendingSeries._LAZY or "_lower" not in self.__dict__:
            raise AttributeError(name)
        try:
            low = self._lower()
        except AttributeError as exc:   # never read as a missing attribute
            raise RuntimeError(f"lowering {self._spec[0]} failed") from exc
        for k, v in low.__dict__.items():
            self.__dict__.setdefault(k, v)
        return self.__dict__[name]

    def _over(self, frame: "DataFrame") -> bool:
        """Whether this op runs over ``frame``'s own rows in its order:
        the same Spark plan object and the same index."""
        b = self._base
        return (b._sdf is frame._sdf
                and tuple(b._index_cols) == tuple(frame._index_cols))


class Index(Series):
    """The engine-managed index as a collection
    (reference ``Index``, ``_collection.py:561-579``)."""

    def to_frame(self, index: bool = True, name=None) -> "DataFrame":
        """Reference ``Index.to_frame``: the index values as a one-column
        DataFrame (optionally keeping themselves as the index)."""
        out_name = name if name is not None else (self._col_name or "index")
        # keep the presentation order: stamp if present, else a rowid
        # labeled parent presents rowid-ascending — adopt it as the stamp
        # (r8 hunt: the bare select scrambled to arrival order)
        ordc = _order_cols(self._sdf)
        if _ORDER not in self._sdf.columns and _ROWID in self._sdf.columns:
            ordc = [F.col(_ROWID).alias(_ORDER)] + ordc
        sdf = self._sdf.select(*ordc, self._scol.alias(out_name))
        node = Node("index_to_frame", {"name": out_name}, self._expr)
        if index:
            idx_col = f"__idxcopy_{out_name}__"
            sdf = sdf.withColumn(idx_col, F.col(out_name))
            return DataFrame(sdf, node, (idx_col,), (self._col_name,))
        return DataFrame(sdf, node, (), ())

    def to_series(self, name=None) -> "Series":
        """pandas ``Index.to_series``: the labels as a Series indexed by
        themselves (pure projection).  The result NAME follows pandas:
        explicit ``name=``, else the index's own name — an unnamed index
        yields an unnamed series ("index" is only the physical column
        spelling, r8 name hunt)."""
        eff = name if name is not None else self._col_name
        f = self.to_frame(index=True, name=eff or "index")
        return _frame_column(f, f.columns[0], eff)


# --------------------------------------------------------------------------
# DataFrame
# --------------------------------------------------------------------------
class DataFrame(FrameBase):
    """Lazy multi-column collection (reference ``_collection.py:323-497``)."""

    # ------------------------------------------------------------------
    @property
    def columns(self) -> list[str]:
        return [f.name for f in self._sdf.schema.fields
                if f.name not in self._index_cols
                and f.name not in (_ROWID, _ORDER, _LABEL)]

    @columns.setter
    def columns(self, new) -> None:
        """pandas ``df.columns = [...]`` — an in-place positional rename
        (pure projection, no shuffle).  Engine columns stay flat strings
        (tuples join with ``_``); the given labels go to the column-axis
        record, so ``compute()`` presents the MultiIndex or int labels."""
        cur, labels = self.columns, list(new)
        new = ["_".join(map(str, c)) if isinstance(c, tuple) else str(c)
               for c in labels]
        if len(new) != len(cur):
            raise ValueError(
                f"Length mismatch: Expected axis has {len(cur)} elements, "
                f"new values have {len(new)} elements")
        mapping = dict(zip(cur, new))
        sel = [F.col(c) for c in self._index_cols] + \
            _order_cols(self._sdf) + \
            [F.col(c).alias(mapping.get(c, c)) for c in cur]
        self._rebind(self._derive(
            self._sdf.select(*sel), "rename", {"columns": mapping},
            renames=mapping, axis=D.axis_record(zip(new, labels))))

    @property
    def dtypes(self) -> pd.Series:
        cols, rec = set(self.columns), self._dtypes
        return pd.Series({f.name: rec[f.name].dtype if f.name in rec
                          else to_pandas_dtype(f.dataType)
                          for f in self._sdf.schema.fields
                          if f.name in cols})

    @property
    def schema(self) -> T.StructType:
        return self._sdf.schema

    def __len__(self) -> int:
        return self._sdf.count()

    ndim = 2

    @property
    def shape(self) -> tuple:
        """(rows, cols).  The row count is an eager action (Python's
        ``len`` protocol forces it anyway); column count is metadata."""
        return (len(self), len(self.columns))

    @property
    def empty(self) -> bool:
        return self._sdf.isEmpty()

    @property
    def size(self) -> Scalar:
        """rows × cols (reference Size ``_reductions.py:177-189``)."""
        ncols = len(self.columns)
        return Scalar(self._sdf.agg((F.count(F.lit(1)) * ncols).alias("size")),
                      Node("size", {"ncols": ncols}, self._expr))

    index = Series.index

    # ------------------------------------------------------------------
    def _derive(self, sdf: SparkDF, op: str, params: dict | None = None,
                index_cols=None, index_names=None,
                renames: Mapping | None = None,
                dtypes: Mapping | None = None,
                axis: "D.Axis | None" = None, deps: tuple = (),
                hint: tuple | None = None) -> "DataFrame":
        """A frame over ``sdf`` built from this one.  Its dtype record
        keeps the entries of the columns that survive under their stored
        type — renamed through ``renames`` — then takes ``dtypes``: the
        entries of columns the op rewrote (``None`` drops one).  Its
        column axis is ``axis``, else this one's over the surviving
        columns.  ``deps`` are further child nodes (operands not named in
        ``params``); ``hint`` is the objects a later peephole reads,
        recorded on the node against ``sdf`` (``_expr`` module
        docstring)."""
        node = _node(op, params or {}, self._expr, *deps,
                     hint=None if hint is None else (sdf, hint))
        rec = {}
        if self._dtypes:
            old = {f.name: f.dataType for f in self._sdf.schema.fields}
            new = {f.name: f.dataType for f in sdf.schema.fields}
            for c, e in self._dtypes.items():
                n = (renames or {}).get(c, c)
                if c in old and n in new and new[n] == old[c]:
                    rec[n] = e
        if axis is None:
            axis = self._axis.keep(sdf.columns, renames) \
                if self._axis.labels else self._axis
        return DataFrame(
            sdf, node,
            self._index_cols if index_cols is None else tuple(index_cols),
            self._index_names if index_names is None else tuple(index_names),
            {**rec, **(dtypes or {})}, axis)

    def _col(self, name: str) -> Series:
        return _frame_column(self, name, name,
                             Node("projection", {"columns": name},
                                  self._expr))

    @property
    def loc(self) -> "_LocIndexer":
        """Label-based selection (pragmatic lazy subset): boolean masks,
        ``df.loc[:, cols]`` column slices, and index-label equality/isin
        lookups — each lowers to the same filter/projection plans as the
        bracket operators."""
        return _LocIndexer(self)

    @property
    def iloc(self) -> "_ILocIndexer":
        """Positional selection (lazy subset): ``iloc[:n]`` (limit),
        ``iloc[a:b]`` (global-position range — one distributed position
        pass, no full sort), ``iloc[:, j]`` positional columns."""
        return _ILocIndexer(self)

    # -- projection / filter (reference Projection/Filter `_expr.py:1355-1422`)
    def __getitem__(self, key):
        if isinstance(key, str):
            if key not in self.columns:
                raise KeyError(key)
            return self._col(key)
        if isinstance(key, (list, tuple)):
            missing = [k for k in key if k not in self.columns]
            if missing:
                raise KeyError(missing)
            cols = [F.col(c) for c in self._index_cols] + [F.col(c) for c in key]
            if _ORDER in self._sdf.columns:
                cols = [F.col(_ORDER)] + cols
            if _LABEL in self._sdf.columns and not self._index_cols:
                # projections preserve labels — keep the recipe alive
                cols = [F.col(_LABEL)] + cols
            return self._derive(self._sdf.select(*cols), "projection",
                                {"columns": list(key)})
        if isinstance(key, Series):
            if key._sdf is self._sdf:
                lbase = (None if self._index_cols
                         else positions(self, upto="pass"))
                if lbase is not None:
                    # pandas keeps the surviving rows' ORIGINAL positional
                    # labels — promote them to the rowid index (in-scan
                    # label rename, or a stamp-position pass; pushdown
                    # intact either way)
                    return self._derive(lbase.filter(key._scol), "filter",
                                        {"predicate": key._expr.op},
                                        (_ROWID,), (None,))
                return self._derive(self._sdf.filter(key._scol), "filter",
                                    {"predicate": key._expr.op})
            # a FOREIGN mask is reindexed onto this frame's labels, a
            # missing label counting as False.  (A mask against a lazy
            # Scalar, `df[df.v > df.v.mean()]`, is not foreign: the Scalar
            # is a scalar subquery on this frame's plan.)
            base, _, rmap = align(self, key.to_frame("v"))
            keep = F.coalesce(F.col(rmap["v"]), F.lit(False))
            return self._derive(base._sdf.filter(keep).drop(rmap["v"]),
                                "filter", {"aligned_mask": True},
                                base._index_cols, base._index_names)
        if isinstance(key, int) and str(key) in self.columns:
            # Spark column labels are strings; ops that produce pandas
            # integer labels (str.partition, str.split(expand=True),
            # unnamed str.extract groups) store them as "0", "1", … —
            # accept the pandas int spelling
            return self[str(key)]
        raise TypeError(f"Unsupported key type: {type(key)}")

    def __getattr__(self, name: str):
        # column access fallback (reference `_collection.py:130-144`)
        if name.startswith("_"):
            raise AttributeError(name)
        cols = object.__getattribute__(self, "columns")
        if name in cols:
            return self._col(name)
        raise AttributeError(name)

    def __setitem__(self, key: str, value):
        """In-place assign rebinds the wrapper (reference
        ``_collection.py:341-352``)."""
        self._rebind(self.assign(**{key: value}))

    def _rebind(self, out: "DataFrame") -> None:
        """Become ``out`` in place — rows, plan, index and dtype record:
        assigning a positional value to an unindexed frame gives it the
        positional rowid index its presented order now rests on."""
        self._sdf, self._expr = out._sdf, out._expr
        self._index_cols, self._index_names = (out._index_cols,
                                               out._index_names)
        self._dtypes, self._axis = out._dtypes, out._axis

    def __delitem__(self, key: str):
        """``del df[col]`` rebinds to a drop (reference ``test_del``)."""
        self._rebind(self.drop(columns=[key]))

    def pop(self, key: str) -> "Series":
        """pandas ``pop``: return the column as a Series and drop it from
        the frame in place."""
        s = self._col(key)
        self._rebind(self.drop(columns=[key]))
        return s

    def insert(self, loc: int, column: str, value) -> None:
        """pandas ``insert``: in-place positional column insert."""
        if column in self.columns:
            raise ValueError(f"column {column!r} already exists")
        out = self.assign(**{column: value})
        cols = [c for c in out.columns if c != column]
        cols.insert(loc, column)
        self._rebind(out[cols])

    def take(self, indices) -> "DataFrame":
        """pandas ``take``: rows by ordinal position, in the requested
        order.  Positions come from the distributed rowid; the result
        orders by the rank of each position in ``indices`` (a literal
        array — bounded by the caller's list size, as in pandas)."""
        idx = [int(i) for i in indices]
        if self._index_cols:
            base, order = self._sdf, list(self._index_cols)
            from .functions import scan
            pos = scan.global_pos(base, order, "__take_pos__")
        else:
            pos = positions(self, "__take_pos__")
        out = (pos.filter(F.col("__take_pos__").isin(idx))
               .withColumn(_ORDER, F.array_position(
                   F.lit(idx), F.col("__take_pos__")).cast("long"))
               .orderBy(_ORDER))
        if self._index_cols:
            return self._derive(out.drop("__take_pos__"), "take",
                                {"n": len(idx)})
        # default index: the position IS the pandas label — keep it
        return self._derive(out, "take", {"n": len(idx)},
                            ("__take_pos__",), (None,))

    def reindex(self, index=None, columns=None,
                fill_value=None) -> "DataFrame":
        """pandas ``reindex``: ``columns=`` selects in the given order
        (absent names become all-null columns); ``index=`` aligns rows to
        the given labels — the driver-held label list becomes a tiny
        broadcast frame left-joined on the index (absent labels yield
        null rows, pandas NaN), never a full-frame shuffle.
        ``fill_value=`` fills only the NEWLY-introduced cells (pandas:
        pre-existing NaN stays NaN) — miss rows are built separately, so
        existing values are never touched.

        Scale shape: a LEFT join that preserves the (tiny) label side
        cannot broadcast-build it — Spark would shuffle the whole corpus.
        Instead: one broadcast-INNER join (big side streams, never
        shuffles) + a tiny labels-anti-matched join for the missing
        labels, unioned in."""
        out = self
        if index is not None:
            if not out._index_cols:
                raise ValueError(
                    "reindex(index=) needs an index — set_index first")
            if len(out._index_cols) != 1:
                raise NotImplementedError(
                    "reindex(index=) supports a single-level index")
            icol = out._index_cols[0]
            labels = list(index)
            spark = out._sdf.sparkSession
            dtype = out._sdf.schema[icol].dataType
            # carry each label's enumeration position: pandas returns rows
            # in the REQUESTED label order, so the result sorts by it (the
            # sort is over ≤ len(labels) rows — bounded by the request,
            # never corpus-sized)
            lbl = spark.createDataFrame(
                [(l, i) for i, l in enumerate(labels)],
                T.StructType([T.StructField(icol, dtype),
                              T.StructField("__pos__", T.LongType())]))
            hits = out._sdf.join(F.broadcast(lbl), icol, "inner") \
                .select(icol, *out.columns, "__pos__")
            matched = hits.select(icol).distinct()
            misses = lbl.join(F.broadcast(matched), icol, "left_anti")

            def _fill_lit(c):
                # fill only where the cast is type-sound (a numeric fill
                # can't become a timestamp — pandas would upcast the whole
                # column to object, which a typed engine can't; those
                # columns stay null)
                dt = out._sdf.schema[c].dataType
                v = fill_value
                ok = v is not None and (
                    (isinstance(v, (int, float, bool))
                     and (is_numeric(dt)
                          or isinstance(dt, (T.StringType, T.BooleanType))))
                    or (isinstance(v, str) and isinstance(dt, T.StringType)))
                lit = F.lit(v) if ok else F.lit(None)
                return lit.cast(dt).alias(c)

            fills = [_fill_lit(c) for c in out.columns]
            joined = (hits.unionByName(
                misses.select(F.col(icol), *fills, F.col("__pos__")))
                .orderBy("__pos__").drop("__pos__"))
            node = Node("reindex", {"index_n": len(labels)}, out._expr)
            out = DataFrame(joined, node, out._index_cols,
                            out._index_names)
        if columns is not None:
            fill = (F.lit(None) if fill_value is None else
                    F.lit(fill_value))
            sel = [F.col(c) if c in out.columns else fill.alias(c)
                   for c in columns]
            idx = [F.col(c) for c in out._index_cols]
            node = Node("reindex", {"columns": list(columns)}, out._expr)
            out = DataFrame(out._sdf.select(*idx, *sel), node,
                            out._index_cols, out._index_names)
        if index is None and columns is None:
            raise NotImplementedError("reindex needs index= or columns=")
        return out

    def __dir__(self):
        """Columns appear in ``dir(df)`` for tab completion (reference
        ``test_dir``)."""
        return sorted(set(super().__dir__()) | set(map(str, self.columns)))

    def __contains__(self, key) -> bool:
        return key in self.columns

    def __iter__(self):
        return iter(self.columns)

    def assign(self, **kwargs) -> "DataFrame":
        """Reference Assign ``_expr.py:1309-1341`` → ``withColumn`` per
        kwarg, applied IN ORDER so later callables see earlier assigns
        (pandas assign chaining: ``assign(z=..., y=lambda d: d.z + 1)``).

        A positional value computed from this frame's own column
        (``df.assign(cs=df.v.cumsum(), prev=df.v.shift(1),
        roll=df.v.rolling(3).sum())``: cum*, shift/diff/pct_change with
        integer periods, trailing rolling sum/mean/count/var/std) is
        fused: every such value comes out of ONE scan over the frame's
        rows (``_fused_positional``) and is written next to its columns,
        reading them as they were before the assign.  Any other Series
        is reindexed onto this frame's labels (``_order.align``), like
        pandas."""
        sdf = self._sdf
        made_rowid_index = False
        # Values computed up front into hidden columns read the frame as
        # it is before any assign (pandas evaluates every Series argument
        # first): this frame's positional values, fused into one scan,
        # and same-frame expressions that follow an overwrite.  Callables
        # see the frame as assigned so far, without those columns; with a
        # callable, positional values take the in-order path.
        fused: dict[str, str] = {}
        pre: dict[str, str] = {}
        fuse = not any(callable(v) and not isinstance(v, Series)
                       for v in kwargs.values())
        cols, overwrote = set(self.columns), False
        for i, (k, v) in enumerate(kwargs.items()):
            if fuse and isinstance(v, _PendingSeries):
                if v._over(self):
                    fused[k] = f"__pes_fused{i}__"
            elif (overwrote and isinstance(v, Series)
                    and v._sdf is self._sdf):
                pre[k] = f"__pes_pre{i}__"
            overwrote = overwrote or k in cols
        if fused:
            sdf, idx = _fused_positional(
                self, {t: kwargs[k] for k, t in fused.items()})
            made_rowid_index = tuple(idx) != tuple(self._index_cols)
        if pre:
            sdf = sdf.withColumns({t: kwargs[k]._scol
                                   for k, t in pre.items()})
        held = {**fused, **pre}
        # each assigned column's dtype record entry
        entries = {k: kwargs[k]._value_dtype for k in held}
        view = None
        scalars = []    # the plan nodes of lazy Scalar values

        def _current(view=False):
            # the frame as assigned so far (late-bound on sdf); a
            # callable's view leaves out the values held for later keys
            cur = sdf.drop(*held.values()) if held and view else sdf
            if made_rowid_index and not self._index_cols:
                return DataFrame(cur, self._expr, (_ROWID,), (None,))
            return DataFrame(cur, self._expr, self._index_cols,
                             self._index_names)

        for k, v in kwargs.items():
            if k in held:
                sdf = sdf.withColumn(k, F.col(held[k]))
                continue
            if callable(v) and not isinstance(v, Series):
                cur = _current(view=True)
                view = cur._sdf
                v = v(cur)
                # fall through: same-anchor fast path below (the view's
                # columns resolve by name on sdf), or the foreign-Series
                # alignment for scan outputs (the raw _scol would resolve
                # BY NAME against the original frame — silent wrong data)
            entries[k] = v._value_dtype if isinstance(v, Series) else None
            if isinstance(v, Series):
                if (v._sdf is not sdf and v._sdf is not self._sdf
                        and v._sdf is not view):
                    # a foreign Series is reindexed onto this frame's
                    # labels (``_order.align``)
                    cur, _, rmap = align(_current(), v.to_frame("v"))
                    sdf = (cur._sdf.withColumn(k, F.col(rmap["v"]))
                           .drop(rmap["v"]))
                    made_rowid_index = (made_rowid_index
                                        or cur._index_cols != self._index_cols)
                    continue
                col = v._scol
            elif isinstance(v, (list, tuple, np.ndarray, pd.Series, pd.Index)):
                # pandas: a sequence assigns ONE VALUE PER ROW by position
                # (broadcasting the whole list to every row would be
                # silently wrong data).  The sequence is driver-held by
                # construction → (pos, value) broadcast join against one
                # rowid pass; length mismatch raises like pandas.
                sdf = _assign_positional(_current(), k, v)
                continue
            else:
                col = _lit(v)
                if isinstance(v, Scalar):
                    scalars.append(v._expr)
            sdf = sdf.withColumn(k, col)
        if held:
            sdf = sdf.drop(*held.values())
        idx = ((_ROWID,), (None,)) if (made_rowid_index
                                       and not self._index_cols) else ()
        return self._derive(sdf, "assign", {"columns": list(kwargs)}, *idx,
                            dtypes=entries, deps=tuple(scalars))

    def drop(self, labels=None, columns=None, axis: int = 0,
             errors: str = "raise") -> "DataFrame":
        """Reference Drop ``_expr.py:1296-1306``, with the pandas axis
        contract: bare ``drop(labels)`` removes ROWS by index label
        (axis=0 default); columns go through ``columns=`` or
        ``axis=1``."""
        if columns is None and axis in (1, "columns"):
            columns = labels
        if columns is not None:
            cols = _ensure_list(columns)
            if errors == "raise":
                missing = [c for c in cols if c not in self.columns]
                if missing:
                    raise KeyError(missing)
            return self._derive(self._sdf.drop(*cols), "drop",
                                {"columns": cols})
        labels = _ensure_list(labels)
        if not self._index_cols:
            raise ValueError("DataFrame.drop(labels) removes rows by "
                             "index label — set_index first, or pass "
                             "columns=/axis=1 for column drops")
        icol = self._index_cols[0]
        if errors == "raise":
            found = (self._sdf.filter(F.col(icol).isin(labels))
                     .select(icol).distinct().count())
            if found < len(set(labels)):
                raise KeyError(f"some labels of {labels!r} not found "
                               "in index")
        out = self._sdf.filter(~F.col(icol).isin(labels)
                               | F.col(icol).isNull())
        return self._derive(out, "drop", {"n_labels": len(labels)})

    def rename(self, columns=None, index=None) -> "DataFrame":
        """Reference RenameFrame ``_expr.py:1034-1052``.  ``columns`` may
        be a mapping or a callable applied to every column name (pandas).
        ``index=`` maps the index LABELS (pandas): a dict rewrites only
        the listed labels (CASE chain, unmapped labels unchanged); a
        callable applies to every label via the Series.map machinery
        (Arrow UDF) — r5 hunt addition."""
        out = self
        if index is not None:
            if not self._index_cols:
                raise ValueError("rename(index=) needs an index")
            sdf = self._sdf
            for c in self._index_cols:
                if isinstance(index, Mapping):
                    expr = F.col(c)
                    newc = expr
                    for k, v in index.items():
                        newc = F.when(expr == F.lit(k), F.lit(v)) \
                                .otherwise(newc)
                    sdf = sdf.withColumn(c, newc)
                elif callable(index):
                    tmp = Series(sdf, F.col(c), c, self._expr, (), ())
                    mapped = tmp.map(index)
                    sdf = mapped._sdf.withColumn(c, mapped._scol)
                else:
                    raise TypeError("rename(index=) takes a mapping or "
                                    "callable")
            out = self._derive(sdf, "rename", {"index": True})
        if columns is None:
            return out
        if callable(columns):
            columns = {c: columns(c) for c in out.columns}
        ren = {c: n for c, n in dict(columns or {}).items()
               if c in out.columns}
        if not ren:
            return out
        # one projection: every name maps from the input at once, so a
        # swap or a chain renames like pandas (one-by-one renames collide)
        sdf = out._sdf.select(*[F.col(c).alias(ren[c]) if c in ren
                                else F.col(c) for c in out._sdf.columns])
        return out._derive(sdf, "rename", {"columns": dict(columns)},
                           renames=ren)

    def select_dtypes(self, include=None, exclude=None) -> "DataFrame":
        """Reference ``_collection.py:489-491``."""
        include = _ensure_list(include)
        exclude = _ensure_list(exclude)

        def _match(dt: T.DataType, names: list) -> bool:
            for n in names:
                if n in ("number",):
                    if is_numeric(dt):
                        return True
                else:
                    try:
                        if type(to_spark_type(n)) is type(dt):
                            return True
                    except TypeError:
                        pass
            return False

        keep = []
        for f in self._sdf.schema.fields:
            if (f.name in self._index_cols
                    or f.name in (_ROWID, _ORDER, _LABEL)):
                continue
            if include and not _match(f.dataType, include):
                continue
            if exclude and _match(f.dataType, exclude):
                continue
            keep.append(f.name)
        return self[keep]

    def eval(self, expr: str, local_dict=None, **kwargs):
        """Reference Eval ``_expr.py:1344-1352`` → Spark SQL expression parser
        (compiled, not a UDF).  ``col = expression`` assigns a column;
        a bare expression (pandas ``df.eval("a > @t")``) returns a Series.
        ``@name`` references resolve from ``local_dict`` (or the caller's
        scope) and inline as literals, like ``query`` (wave S)."""
        import re as _re
        src = expr
        if "@" in src:
            env = dict(local_dict or {})
            if not env:
                import inspect as _inspect
                fr = _inspect.currentframe().f_back
                env = {**fr.f_globals, **fr.f_locals}
            src = _inline_at_refs(src, env)
        m = _re.match(r"^\s*([A-Za-z_]\w*)\s*=(?![=<>])", src)
        if m:
            rhs = src[m.end():].strip()
            return self._derive(
                self._sdf.withColumn(m.group(1), F.expr(rhs)),
                "eval", {"expr": expr})
        # bare expression → Series over the same row set (comparison
        # results are mask-flavored: compute() renders null as False)
        if "!=" in src:
            src = _rewrite_not_equal(src)
        col = F.expr(src)
        name = "__eval__"
        sdf = self._sdf.select(
            *_order_cols(self._sdf),
            *[F.col(c) for c in self._index_cols], col.alias(name))
        node = Node("eq", {"expr": expr}, self._expr)
        return Series(sdf, F.col(name), None, node, self._index_cols,
                      self._index_names if self._index_cols else (None,))

    def query(self, expr: str, local_dict=None, **kwargs) -> "DataFrame":
        """SQL-flavored filter (Spark-native analogue of ``df.query``).
        ``@name`` references resolve from ``local_dict`` (or, like pandas,
        the caller's scope) and inline as literals — the predicate stays a
        pure Catalyst filter, pushdown-eligible."""
        if "@" in expr:
            env = dict(local_dict or {})
            if not env:
                import inspect as _inspect
                fr = _inspect.currentframe().f_back
                env = {**fr.f_globals, **fr.f_locals}
            expr = _inline_at_refs(expr, env)
        # pandas list syntax: `k in ['a','b']` / `not in [...]` → SQL IN
        if "[" in expr:
            import re as _re2
            expr = _re2.sub(
                r"\bin\s*\[([^\]]*)\]",
                lambda m: "in (" + m.group(1) + ")", expr)
        # pandas: a bare `index` names the index (unless a column shadows
        # it) — rewrite to the physical index column (r5 hunt pin)
        if (self._index_cols and len(self._index_cols) == 1
                and "index" not in self.columns and "index" in expr):
            import re as _re3
            expr = _re3.sub(r"(?<![\w@.`'])index(?![\w`'])",
                            f"`{self._index_cols[0]}`", expr)
        # pandas `!=` keeps rows whose operand is missing (numpy:
        # NaN != x → True); SQL's null-propagating `!=` would silently
        # drop them.  Rewrite `a != b` → `NOT (a <=> b)` — still a pure
        # Catalyst predicate.  (Known edge: NaN != NaN is True in pandas
        # but <=> calls two nulls equal; the engine conflates NaN/None.)
        if "!=" in expr:
            expr = _rewrite_not_equal(expr)
        lbase = (None if self._index_cols
                 else positions(self, upto="pass"))
        if lbase is not None:
            # pandas query keeps the surviving rows' ORIGINAL labels —
            # same promotion as the bare boolean filter
            return DataFrame(lbase.filter(expr),
                             Node("filter", {"predicate": expr},
                                  self._expr), (_ROWID,), (None,))
        return self._derive(self._sdf.filter(expr), "filter", {"predicate": expr})

    # -- null handling ---------------------------------------------------
    def fillna(self, value) -> "DataFrame":
        """pandas ``DataFrame.fillna``.  A dict fills per column (keys
        that are not columns are ignored).  Any other value — a lazy
        Scalar too, as its scalar subquery (``_lit``) — fills the data
        columns Spark's na.fill fills for a value of its type: a numeric
        value the numeric columns, any other the columns of its type;
        NaN counts as missing.  Index and hidden columns are never
        filled (pandas fills values only)."""
        if isinstance(value, Mapping):
            # pandas silently ignores dict keys that aren't columns;
            # Spark's fillna raises UNRESOLVED_COLUMN
            value = {k: v for k, v in value.items() if k in self.columns}
            if not value:
                return self
            return self._derive(self._sdf.fillna(dict(value)), "fillna", {})
        if value is None:
            raise ValueError("Must specify a fill 'value' or 'method'.")
        if isinstance(value, (list, tuple)):
            raise TypeError('"value" parameter must be a scalar or dict, '
                            f'but you passed a "{type(value).__name__}"')
        fill = _lit(value)
        st = self._sdf.select(fill).schema[0].dataType
        data = set(self.columns)
        upd = {}
        for f in self._sdf.schema.fields:
            if f.name in data and (f.dataType == st or (
                    is_numeric(f.dataType) and is_numeric(st))):
                c = F.col(f.name)
                if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                    c = F.nanvl(c, F.lit(None))
                upd[f.name] = F.coalesce(c, fill.cast(f.dataType))
        return self._derive(self._sdf.withColumns(upd), "fillna",
                            {"value": value})

    def dropna(self, how: str = "any", thresh: int | None = None,
               subset: Sequence[str] | None = None,
               axis: int | str = 0) -> "DataFrame":
        """Reference DropnaFrame ``_expr.py:986-1002`` → exact Spark builtin.
        ``axis=1`` drops COLUMNS containing nulls (pandas): one tiny
        null-count aggregation row decides the surviving columns — an
        eager schema decision, same contract as distinct-discovery
        (r5 hunt addition)."""
        if axis in (1, "columns"):
            counts = self._sdf.agg(
                *[F.count(F.lit(1)).alias("__n__")],
                *[F.count(F.col(c)).alias(f"__nn_{i}__")
                  for i, c in enumerate(self.columns)]).collect()[0]
            n = counts["__n__"]
            keep = []
            for i, c in enumerate(self.columns):
                nn = counts[f"__nn_{i}__"]
                ok = (nn == n) if how == "any" else (nn > 0)
                if thresh is not None:
                    ok = nn >= thresh
                if ok:
                    keep.append(c)
            sel = [F.col(c) for c in self._index_cols] + \
                  [F.col(c) for c in keep]
            return self._derive(self._sdf.select(*sel), "dropna",
                                {"axis": 1})
        # pandas considers DATA columns only — defaulting the subset keeps
        # hidden engine columns (order stamp, labels) and index levels out
        # of the how='all'/thresh counts
        lbase = (None if self._index_cols
                 else positions(self, upto="pass"))
        sub = _ensure_list(subset) or self.columns
        if lbase is not None:
            # pandas keeps the surviving rows' original positional labels
            return self._derive(lbase.dropna(how=how, thresh=thresh,
                                             subset=sub),
                                "dropna", {"how": how, "thresh": thresh,
                                           "subset": subset},
                                (_ROWID,), (None,))
        return self._derive(
            self._sdf.dropna(how=how, thresh=thresh, subset=sub),
            "dropna", {"how": how, "thresh": thresh, "subset": subset})

    def replace(self, to_replace, value=None,
                regex: bool = False) -> "DataFrame":
        if regex:
            # substring regex replace over every string column (narrow map)
            mapping = (to_replace if isinstance(to_replace, dict)
                       else {to_replace: value})
            upd = {}
            for c in self.columns:
                if not isinstance(self._sdf.schema[c].dataType, T.StringType):
                    continue
                out = F.col(c)
                for pat, rep in mapping.items():
                    out = F.regexp_replace(out, str(pat), str(rep))
                upd[c] = out
            return self._derive(self._sdf.withColumns(upd), "replace", {})
        if (isinstance(to_replace, dict)
                and any(isinstance(v, dict) for v in to_replace.values())):
            # pandas per-column form {"col": {old: new, ...}} — Spark's
            # native replace has no nested-dict signature; lower to CASE
            # projections (narrow map, no shuffle).
            upd = {}
            for col, m in to_replace.items():
                if not isinstance(m, dict):
                    m = {m: value}
                c, out = F.col(col), F.col(col)
                for k, v in m.items():
                    out = F.when(c.eqNullSafe(F.lit(k)), F.lit(v)) \
                        .otherwise(out)
                upd[col] = out
            return self._derive(self._sdf.withColumns(upd), "replace", {})
        if isinstance(to_replace, dict):
            mapping = to_replace
        elif isinstance(to_replace, (list, tuple, set)):
            vals = value if isinstance(value, (list, tuple)) \
                else [value] * len(to_replace)
            if len(vals) != len(to_replace):
                raise ValueError("replace: to_replace and value lists must "
                                 "have equal length")
            mapping = dict(zip(to_replace, vals))
        else:
            mapping = {to_replace: value}
        # pandas: NaN/None keys hit missing values; Spark's native replace
        # rejects them (use CASE fills per type-compatible column instead)
        nan_keys = {k: v for k, v in mapping.items()
                    if k is None or (isinstance(k, float) and k != k)}
        rest = {k: v for k, v in mapping.items() if k not in nan_keys}
        sdf = self._sdf.replace(rest) if rest else self._sdf
        for _, v in nan_keys.items():
            upd = {}
            for cname in self.columns:
                dt = sdf.schema[cname].dataType
                ccol = F.col(cname)
                num_v = isinstance(v, (int, float)) and not isinstance(v, bool)
                if isinstance(dt, (T.DoubleType, T.FloatType)) and num_v:
                    upd[cname] = F.when(ccol.isNull() | F.isnan(ccol),
                                        F.lit(float(v))).otherwise(ccol)
                elif isinstance(dt, T.StringType) and isinstance(v, str):
                    upd[cname] = F.coalesce(ccol, F.lit(v))
                elif isinstance(dt, (T.LongType, T.IntegerType)) and num_v:
                    upd[cname] = F.coalesce(ccol, F.lit(v).cast(dt))
            if upd:
                sdf = sdf.withColumns(upd)
        return self._derive(sdf, "replace", {})

    def astype(self, dtype) -> "DataFrame":
        # "category" is a dtype record entry over the physical type
        # (SURVEY §1.4): the values keep their Spark type
        spec = dict(dtype) if isinstance(dtype, Mapping) else \
            {c: dtype for c in self.columns}
        casts = {c: _astype_expr(F.col(c), self._sdf.schema[c].dataType,
                                 to_spark_type(t))
                 for c, t in spec.items() if str(t) != "category"}
        entries = {c: D.category(getattr(t, "categories", None),
                                 getattr(t, "ordered", False))
                   if str(t) == "category" else None
                   for c, t in spec.items()}
        return self._derive(self._sdf.withColumns(casts), "astype", {},
                            dtypes=entries)

    def map(self, func, na_action=None) -> "DataFrame":
        """pandas ``DataFrame.map`` (elementwise, née applymap): the
        Series.map machinery applied per column — dicts stay JVM-side CASE
        chains; callables go through one Arrow pandas UDF per column."""
        out = self
        for c in self.columns:
            out = out.assign(**{c: out[c].map(func, na_action=na_action)})
        node = Node("map_frame", {}, self._expr)
        return DataFrame(out._sdf, node, out._index_cols, out._index_names)

    applymap = map

    # -- frame-level elementwise arithmetic (pandas df ∘ scalar and
    # df ∘ df with index alignment; reference Binop applies frame-wide) --
    def _frame_binop(self, other, fn, op: str,
                     reflexive: bool = False) -> "DataFrame":
        # fn marked ``_typed`` receives the operand Spark DataTypes as a
        # third arg — lets per-column lowering follow dtype (floordiv must
        # stay float for float columns but long for int columns)
        typed = getattr(fn, "_typed", False)
        if isinstance(other, DataFrame):
            joined, lcols, rcols = align(self, other, "outer")
            jtypes = {f.name: f.dataType for f in joined._sdf.schema.fields}
            out_cols = [F.col(c) for c in joined._index_cols]
            # pandas: identical column orders are PRESERVED; otherwise
            # the aligned result's columns are the sorted union (r8 hunt)
            for name in _aligned_columns(self.columns, other.columns):
                l, r = lcols.get(name), rcols.get(name)
                if l is not None and r is not None:
                    a, b = F.col(l), F.col(r)
                    if reflexive:
                        a, b = b, a
                    expr = (fn(a, b, (jtypes[l], jtypes[r])) if typed
                            else fn(a, b))
                    out_cols.append(expr.alias(name))
                else:
                    # pandas: columns present on one side only become NaN
                    out_cols.append(F.lit(None).cast("double").alias(name))
            node = Node(op, {"frame": True}, self._expr, other._expr)
            return DataFrame(joined._sdf.select(*out_cols), node,
                             joined._index_cols, joined._index_names)
        if isinstance(other, Series):
            # pandas default axis='columns': the series' index labels align
            # with THIS frame's column names
            return self._binop_axis1(other, fn, op, reflexive)
        if (isinstance(other, (list, tuple, np.ndarray))
                and not isinstance(other, str) and np.ndim(other) == 1):
            # pandas coerces a 1-d sequence to a Series aligned with the
            # columns POSITIONALLY (exact length required)
            vals_seq = list(other)
            if len(vals_seq) != len(self.columns):
                raise ValueError(
                    f"Unable to coerce to Series, length must be "
                    f"{len(self.columns)}: given {len(vals_seq)}")
            other = pd.Series(vals_seq, index=list(self.columns))
        if isinstance(other, pd.Series):
            # eager pandas Series other (r5 hunt fix: this previously fell
            # through to F.lit(series) -> HashMap literal -> runtime crash)
            return self._binop_axis1_eager(other, fn, op, reflexive)
        bad = [c for c in self.columns
               if not is_numeric(self._sdf.schema[c].dataType)]
        if bad:
            raise TypeError(f"frame arithmetic needs numeric columns; "
                            f"non-numeric: {bad}")
        # `df * df.stack().mean()`: a lazy Scalar is its scalar subquery
        lit = _lit(other)
        odt = ((other._sdf.schema[0].dataType,)
               if isinstance(other, Scalar) else ())
        updates = {}
        for c in self.columns:
            a, b = F.col(c), lit
            if reflexive:
                a, b = b, a
            updates[c] = (fn(a, b, (self._sdf.schema[c].dataType, *odt))
                          if typed else fn(a, b))
        return self._derive(self._sdf.withColumns(updates), op,
                            {"other": other})

    def __add__(self, o): return self._frame_binop(o, lambda a, b: a + b, "add")
    def __radd__(self, o): return self._frame_binop(o, lambda a, b: a + b, "add", True)
    def __sub__(self, o): return self._frame_binop(o, lambda a, b: a - b, "sub")
    def __rsub__(self, o): return self._frame_binop(o, lambda a, b: a - b, "sub", True)
    def __mul__(self, o): return self._frame_binop(o, lambda a, b: a * b, "mul")
    def __rmul__(self, o): return self._frame_binop(o, lambda a, b: a * b, "mul", True)
    def __truediv__(self, o):
        fn = (lambda a, b: a / b) if _safe_nonzero(o) else _pandas_div
        return self._frame_binop(o, fn, "div")
    def __rtruediv__(self, o):
        return self._frame_binop(o, _pandas_div, "div", True)
    def __pow__(self, o): return self._frame_binop(o, _pandas_pow, "pow")
    def __mod__(self, o):
        fn = _pymod_raw if _safe_nonzero(o) else _pandas_mod
        return self._frame_binop(o, fn, "mod")
    def __floordiv__(self, o):
        return self._frame_binop(o, _floordiv_typed(o), "floordiv")
    def __neg__(self): return self._frame_binop(-1, lambda a, b: a * b, "neg")

    # comparisons produce a boolean frame; strings compare fine, so no
    # numeric guard — scalar compare is a pure projection
    def _frame_cmp(self, other, fn, op: str) -> "DataFrame":
        if isinstance(other, (Series, DataFrame, pd.Series)) or (
                isinstance(other, (list, tuple, np.ndarray))
                and not isinstance(other, str) and np.ndim(other) == 1):
            return self._frame_binop(other, fn, op)
        lit = _lit(other)
        updates = {c: fn(F.col(c), lit) for c in self.columns}
        # for df.where(df > 0): the per-column predicates re-apply on
        # THIS frame's plan — where/mask check that plan is theirs
        return self._derive(self._sdf.withColumns(updates), op,
                            {"other": other}, hint=(self._sdf, updates))

    def __eq__(self, o):  # type: ignore[override]
        return self._frame_cmp(o, lambda a, b: a == b, "eq")
    def __ne__(self, o):  # type: ignore[override]
        return self._frame_cmp(o, lambda a, b: a != b, "ne")
    __hash__ = None  # type: ignore[assignment]  # like pandas: unhashable
    def __gt__(self, o): return self._frame_cmp(o, lambda a, b: a > b, "gt")
    def __ge__(self, o): return self._frame_cmp(o, lambda a, b: a >= b, "ge")
    def __lt__(self, o): return self._frame_cmp(o, lambda a, b: a < b, "lt")
    def __le__(self, o): return self._frame_cmp(o, lambda a, b: a <= b, "le")

    # pandas comparison METHODS: materialized booleans, null → False
    # (True for ne) — the dunders keep raw SQL predicates for pushdown.
    # ``axis=0/'index'`` broadcasts a Series DOWN the columns (index
    # alignment), like the named arithmetic methods (wave V).
    def _cmp_method(self, other, fn, op: str, axis):
        if axis in (0, "index") and isinstance(other, pd.Series):
            from .sources import from_pandas
            other = from_pandas(other.to_frame("__o__"))["__o__"]
        if axis in (0, "index") and isinstance(other, Series):
            return self._binop_axis0(other, fn, op)
        return self._frame_cmp(other, fn, op)

    def eq(self, other, axis="columns"):
        return self._cmp_method(other, lambda a, b: F.coalesce(
            a == b, F.lit(False)), "eq", axis)

    def ne(self, other, axis="columns"):
        return self._cmp_method(other, lambda a, b: F.coalesce(
            a != b, F.lit(True)), "ne", axis)

    def lt(self, other, axis="columns"):
        return self._cmp_method(other, lambda a, b: F.coalesce(
            a < b, F.lit(False)), "lt", axis)

    def le(self, other, axis="columns"):
        return self._cmp_method(other, lambda a, b: F.coalesce(
            a <= b, F.lit(False)), "le", axis)

    def gt(self, other, axis="columns"):
        return self._cmp_method(other, lambda a, b: F.coalesce(
            a > b, F.lit(False)), "gt", axis)

    def ge(self, other, axis="columns"):
        return self._cmp_method(other, lambda a, b: F.coalesce(
            a >= b, F.lit(False)), "ge", axis)

    # pandas named arithmetic with fill_value: a null on ONE side takes
    # the fill before the op; both-null stays null.  ``axis=0`` with a
    # Series broadcasts it DOWN the columns (aligned on the index).
    def _named_binop(self, other, fn, op: str, fill_value=None,
                     axis=None) -> "DataFrame":
        if isinstance(other, (Series, pd.Series)) and fill_value is not None:
            # pandas raises for frame∘series with fill_value on either axis
            raise NotImplementedError(
                f"fill_value {fill_value} not supported.")
        if axis in (0, "index") and isinstance(other, pd.Series):
            from .sources import from_pandas
            other = from_pandas(other.to_frame("__o__"))["__o__"]
        if axis in (0, "index") and isinstance(other, Series):
            return self._binop_axis0(other, fn, op)
        if fill_value is None:
            return self._frame_binop(other, fn, op)
        fv = F.lit(fill_value)
        typed = getattr(fn, "_typed", False)

        def filled(a, b, dts=None):
            both_null = a.isNull() & b.isNull()
            r = (fn(F.coalesce(a, fv), F.coalesce(b, fv), dts) if typed
                 else fn(F.coalesce(a, fv), F.coalesce(b, fv)))
            return F.when(both_null, F.lit(None).cast("double")).otherwise(r)

        filled._typed = typed
        return self._frame_binop(other, filled, op)

    @staticmethod
    def _lift_bool_cell(a: Column, b: Column, dts: tuple) -> tuple:
        """numpy semantics for the columns-axis broadcast: a boolean
        operand paired with a NUMERIC one lifts to int64 (Spark's ANSI
        ``int + boolean`` is an analysis error; pandas computes 1/0)."""
        at, bt = dts
        a_bool, b_bool = isinstance(at, T.BooleanType), isinstance(bt, T.BooleanType)
        if a_bool and not b_bool and is_numeric(bt):
            return a.cast("long"), b, (T.LongType(), bt)
        if b_bool and not a_bool and is_numeric(at):
            return a, b.cast("long"), (at, T.LongType())
        return a, b, dts

    def _binop_axis1(self, other: "Series", fn, op: str,
                     reflexive: bool = False) -> "DataFrame":
        """``df ∘ series`` with pandas' default columns axis: the series'
        index labels match this frame's COLUMN names, one value per
        column.  The series' labels define the result schema, so they are
        collected once at plan-build time (tiny — one value per column;
        the same distinct-discovery contract as pivot/unstack/get_dummies).
        Cells for one-side-only columns become NaN like frame∘frame."""
        of = other.to_frame("__o__")
        if not of._index_cols:
            raise ValueError(f"{op} with a Series other needs index labels "
                             "to align with the frame's columns")
        rows = of._sdf.select(F.col(of._index_cols[0]).alias("__k__"),
                              F.col("__o__")).collect()
        labels = [str(r["__k__"]) for r in rows]
        if len(set(labels)) != len(labels):
            raise ValueError("cannot broadcast a Series with duplicate "
                             "index labels along the columns axis")
        vals = {lab: r["__o__"] for lab, r in zip(labels, rows)}
        typed = getattr(fn, "_typed", False)
        out_cols = [F.col(c) for c in self._index_cols]
        # pandas Index.union fast path: an IDENTICAL label sequence keeps
        # the frame's column order; any other overlap sorts the union
        ordered = (list(self.columns) if labels == list(self.columns)
                   else sorted(dict.fromkeys(list(self.columns) + labels)))
        for name in ordered:
            if name in self.columns and name in vals:
                a, b = F.col(name), F.lit(vals[name])
                dts = (self._sdf.schema[name].dataType, other.spark_type)
                a, b, dts = self._lift_bool_cell(a, b, dts)
                if reflexive:
                    a, b = b, a
                    dts = dts[::-1]
                expr = fn(a, b, dts) if typed else fn(a, b)
                out_cols.append(expr.alias(name))
            else:
                out_cols.append(F.lit(None).cast("double").alias(name))
        node = Node(op, {"frame": True, "axis": 1}, self._expr, other._expr)
        return DataFrame(self._sdf.select(*out_cols), node,
                         self._index_cols, self._index_names)

    def _binop_axis1_eager(self, other: pd.Series, fn, op: str,
                           reflexive: bool = False) -> "DataFrame":
        """``df ∘ eager pandas Series`` along the columns axis: labels AND
        values are known at plan-build, so the broadcast is a pure
        projection — no collect, no join (lazy twin: ``_binop_axis1``)."""
        from ._dtypes import to_spark_type
        labels = [str(k) for k in other.index]
        if len(set(labels)) != len(labels):
            raise ValueError("cannot reindex on an axis with duplicate "
                             "labels")
        try:
            otype = to_spark_type(other.dtype)
        except Exception:
            otype = T.DoubleType()
        vals = {}
        for k, v in zip(labels, other):
            if v is None or (isinstance(v, (float, np.floating)) and v != v):
                vals[k] = None
            else:
                vals[k] = v.item() if hasattr(v, "item") else v
        typed = getattr(fn, "_typed", False)
        ordered = (list(self.columns) if labels == list(self.columns)
                   else sorted(dict.fromkeys(list(self.columns) + labels)))
        out_cols = [F.col(c) for c in self._index_cols]
        for name in ordered:
            if name in self.columns and name in vals:
                v = vals[name]
                b = (F.lit(None).cast("double") if v is None else F.lit(v))
                a = F.col(name)
                dts = (self._sdf.schema[name].dataType, otype)
                a, b, dts = self._lift_bool_cell(a, b, dts)
                if reflexive:
                    a, b = b, a
                    dts = dts[::-1]
                expr = fn(a, b, dts) if typed else fn(a, b)
                out_cols.append(expr.alias(name))
            else:
                out_cols.append(F.lit(None).cast("double").alias(name))
        node = Node(op, {"frame": True, "axis": 1, "eager_other": True},
                    self._expr)
        return DataFrame(self._sdf.select(*out_cols), node,
                         self._index_cols, self._index_names)

    def _binop_axis0(self, other: "Series", fn, op: str) -> "DataFrame":
        """``df.op(series, axis=0)``: one value per ROW applied across all
        numeric columns.  Same-anchor series is a pure projection; a
        foreign series outer-aligns with the rows by label, as pandas
        does (``_order.align``)."""
        num = [c for c in self.columns
               if is_numeric(self._sdf.schema[c].dataType)]
        typed = getattr(fn, "_typed", False)

        def _ap(c, x, o):
            if typed:
                return fn(x, o,
                          (self._sdf.schema[c].dataType, other.spark_type))
            return fn(x, o)

        if other._sdf is self._sdf:
            updates = {c: _ap(c, F.col(c), other._scol) for c in num}
            return self._derive(self._sdf.withColumns(updates), op, {})
        joined, lmap, rmap = align(self, other.to_frame("o"), "outer")
        o = F.col(rmap["o"])
        cols = [(_ap(c, F.col(lmap[c]), o) if c in num
                 else F.col(lmap[c])).alias(c) for c in self.columns]
        return self._derive(joined._sdf.select(*joined._index_cols, *cols),
                            op, {"axis": 0}, joined._index_cols,
                            joined._index_names, deps=(other._expr,))

    def add(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: a + b, "add",
                                 fill_value, axis)

    def sub(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: a - b, "sub",
                                 fill_value, axis)

    def mul(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: a * b, "mul",
                                 fill_value, axis)

    def div(self, other, fill_value=None, axis=None):
        fn = (lambda a, b: a / b) if _safe_nonzero(other) else _pandas_div
        return self._named_binop(other, fn, "div", fill_value, axis)

    truediv = div

    def pow(self, other, fill_value=None, axis=None):
        return self._named_binop(other, _pandas_pow, "pow",
                                 fill_value, axis)

    # reflected named forms + pandas long-name aliases
    def radd(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: b + a, "radd",
                                 fill_value, axis)

    def rsub(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: b - a, "rsub",
                                 fill_value, axis)

    def rmul(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: b * a, "rmul",
                                 fill_value, axis)

    def rdiv(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: _pandas_div(b, a),
                                 "rdiv", fill_value, axis)

    rtruediv = rdiv

    def rpow(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: _pandas_pow(b, a), "rpow",
                                 fill_value, axis)

    def mod(self, other, fill_value=None, axis=None):
        fn = _pymod_raw if _safe_nonzero(other) else _pandas_mod
        return self._named_binop(other, fn, "mod", fill_value, axis)

    def rmod(self, other, fill_value=None, axis=None):
        return self._named_binop(other, lambda a, b: _pandas_mod(b, a),
                                 "rmod", fill_value, axis)

    def floordiv(self, other, fill_value=None, axis=None):
        return self._named_binop(other, _floordiv_typed(other), "floordiv",
                                 fill_value, axis)

    def rfloordiv(self, other, fill_value=None, axis=None):
        return self._named_binop(other, _floordiv_typed(other, swap=True),
                                 "rfloordiv", fill_value, axis)

    def divide(self, other, fill_value=None, axis=None):
        return self.div(other, fill_value, axis)

    def multiply(self, other, fill_value=None, axis=None):
        return self.mul(other, fill_value, axis)

    def subtract(self, other, fill_value=None, axis=None):
        return self.sub(other, fill_value, axis)

    def _frame_positional(self, periods: int, build, op: str,
                          cols: list[str] | None = None) -> "DataFrame":
        """Shared positional helper (shift/diff/pct_change, for frames
        and Series alike): ONE distributed position pass + ONE equi-join
        on (pos - periods) serves every column in ``cols`` (default: all)
        — per-column marginal cost is an expression, not a pass.
        ``build(col, prev)`` is the new value; ``__src__`` is null where
        the row shifted in from beyond the boundary."""
        from .functions.scan import global_pos
        sdf, order, idx, names = _positional_order(self)
        cols = list(self.columns) if cols is None else cols
        lag = {c: f"__lag{i}__" for i, c in enumerate(cols)}
        pos = global_pos(sdf, order)  # checkpoint-backed (r9), no persist
        lagged = pos.select(
            (F.col("__pos__") + F.lit(periods)).alias("__pos__"),
            F.lit(1).alias("__src__"),
            *[F.col(c).alias(lag[c]) for c in cols])
        out = (pos.join(lagged, "__pos__", "left")
               .withColumns({c: build(F.col(c), F.col(lag[c])) for c in cols})
               .drop("__pos__", "__src__", *lag.values()))
        return self._derive(out, op, {"periods": periods}, idx, names)

    def _require_types(self, op: str, ok, pandas_computes=(),
                       error=TypeError, skip=()) -> dict:
        """``{column: Spark type}`` of the columns not in ``skip``, after
        failing loudly on a column ``op`` cannot compute rather than
        returning it unchanged: NotImplementedError where pandas computes
        a result the engine does not (types in ``pandas_computes``), else
        ``error`` like pandas."""
        cols = set(self.columns) - set(skip)
        types = {f.name: f.dataType for f in self._sdf.schema.fields
                 if f.name in cols}
        for c, dt in types.items():
            if not ok(dt):
                err = (NotImplementedError
                       if isinstance(dt, pandas_computes) else error)
                raise err(f"{op}: column {c!r} of type "
                          f"{dt.simpleString()} is not supported")
        return types

    def shift(self, periods: int = 1, fill_value=None,
              axis: int = 0) -> "DataFrame":
        """pandas ``DataFrame.shift`` over the index order — distributed
        position join, never a global window.  ``fill_value`` fills only
        positions shifted in from beyond the boundary (join miss), never
        NaNs already present in the data.  ``axis=1`` shifts ACROSS
        columns — a pure projection (wave X)."""
        if axis in (1, "columns"):
            cols = self.columns
            updates = {}
            for i, c in enumerate(cols):
                j = i - periods
                if 0 <= j < len(cols):
                    src = F.col(cols[j])
                    # the cast follows the SOURCE column's dtype — casting
                    # by the destination slot would force e.g. a string
                    # source to double (nulls / ANSI failure)
                    dt = self._sdf.schema[cols[j]].dataType
                    if is_numeric(dt):
                        src = src.cast("double")
                    updates[c] = src
                else:
                    if fill_value is None:
                        updates[c] = F.lit(None).cast("double")
                    else:
                        lit = F.lit(fill_value)
                        if isinstance(fill_value, (int, float, np.integer,
                                                   np.floating)) and not \
                                isinstance(fill_value, bool):
                            lit = lit.cast("double")
                        updates[c] = lit
            return self._derive(self._sdf.withColumns(updates), "shift",
                                {"axis": 1, "periods": periods})
        return self._frame_positional(
            periods, _lag_value("shift", fill_value), "shift")

    def diff(self, periods: int = 1, axis: int = 0) -> "DataFrame":
        if axis in (1, "columns"):
            # column-minus-previous-column: a pure projection
            num = [c for c in self.columns
                   if is_numeric(self._sdf.schema[c].dataType)]
            updates = {}
            for i, c in enumerate(num):
                j = i - periods
                updates[c] = (F.col(c) - F.col(num[j])
                              if 0 <= j < len(num)
                              else F.lit(None).cast("double"))
            return self._derive(self._sdf.withColumns(updates),
                                "diff_axis1", {"periods": periods})
        self._require_types("diff", lambda dt: is_numeric(dt) or isinstance(
            dt, (T.TimestampType, T.TimestampNTZType, T.DateType)),
            T.BooleanType)
        return self._frame_positional(periods, _lag_value("diff"), "diff")

    def pct_change(self, periods: int = 1,
                   fill_method: str | None = "pad") -> "DataFrame":
        # pandas pad-fills each column before the ratio (same contract as
        # the Series form at :1939 — the frame path previously skipped
        # the fill, so NaN rows poisoned every ratio that crossed them)
        if fill_method in ("pad", "ffill"):
            return self.ffill().pct_change(periods, fill_method=None)
        if fill_method is not None:
            raise ValueError(f"fill_method must be 'pad'/'ffill'/None, "
                             f"got {fill_method!r}")
        self._require_types("pct_change", is_numeric, T.BooleanType)
        return self._frame_positional(periods, _lag_value("pct_change"),
                                      "pct_change")

    def combine_first(self, other: "DataFrame") -> "DataFrame":
        """Reference CombineFirst ``_expr.py:1005-1031``: index-aligned null
        overlay → full outer join on index + per-column coalesce."""
        joined, lcols, rcols = align(self, other, "outer")
        out_cols = [F.col(c) for c in joined._index_cols]
        all_names = list(dict.fromkeys(self.columns + other.columns))
        for name in all_names:
            l = lcols.get(name)
            r = rcols.get(name)
            if l is not None and r is not None:
                out_cols.append(F.coalesce(F.col(l), F.col(r)).alias(name))
            elif l is not None:
                out_cols.append(F.col(l).alias(name))
            else:
                out_cols.append(F.col(r).alias(name))
        node = Node("combine_first", {}, self._expr, other._expr)
        return DataFrame(joined._sdf.select(*out_cols), node,
                         joined._index_cols, joined._index_names)

    def update(self, other: "DataFrame") -> "DataFrame":
        """pandas ``DataFrame.update``: overwrite self's values with
        other's non-null values at matching labels — ``other`` reindexed
        onto self's rows + reversed coalesce (self's row set and columns
        unchanged).  pandas mutates in place (returns None); the frame
        rebinds, and returning self keeps the chainable form working."""
        f, _, rmap = align(self, other)
        sdf = (f._sdf.withColumns({c: F.coalesce(F.col(rmap[c]), F.col(c))
                                   for c in self.columns if c in rmap})
               .drop(*rmap.values()))
        self._rebind(self._derive(sdf, "update", {"other": other},
                                  f._index_cols, f._index_names))
        return self

    def _framewise_cond(self, cond: "DataFrame", keep_on_true: bool,
                        other) -> "DataFrame":
        """Boolean-FRAME cond (``df.where(df > 0)``): per-column CASE —
        pure projection when the cond is a comparison of this frame
        (its node's hint); otherwise the cond, and a frame ``other``, are
        reindexed onto this frame's labels (``_order.align``)."""
        hint = cond._hint("eq", "ne", "lt", "le", "gt", "ge")
        other_is_frame = isinstance(other, DataFrame)
        if (hint is not None and hint[0] is self._sdf
                and not other_is_frame):
            exprs = hint[1]

            def rep(c):
                e = exprs.get(c)
                flag = F.coalesce(e, F.lit(False)) if e is not None \
                    else F.lit(False)
                return (F.when(flag, F.col(c)).otherwise(_lit(other))
                        if keep_on_true else
                        F.when(flag, _lit(other)).otherwise(F.col(c)))
            return self._derive(
                self._sdf.withColumns({c: rep(c) for c in self.columns}),
                "where" if keep_on_true else "mask",
                {"frame_cond": True, "other": other})
        if not keep_on_true:
            # pandas' mask is where on the inverted cond: a label or
            # column missing from the cond then replaces
            cond = cond._derive(cond._sdf.withColumns(
                {c: ~F.coalesce(F.col(c), F.lit(False))
                 for c in cond.columns}), "invert")
        base, _, cmap = align(self, cond)
        omap = {}
        if other_is_frame:
            base, _, omap = align(base, other)

        def rep2(c):
            flag = (F.coalesce(F.col(cmap[c]), F.lit(False))
                    if c in cmap else F.lit(False))
            if other_is_frame:
                oc = F.col(omap[c]) if c in omap else F.lit(None)
            else:
                oc = _lit(other)
            return F.when(flag, F.col(c)).otherwise(oc)
        out = (base._sdf.withColumns({c: rep2(c) for c in self.columns})
               .drop(*cmap.values(), *omap.values()))
        return self._derive(out, "where" if keep_on_true else "mask",
                            {"frame_cond": True, "aligned": True,
                             "other": other},
                            base._index_cols, base._index_names)

    def where(self, cond, other=None) -> "DataFrame":
        """pandas ``DataFrame.where``: same-anchor boolean Series lowers
        to per-column ``CASE WHEN`` — pure projection, no shuffle.  A
        cond from ANOTHER frame (e.g. the parent of a projection) is
        reindexed onto this frame's labels (``_order.align``), a missing
        label counting as False.  A boolean FRAME cond applies per column
        (``df.where(df > 0)``)."""
        if callable(cond) and not isinstance(cond, FrameBase):
            cond = cond(self)
        if callable(other) and not isinstance(other, FrameBase):
            other = other(self)
        if isinstance(cond, DataFrame):
            return self._framewise_cond(cond, True, other)
        if not isinstance(cond, Series):
            raise ValueError("DataFrame.where requires a boolean Series")
        if cond._sdf is self._sdf:
            base, flag, hidden = self, cond._scol, None
        else:
            base, _, rmap = align(self, cond.to_frame("v"))
            hidden = rmap["v"]
            flag = F.col(hidden)
        # the replacement is cast per column (a string column takes
        # str(other)) — Spark-typed columns can't hold pandas' mixed
        # object cells
        reps = {c: F.when(flag, F.col(c)).otherwise(
                    _lit(other).cast(self._sdf.schema[c].dataType)
                    if other is not None else F.lit(None))
                for c in self.columns}
        sdf = base._sdf.withColumns(reps)
        if base is self:
            return self._derive(sdf, "where", {"other": other})
        return self._derive(sdf.drop(hidden), "where",
                            {"aligned": True, "other": other},
                            base._index_cols, base._index_names)

    def mask(self, cond, other=None) -> "DataFrame":
        """pandas ``DataFrame.mask`` — complement of ``where``.  A null
        cond counts as False (pandas): the row is KEPT, so the inversion
        must null-coalesce before negating."""
        if callable(cond) and not isinstance(cond, FrameBase):
            cond = cond(self)
        if callable(other) and not isinstance(other, FrameBase):
            other = other(self)
        if isinstance(cond, DataFrame):
            return self._framewise_cond(cond, False, other)
        if not isinstance(cond, Series):
            raise ValueError("DataFrame.mask requires a boolean Series")
        inv = cond._with_scol(~F.coalesce(cond._scol, F.lit(False)),
                              "invert")
        return self.where(inv, other)

    def align(self, other: "DataFrame", join: str = "outer"):
        """Reference ``_Align`` ``_expr.py:958-978``, through
        ``_order.align``."""
        joined, lcols, rcols = align(self, other, join)
        keep = [F.col(c) for c in joined._index_cols] + \
            _order_cols(joined._sdf)
        lsel = keep + [F.col(lcols[c]).alias(c) for c in self.columns]
        rsel = keep + [F.col(rcols[c]).alias(c) for c in other.columns]
        ln = Node("align_left", {}, self._expr, other._expr)
        rn = Node("align_right", {}, self._expr, other._expr)
        return (DataFrame(joined._sdf.select(*lsel), ln, joined._index_cols, joined._index_names),
                DataFrame(joined._sdf.select(*rsel), rn, joined._index_cols, joined._index_names))

    # -- sampling / dedup ------------------------------------------------
    def sample(self, frac: float | None = None, n: int | None = None,
               replace: bool = False, random_state: int | None = None,
               weights: str | "Series" | None = None) -> "DataFrame":
        """Reference Sample ``_expr.py:1055-1070``.

        ``n=`` costs one count() action, then oversampled Bernoulli +
        ``limit(n)`` — the standard distributed exact-n sample (a global
        shuffle-to-one-task sort would be the naive alternative).

        ``weights=`` draws WITHOUT replacement with probability
        proportional to the weight column — the Efraimidis–Spirakis
        one-pass reservoir: key = u^(1/w), take the n largest keys
        (TakeOrderedAndProject — no global sort).  Zero/null-weight rows
        are never selected; negative weights raise at compute (filtered
        defensively here)."""
        # pandas sample KEEPS the original row labels: draw from the frame
        # with valid in-scan labels bound as the rowid (pure rename) —
        # without them, the renumbering derive (documented deviation)
        src = positions(self, upto="label")
        labeled = src is not None
        if not labeled:
            src = self._sdf
        if weights is not None:
            if replace:
                raise NotImplementedError("sample(weights=, replace=True)")
            w = (weights._scol if isinstance(weights, Series)
                 else F.col(weights)).cast("double")
            if n is None:
                if frac is None:
                    raise ValueError("sample(weights=): pass n= or frac=")
                n = int(round(self._sdf.count() * frac))
            u = F.rand(random_state) if random_state is not None else F.rand()
            # ANSI guard: the 1/w only evaluates on positive weights
            key = F.when(w > 0, F.pow(u, F.lit(1.0) / w))
            sampled = (src.withColumn("__wk__", key)
                       .filter(F.col("__wk__").isNotNull())
                       .orderBy(F.col("__wk__").desc()).limit(n)
                       .drop("__wk__"))
            return self._sample_out(sampled, labeled,
                                    {"n": n, "weighted": True,
                                     "seed": random_state})
        if frac is None:
            if n is None:
                raise ValueError("sample: pass frac= or n=")
            total = self._sdf.count()
            if replace:
                # with replacement n may EXCEED the population (pandas);
                # Poisson fractions > 1 are legal under withReplacement
                frac_n = n / max(total, 1) * 1.2 + 10.0 / max(total, 1)
                sampled = src.sample(withReplacement=True,
                                     fraction=frac_n, seed=random_state)
                return self._sample_out(sampled.limit(n), labeled,
                                        {"n": n, "replace": True,
                                         "seed": random_state})
            if n >= total:
                return self._derive(self._sdf, "sample", {"n": n})
            # oversample so P(fewer than n rows) is negligible, then cap
            frac_n = min(1.0, n / total * 1.2 + 10.0 / total)
            sampled = src.sample(withReplacement=False,
                                 fraction=frac_n, seed=random_state)
            return self._sample_out(sampled.limit(n), labeled,
                                    {"n": n, "seed": random_state})
        return self._sample_out(
            src.sample(withReplacement=replace, fraction=frac,
                       seed=random_state), labeled,
            {"frac": frac, "replace": replace, "seed": random_state})

    def _sample_out(self, sampled: SparkDF, labeled: bool,
                    params: dict) -> "DataFrame":
        """Wrap a draw: a ``labeled`` draw keeps its rowid labels as the
        index (``replace=True`` can emit DUPLICATE labels, as pandas
        does)."""
        if labeled:
            return self._derive(sampled, "sample", params, (_ROWID,),
                                (None,))
        return self._derive(sampled, "sample", params)

    def drop_duplicates(self, subset: Sequence[str] | None = None,
                        keep: str = "first") -> "DataFrame":
        """Reference DropDuplicates ``_reductions.py:52-80``.

        ``keep="first"/"last"`` (pandas default: first) honor positional
        order via a row-number window over the engine index (`IX` —
        SURVEY §2.5).  ``keep="any"`` is the engine's scale extension →
        ``dropDuplicates`` — shuffle-only, no ordering; pick it when the
        surviving representative doesn't matter (it was the old default,
        which silently diverged from pandas' first-occurrence contract —
        r5 wave R2)."""
        subset = _ensure_list(subset) or self.columns
        if keep == "any":
            return self._derive(self._sdf.dropDuplicates(subset), "drop_duplicates",
                                {"subset": subset})
        if keep is False:
            # pandas keep=False: drop EVERY member of a >1 group — a
            # windowed count on the subset keys (one shuffle, no ordering).
            # Default-index frames keep the rowid as the engine index so
            # surviving rows carry their ORIGINAL positional labels.
            w = Window.partitionBy(*subset)
            if self._index_cols:
                sdf, idx, names = self._sdf, self._index_cols, \
                    self._index_names
            else:
                sdf, idx, names = positions(self), (_ROWID,), \
                    (None,)
            out = (sdf.withColumn("__n__", F.count(F.lit(1)).over(w))
                   .filter(F.col("__n__") == 1).drop("__n__"))
            return self._derive(out, "drop_duplicates",
                                {"subset": subset, "keep": keep}, idx, names)
        if _ORDER in self._sdf.columns:
            # first/last follow the PRESENTED order after a sort (pandas)
            sdf, order_col = self._sdf, _ORDER
            if self._index_cols:
                idx, names = self._index_cols, self._index_names
            else:
                sdf, idx, names = positions(self), (_ROWID,), (None,)
        elif self._index_cols:
            sdf, order_col = self._sdf, self._index_cols[0]
            idx, names = self._index_cols, self._index_names
        else:
            # pandas keeps the surviving rows' original labels — anchor
            # them as the anonymous rowid index (not dropped!)
            sdf, order_col = positions(self), _ROWID
            idx, names = (_ROWID,), (None,)
        order = F.col(order_col).asc() if keep == "first" else F.col(order_col).desc()
        w = Window.partitionBy(*subset).orderBy(order)
        out = (sdf.withColumn("__rn__", F.row_number().over(w))
               .filter(F.col("__rn__") == 1).drop("__rn__"))
        return self._derive(out, "drop_duplicates",
                            {"subset": subset, "keep": keep}, idx, names)

    def duplicated(self, subset: Sequence[str] | None = None,
                   keep: str = "first") -> Series:
        """pandas ``DataFrame.duplicated``: boolean Series marking duplicate
        rows.  ``keep="first"/"last"`` use one row-number window over the
        engine index (`IX`) — a single shuffle on the subset keys;
        ``keep=False`` marks every member of a >1 group (windowed count,
        no ordering needed at all)."""
        subset = _ensure_list(subset) or self.columns
        if self._index_cols:
            sdf, order_col = self._sdf, self._index_cols[0]
            idx, names = self._index_cols, self._index_names
        else:
            # keep the rowid as the anonymous engine index so the result
            # carries pandas' positional labels (the window shuffle
            # otherwise destroys row order)
            sdf, order_col = positions(self), _ROWID
            idx, names = (_ROWID,), (None,)
        if keep is False:
            w = Window.partitionBy(*subset)
            out = sdf.withColumn(
                "__dup__", F.count(F.lit(1)).over(w) > 1)
            node = Node("duplicated", {"subset": subset, "keep": keep}, self._expr)
            return Series(out, F.col("__dup__"), None, node, idx, names)
        if keep not in ("first", "last"):
            raise ValueError("keep must be 'first', 'last' or False")
        order = F.col(order_col).asc() if keep == "first" else F.col(order_col).desc()
        w = Window.partitionBy(*subset).orderBy(order)
        out = sdf.withColumn("__dup__", F.row_number().over(w) > 1)
        node = Node("duplicated", {"subset": subset, "keep": keep}, self._expr)
        # pandas returns an UNNAMED boolean Series
        return Series(out, F.col("__dup__"), None, node, idx, names)

    def explode(self, column, ignore_index: bool = False) -> "DataFrame":
        """Reference Explode (`_expr.py:1275-1293`) → ``F.explode``.
        A list of columns explodes them TOGETHER elementwise (pandas
        multi-column explode) via ``arrays_zip`` — one generator, no
        cartesian blow-up.  ``ignore_index=True`` skips the label anchor
        and relabels 0..n-1 (the cheaper plan)."""

        def _object_entries(targets):
            # pandas explode ALWAYS yields object dtype (r8 dtype hunt) —
            # a dtype record entry; the Spark column stays typed
            out = {}
            for c in targets:
                try:
                    et = self._sdf.schema[c].dataType.elementType
                except Exception:
                    continue
                out[c] = D.Presented("object", stored="int" if isinstance(
                    et, (T.ByteType, T.ShortType, T.IntegerType,
                         T.LongType)) else "other")
            return out

        if ignore_index:
            cols = [F.explode_outer(F.col(c)).alias(c)
                    if (c == column or (isinstance(column, (list, tuple))
                                        and c in column))
                    else F.col(c) for c in self.columns]
            if isinstance(column, (list, tuple)) and len(column) > 1:
                return self.explode(column).reset_index(drop=True)
            sel = self._sdf.select(*cols)
            return self._derive(sel, "explode", {"ignore_index": True},
                                (), (), dtypes=_object_entries(
                                    _ensure_list(column)))
        if self._index_cols:
            src, idx_cols, idx_names = \
                self._sdf, self._index_cols, self._index_names
        else:
            # pandas DUPLICATES the original row label per element
            src = positions(self)
            idx_cols, idx_names = (_ROWID,), (None,)
        # a stamped input must keep its presented order through the
        # explode; the element position extends the stamp (posexplode) and
        # a ranged pass mints the fresh dense stamp (r8 hunt: dropping
        # _ORDER presented exploded rows in rowid order, not stamp order)
        stamped = _ORDER in src.columns
        ordc = [F.col(_ORDER)] if stamped else []
        if isinstance(column, (list, tuple)) and len(column) > 1:
            targets = list(column)
            zipped = F.arrays_zip(*[F.col(c) for c in targets])
            z = (F.posexplode_outer(zipped).alias("__epos__", "__z__")
                 if stamped else F.explode_outer(zipped).alias("__z__"))
            base = src.select(*ordc, *[F.col(c) for c in idx_cols],
                              *[F.col(c) for c in self.columns
                                if c not in targets],
                              z)
            cols = ordc + ([F.col("__epos__")] if stamped else []) + \
                   [F.col(c) for c in idx_cols] + \
                   [F.col("__z__")[c].alias(c) if c in targets else F.col(c)
                    for c in self.columns]
            out, meta = base.select(*cols), {"columns": targets}
        else:
            if isinstance(column, (list, tuple)):
                column = column[0]
            gen = (F.posexplode_outer(F.col(column)).alias("__epos__", column)
                   if stamped else F.explode_outer(F.col(column)).alias(column))
            cols = ordc + [F.col(c) for c in idx_cols] + \
                   [gen if c == column else F.col(c) for c in self.columns]
            out, meta = src.select(*cols), {"column": column}
        if stamped:
            from .functions import scan
            out = (scan.global_pos(out, [_ORDER, "__epos__"],
                                   name="__eorder__")
                   .drop(_ORDER, "__epos__")
                   .withColumnRenamed("__eorder__", _ORDER))
        targets = meta.get("columns") or [meta.get("column")]
        return self._derive(out, "explode", meta, idx_cols, idx_names,
                            dtypes=_object_entries(targets))

    # -- ordering / limits (`IX` family, SURVEY §2.7) --------------------
    def sort_values(self, by, ascending: bool | Sequence[bool] = True,
                    na_position: str = "last",
                    ignore_index: bool = False, key=None,
                    kind: str | None = None, inplace: bool = False,
                    axis: int = 0) -> "DataFrame":
        """pandas keeps the original row labels through a sort, so a
        default-positional-index frame anchors them as rowids first
        (JVM distributed-sequence attach — no shuffle, no Python).
        ``ignore_index=True`` skips the anchor and relabels 0..n-1, the
        cheaper plan when labels don't matter.  ``key=`` receives each
        sort column as an engine Series and must return one — the key
        expression sorts JVM-side (e.g. ``key=lambda s: s.str.len()``)."""
        if axis not in (0, "index"):
            raise NotImplementedError("sort_values(axis=1)")
        if kind not in (None, "quicksort", "mergesort", "heapsort",
                        "stable"):
            raise ValueError(f"invalid kind: {kind!r}")
        # `kind` is accepted for pandas signature parity and ignored: the
        # engine's sort is already deterministic (rowid anchors break ties
        # for label preservation; Spark's sort itself is not stable)
        if inplace:
            out = self.sort_values(by, ascending, na_position,
                                   ignore_index, key)
            self._rebind(out)
            return None
        by = _ensure_list(by)
        asc = ascending if isinstance(ascending, (list, tuple)) else [ascending] * len(by)
        cols, raw = [], []
        for b, a in zip(by, asc):
            cats = getattr(self._dtypes.get(b), "categories", None)
            if key is not None:
                ks = key(self[b])
                if not isinstance(ks, Series):
                    raise TypeError("sort_values(key=) must return an "
                                    "engine Series")
                c = ks._scol
            elif cats:
                # categorical columns sort by CATEGORY order (pandas) —
                # a literal CASE mapping value → code
                c = F.lit(None).cast("int")
                for i, cat in enumerate(cats):
                    c = F.when(F.col(b) == F.lit(cat), F.lit(i)) \
                         .otherwise(c)
            else:
                c = F.col(b)
            cols.append(_sort_dir(c, a, na_position))
            raw.append((c, a))
        if self._index_cols or ignore_index:
            # stamp the presentation order so positional scans after the
            # sort (cumsum, pct_change, rolling) follow the SORTED order
            # like pandas — labels alone can't carry it (r5 wave Q fix
            # for a silent-wrong-data class).  monotonically_increasing_id
            # over the RANGE-SORTED layout is order-consistent (partition
            # id majorizes the range) — zero extra pass, unlike the
            # checkpointing rowid attach.  A prior stamp becomes the tie
            # breaker (stable sort, and a DETERMINISTIC total order so the
            # new stamp is reproducible across plan branches), then the
            # withColumn replaces it.
            if _ORDER in self._sdf.columns:
                tie = _ORDER
            elif self._index_cols:
                # pandas sorts are STABLE: ties keep the current row
                # order, which an indexed frame carries in its (label)
                # index — without this, Spark's unstable sort scrambles
                # tied rows
                tie = self._index_cols[0]
            elif _LABEL in self._sdf.columns:
                tie = _LABEL
            else:
                tie = None
            tcols = [F.col(tie)] if tie else []
            sbase = self._sdf
            if ignore_index and _LABEL in sbase.columns:
                # ignore_index renumbers 0..n-1 — the stale in-scan label
                # must not resurrect as the index later (it may still
                # serve as the tie column inside this orderBy)
                sbase = sbase.drop(_LABEL) if tie != _LABEL else sbase
            sorted_sdf = sbase.orderBy(*cols, *tcols).withColumn(
                _ORDER, F.monotonically_increasing_id())
            if ignore_index and tie == _LABEL:
                sorted_sdf = sorted_sdf.drop(_LABEL)
            hint = (self._sdf, raw, na_position, tie)
            if ignore_index and self._index_cols:
                # pandas ignore_index=True RENUMBERS 0..n-1 regardless of
                # the existing index — drop the index columns (the stamp
                # carries the sorted presentation order)
                sorted_sdf = sorted_sdf.drop(*self._index_cols)
                return self._derive(sorted_sdf, "sort",
                                    {"by": by, "ascending": list(asc),
                                     "ignore_index": True}, (), (),
                                    hint=hint)
            return self._derive(sorted_sdf, "sort",
                                {"by": by, "ascending": list(asc)},
                                hint=hint)
        # pandas keeps each row's positional label through the sort
        pre = positions(self)
        if _ORDER in pre.columns:
            pre = pre.drop(_ORDER)
        # rowid tie break: ties land in ORIGINAL row order (stable), and
        # the total order is deterministic — the _ORDER stamp minted over
        # it re-evaluates identically on both sides of a stamp-keyed
        # self-join (assign after sort)
        sdf = (pre.orderBy(*cols, F.col(_ROWID))
               .withColumn(_ORDER, F.monotonically_increasing_id()))
        return self._derive(sdf, "sort", {"by": by, "ascending": list(asc)},
                            (_ROWID,), (None,),
                            hint=(pre, raw, na_position, _ROWID))

    def sort_index(self, ascending: bool | Sequence[bool] = True,
                   na_position: str = "last") -> "DataFrame":
        """pandas ``DataFrame.sort_index`` — a range-partitioned sort on
        the engine index columns (a no-op for the implicit positional
        index, which is already in order)."""
        if not self._index_cols:
            return self
        idx = list(self._index_cols)
        asc = ascending if isinstance(ascending, (list, tuple)) \
            else [ascending] * len(idx)
        cols, raw = [], []
        for b, a in zip(idx, asc):
            c = F.col(b)
            cols.append(_sort_dir(c, a, na_position))
            raw.append((c, a))
        tie = _ORDER if _ORDER in self._sdf.columns else None
        tcols = [F.col(tie)] if tie else []
        return self._derive(
            self._sdf.orderBy(*cols, *tcols).withColumn(
                _ORDER, F.monotonically_increasing_id()),
            "sort_index", {"ascending": list(asc)},
            hint=(self._sdf, raw, na_position, tie))

    def head(self, n: int = 5) -> "DataFrame":
        """Reference Head ``_expr.py:1471-1492``.  Directly after
        ``sort_values``/``sort_index`` this FUSES into a distributed TopK
        over the sort keys (``_sorted_limit``; the r5 presentation-stamp
        work accidentally forced a full sort here).  On an unsorted frame
        it is natural (file) order, like the reference's single
        partition.  Negative n (pandas: all but the last |n| rows) costs
        one count action."""
        sdf = self._sorted_limit(n)
        if sdf is not None:
            return self._derive(sdf, "head", {"n": n})
        base = self._sdf
        if _ORDER in base.columns:
            base = base.orderBy(_ORDER)
        elif tuple(self._index_cols) == (_ROWID,):
            # stored positional labels: pandas head follows label order,
            # not the (join-scrambled) arrival order
            base = base.orderBy(_ROWID)
        if n < 0:
            total = base.count()
            return self._derive(base.limit(max(total + n, 0)),
                                "head", {"n": n})
        return self._derive(base.limit(n), "head", {"n": n})

    def tail(self, n: int = 5) -> "DataFrame":
        """Reference Tail ``_expr.py:1495-1516``.  Directly after a sort
        this is a REVERSE TopK over the sort keys (flip every direction
        and NULL placement, take n, re-sort the n survivors forward) — no
        count action, no global sort.  An ordered frame (presentation
        stamp or positional rowid labels) likewise reverse-TopKs on its
        order column.  Only the natural-order fallback still needs the
        count+offset pass.  Negative n (pandas: all but the first |n|
        rows) is a pure offset — no count needed."""
        sdf = self._sorted_limit(n, tail=True)
        if sdf is not None:
            return self._derive(
                sdf, "tail", {"n": n}, self._index_cols or (_ROWID,),
                self._index_names if self._index_cols else (None,))
        base = self._sdf
        ocol = _ORDER if _ORDER in base.columns else (
            _ROWID if tuple(self._index_cols) == (_ROWID,) else None)
        lab = False
        if not self._index_cols:
            lbase = positions(self, upto="label")
            if lbase is not None:
                # pandas tail KEEPS the original positional labels — the
                # in-scan labels are both the reverse-TopK order and the
                # surviving rows' index
                base, lab, ocol = lbase, True, _ROWID
            elif (n >= 0 and _ORDER in base.columns
                    and _ROWID not in base.columns):
                # stamped frame: pandas labels are the dense stamp
                # positions N - rank_from_the_end — derived from a LAZY
                # 1-row count branch (same shape as the sort-fuse tail;
                # an eager position pass here would violate tail's
                # no-build-job contract)
                sdf = (base.orderBy(F.col(_ORDER).desc()).limit(n)
                       .orderBy(F.col(_ORDER).asc()))
                cnt = base.agg(F.count(F.lit(1)).alias("__n__"))
                w = Window.orderBy(F.col(_ORDER).desc())
                out = (sdf.crossJoin(F.broadcast(cnt))
                       .withColumn(_ROWID, (F.col("__n__")
                                            - F.row_number().over(w))
                                   .cast("long"))
                       .drop("__n__"))
                return self._derive(out, "tail", {"n": n}, (_ROWID,),
                                    (None,))
        if n < 0:
            if ocol is not None:
                base = base.orderBy(ocol)
            out = base.offset(-n)
            if lab:
                return self._derive(out, "tail", {"n": n}, (_ROWID,),
                                    (None,))
            return self._derive(out, "tail", {"n": n})
        if ocol is None:
            # natural order: monotonically_increasing_id is order-
            # consistent with (partition, position) — a lazy order stamp
            # good enough to reverse-TopK on, with no count pass and no
            # rowid histogram.  The stamp stays on the output (sparse
            # values are fine — only the ORDER matters downstream).
            base = base.withColumn(_ORDER, F.monotonically_increasing_id())
            ocol = _ORDER
        sdf = (base.orderBy(F.col(ocol).desc()).limit(n)
               .orderBy(F.col(ocol).asc()))
        if lab:
            return self._derive(sdf, "tail", {"n": n}, (_ROWID,), (None,))
        return self._derive(sdf, "tail", {"n": n})

    def limit(self, n: int) -> "DataFrame":
        return self._derive(self._sdf.limit(n), "limit", {"n": n})

    def _extreme_rows(self, n: int, cols: list[str], desc: bool,
                      op: str, keep: str = "first") -> "DataFrame":
        # pandas: NA rows sort LAST for both directions (Spark's asc
        # default is nulls-first, which put them at the top of nsmallest);
        # original row labels are kept (rowid anchor on default-index
        # frames — the plan stays TakeOrderedAndProject).  keep='first'/
        # 'last' tie-breaks on the row position; keep='all' takes the
        # boundary value from the top-n (one extra tiny agg) and keeps
        # every row at least that extreme.
        order = [F.col(c).desc_nulls_last() if desc
                 else F.col(c).asc_nulls_last() for c in cols]
        if self._index_cols:
            sdf, idx, names = (self._sdf, self._index_cols,
                               self._index_names)
            pos = F.col(self._index_cols[0])
        else:
            sdf = positions(self)
            idx, names = (_ROWID,), (None,)
            pos = F.col(_ROWID)
        if _ORDER in sdf.columns:
            # ties break at the PRESENTED order after a sort (pandas
            # keep='first' means first in the current row order)
            pos = F.col(_ORDER)
        params = {"n": n, "columns": cols, "keep": keep}
        if keep == "all":
            if len(cols) != 1:
                raise NotImplementedError(f"{op}(keep='all') supports a "
                                          "single sort column")
            c = F.col(cols[0])
            bound = (sdf.orderBy(*order).limit(n)
                     .agg((F.min(c) if desc else F.max(c)).alias("__b__")))
            cond = (c >= F.col("__b__")) if desc else (c <= F.col("__b__"))
            out = sdf.crossJoin(F.broadcast(bound)).filter(cond) \
                .drop("__b__")
            return self._derive(out, op, params, idx, names)
        if keep not in ("first", "last"):
            raise ValueError(f"keep={keep!r}")
        tie = pos.asc() if keep == "first" else pos.desc()
        out = sdf.orderBy(*order, tie).limit(n)
        if _ORDER in out.columns:
            out = out.drop(_ORDER)
        # presentation-order stamp: the TopK result is one partition in
        # sorted order, so monotonically_increasing_id IS the order —
        # no window, the TakeOrderedAndProject plan shape survives
        out = out.withColumn(_ORDER, F.monotonically_increasing_id())
        return self._derive(out, op, params, idx, names)

    def nlargest(self, n: int, columns, keep: str = "first") -> "DataFrame":
        return self._extreme_rows(n, _ensure_list(columns), True,
                                  "nlargest", keep)

    def nsmallest(self, n: int, columns, keep: str = "first") -> "DataFrame":
        return self._extreme_rows(n, _ensure_list(columns), False,
                                  "nsmallest", keep)

    # -- index management (SURVEY §1.5, §2.2 SetIndex/ResetIndex) --------
    def set_index(self, keys, drop: bool = True) -> "DataFrame":
        keys = _ensure_list(keys)
        sdf = self._sdf
        # pandas replaces the old index entirely (append=False): physical
        # columns of the PREVIOUS index that aren't data columns must go,
        # or they'd leak as data (e.g. __index_0__ from a non-trivial
        # from_pandas index)
        if (tuple(self._index_cols) == (_ROWID,)
                and _ORDER not in sdf.columns
                and _ROWID in sdf.columns and _ROWID not in keys):
            # pandas set_index KEEPS row order; an anonymous rowid index
            # (filter/dedup survivors) carries the presented order, so it
            # becomes the stamp instead of vanishing (dedup→set_index→
            # reset_index must present in arrival order)
            sdf = sdf.withColumnRenamed(_ROWID, _ORDER)
        stale = [c for c in self._index_cols
                 if c not in keys and c not in self.columns
                 and c in sdf.columns]
        if stale:
            sdf = sdf.drop(*stale)
        if _LABEL in sdf.columns:
            # valid labels ARE the presented positions — demote them to
            # the ORDER stamp: order-only information can never resurrect
            # as stale labels, and the presented order survives
            # set_index→reset_index round trips.  A stale label column
            # must not ride dormant under the new index.
            demoted = positions(self, _ORDER, upto="label")
            sdf = demoted if demoted is not None else sdf.drop(_LABEL)
        params = {"keys": keys, "drop": drop}
        if drop:
            # the key columns become the index under their own names:
            # their dtype record entries carry as they are
            return self._derive(sdf, "set_index", params, keys, keys)
        # pandas keeps the data column AND indexes by it: the INDEX side
        # gets the physical copy (named after the key via _index_names),
        # the original stays a data column
        icols = {}
        for k in keys:
            icols[k] = f"__idxcopy_{k}__"
            sdf = sdf.withColumn(icols[k], F.col(k))
        return self._derive(sdf, "set_index", params, icols.values(), keys,
                            dtypes={ic: self._dtypes.get(k)
                                    for k, ic in icols.items()})

    def reset_index(self, drop: bool = False) -> "DataFrame":
        sdf = self._sdf
        if drop:
            if positions(self, upto="label") is None:
                # pandas renumbers 0..n-1 — a STALE in-scan label must
                # not resurrect as the index once _index_cols empties.
                # (On a default-index frame whose labels are still the
                # positions, reset_index(drop=True) is a pandas no-op —
                # the label column stays valid and stays.)
                sdf = sdf.drop(_LABEL)
            if (tuple(self._index_cols) == (_ROWID,)
                    and _ORDER not in sdf.columns):
                # the rowid labels ARE the presented order (dedup/filter
                # survivors) — pandas reset_index(drop=True) relabels but
                # KEEPS row order, so the anchor becomes the stamp
                # instead of vanishing
                sdf = sdf.withColumnRenamed(_ROWID, _ORDER)
            else:
                sdf = sdf.drop(*self._index_cols)
        elif not self._index_cols:
            # pandas reset_index() on a default-index frame materializes
            # the positional labels as an "index" column
            sdf = positions(self, "index")
            stamp = [F.col(_ORDER)] if _ORDER in sdf.columns else []
            return self._derive(sdf.select(*stamp, F.col("index"),
                                           *self.columns),
                                "reset_index", {"drop": False}, (), ())
        else:
            # pandas naming for unnamed levels: single index -> "index",
            # MultiIndex levels -> "level_{i}" (r5 hunt pin).  The internal
            # unnamed-value placeholder counts as unnamed too (r8: an
            # unnamed-series value_counts index must reset to "index",
            # never surface "__v__").
            if len(self._index_cols) <= 1:
                names = [n if _scrub_name(n) is not None else "index"
                         for n in self._index_names]
            else:
                names = [n if _scrub_name(n) is not None else f"level_{i}"
                         for i, n in enumerate(self._index_names)]
            ren = {c: n for c, n in zip(self._index_cols, names) if c != n}
            if ren:
                sdf = sdf.withColumnsRenamed(ren)
            order = [ren.get(c, c) for c in self._index_cols] + self.columns
            if _ORDER in sdf.columns:
                # the presentation stamp survives the index→column move
                # (r7 hunt: dedup→set_index→reset_index presented in
                # arrival order without it); the LABEL column does NOT —
                # it may be stale under an index (resurrection guard)
                order = [_ORDER] + order
            return self._derive(sdf.select(*order), "reset_index",
                                {"drop": drop}, (), (), renames=ren)
        return self._derive(sdf, "reset_index", {"drop": drop}, (), ())

    def rename_axis(self, index=None) -> "DataFrame":
        """Reference RenameAxis ``_expr.py:1227-1237`` — metadata only."""
        names = _ensure_list(index)
        return self._derive(self._sdf, "rename_axis", {"index": names},
                            index_names=names)

    def squeeze(self, axis=None):
        """pandas ``squeeze``: a 1-column frame collapses to its Series,
        and a 1×1 frame all the way to the scalar (the row-count probe is
        the Series.squeeze 2-row limit)."""
        if len(self.columns) == 1:
            return self[self.columns[0]].squeeze()
        return self

    def equals(self, other) -> bool:
        """pandas ``DataFrame.equals``: same columns and same (multiset of)
        rows — two ``exceptAll`` emptiness probes (eager, like pandas
        returning a bool)."""
        if not isinstance(other, DataFrame):
            return False
        if self.columns != other.columns:
            return False
        sel = (list(self._index_cols) + self.columns
               if len(self._index_cols) == len(other._index_cols)
               else self.columns)
        osel = (list(other._index_cols) + other.columns
                if len(self._index_cols) == len(other._index_cols)
                else other.columns)
        a = self._sdf.select(*[F.col(c).alias(f"c{i}")
                               for i, c in enumerate(sel)])
        b = other._sdf.select(*[F.col(c).alias(f"c{i}")
                                for i, c in enumerate(osel)])
        try:
            return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        except Exception:
            return False

    def transpose(self):
        raise NotImplementedError(
            "transpose materializes rows as columns — unbounded schema "
            "width at scale.  Collect first (df.compute().T) if the frame "
            "is genuinely small.")

    @property
    def T(self):
        """pandas ``.T`` — same honest scale guard as ``transpose()``."""
        return self.transpose()

    def swapaxes(self, *args, **kwargs):
        return self.transpose()

    # ------------------------------------------------------------------
    # pandas API fill (round 3): elementwise NA/membership frames,
    # columnwise transform/combine, linear algebra, label lookups.
    # ------------------------------------------------------------------
    def _elementwise_bool(self, fn, op: str) -> "DataFrame":
        cols = [F.col(c) for c in self._index_cols] + \
               [fn(c).alias(c) for c in self.columns]
        return self._derive(self._sdf.select(*cols), op)

    def isna(self) -> "DataFrame":
        """Boolean same-shape frame; NaN counts as missing for float
        columns (pandas), one narrow projection."""
        schema = {f.name: f.dataType for f in self._sdf.schema.fields}

        def _na(c):
            e = F.col(c).isNull()
            if isinstance(schema[c], (T.DoubleType, T.FloatType)):
                e = e | F.isnan(F.col(c))
            return e

        return self._elementwise_bool(_na, "isna")

    isnull = isna

    def notna(self) -> "DataFrame":
        schema = {f.name: f.dataType for f in self._sdf.schema.fields}

        def _nn(c):
            e = F.col(c).isNotNull()
            if isinstance(schema[c], (T.DoubleType, T.FloatType)):
                e = e & ~F.isnan(F.col(c))
            return e

        return self._elementwise_bool(_nn, "notna")

    notnull = notna

    def isin(self, values) -> "DataFrame":
        """Boolean membership frame.  Lists apply to every column (values
        filtered per column type so a string column vs int values gives
        False, as pandas' hash probe does); dicts apply per column —
        missing columns are all-False."""
        schema = {f.name: f.dataType for f in self._sdf.schema.fields}

        def _compat(dt, vals):
            if is_numeric(dt):
                ok = [v for v in vals
                      if isinstance(v, (int, float)) and not isinstance(v, bool)]
            elif isinstance(dt, T.StringType):
                ok = [v for v in vals if isinstance(v, str)]
            elif isinstance(dt, T.BooleanType):
                ok = [v for v in vals if isinstance(v, bool)]
            else:
                ok = list(vals)
            return ok

        def _cell(c, vals):
            vals = list(vals)
            ok = _compat(schema[c], [v for v in vals
                                     if not _is_na_scalar(v)])
            pred = F.col(c).isin(ok) if ok else F.lit(False)
            if any(_is_na_scalar(v) for v in vals):
                # pandas: NaN in the values list matches null cells
                pred = pred | F.col(c).isNull()
            return F.coalesce(pred, F.lit(False))

        if isinstance(values, Mapping):
            cols = [F.col(c) for c in self._index_cols] + \
                   [(_cell(c, values[c]) if c in values
                     else F.lit(False)).alias(c) for c in self.columns]
        elif isinstance(values, (list, tuple, set, frozenset)):
            cols = [F.col(c) for c in self._index_cols] + \
                   [_cell(c, values).alias(c) for c in self.columns]
        else:
            raise TypeError("isin expects a list/set or dict of values")
        return self._derive(self._sdf.select(*cols), "isin")

    def transform(self, func) -> "DataFrame":
        """Same-shape columnwise transform.  String names stay JVM-side;
        a callable runs per Arrow batch via ``mapInPandas`` (it must be
        elementwise — partition boundaries are invisible to it)."""
        if isinstance(func, str):
            named = {
                "abs": F.abs, "sqrt": F.sqrt, "exp": F.exp, "log": F.log,
                "log1p": F.log1p, "floor": F.floor, "ceil": F.ceil,
            }
            if func not in named:
                raise ValueError(f"Unknown transform: {func!r}")
            cols = [F.col(c) for c in self._index_cols] + \
                   [(named[func](F.col(c)).alias(c)
                     if is_numeric(self._sdf.schema[c].dataType)
                     else F.col(c)) for c in self.columns]
            return self._derive(self._sdf.select(*cols), f"transform_{func}")
        if isinstance(func, Mapping):
            # pandas per-column spec {col: fn}: each transform is
            # same-shape, so the frame reassembles via assign (positional
            # ops align on the rowid/stamp like any assigned Series)
            out = self
            for c, fn in func.items():
                out = out.assign(**{c: self[c].transform(fn)})
            # pandas returns ONLY the dict's columns, in dict order
            return out[[*func.keys()]]
        if isinstance(func, (list, tuple)):
            raise NotImplementedError(
                "DataFrame.transform with a list produces MultiIndex "
                "columns; apply per entry instead")
        value_cols = list(self.columns)
        idx_cols = list(self._index_cols)
        schema = self._sdf.schema

        def _apply(batches):
            for pdf in batches:
                out = pdf.copy()
                for c in value_cols:
                    out[c] = func(pdf[c])
                yield out

        out = self._sdf.mapInPandas(_apply, schema)
        return self._derive(out, "transform", {"func": "<callable>"})

    def combine(self, other: "DataFrame", func, fill_value=None) -> "DataFrame":
        """pandas ``DataFrame.combine``: outer-align, then ``func(l, r)``
        per shared column.  ``func`` receives ENGINE Series (same-anchor)
        — build it from engine ops (arithmetic/comparison/where), the
        same contract as ``assign`` callables."""
        joined, lcols, rcols = align(self, other, "outer")
        base = DataFrame(joined._sdf, joined._expr, joined._index_cols,
                         joined._index_names)
        out_cols = [F.col(c) for c in joined._index_cols]
        for name in _aligned_columns(self.columns, other.columns):
            l, r = lcols.get(name), rcols.get(name)
            if l is not None and r is not None:
                lc = F.col(l) if fill_value is None else \
                    F.coalesce(F.col(l), F.lit(fill_value))
                rc = F.col(r) if fill_value is None else \
                    F.coalesce(F.col(r), F.lit(fill_value))
                ls = Series(base._sdf, lc, name, base._expr,
                            base._index_cols, base._index_names)
                rs = Series(base._sdf, rc, name, base._expr,
                            base._index_cols, base._index_names)
                res = func(ls, rs)
                if not isinstance(res, Series):
                    raise TypeError("combine func must return a Series "
                                    "built from engine ops")
                out_cols.append(res._scol.alias(name))
            else:
                out_cols.append(F.col(l if l is not None else r).alias(name))
        node = Node("combine", {}, self._expr, other._expr)
        return DataFrame(joined._sdf.select(*out_cols), node,
                         joined._index_cols, joined._index_names)

    def dot(self, other):
        """Matrix multiply.  The right operand is dimension-bounded by the
        column count, so it is collected to the driver and folded in as
        literals — the big left frame streams through one projection
        (never a shuffle)."""
        if isinstance(other, (Series, pd.Series)):
            # an eager pandas Series is already the driver-held weights
            weights = other.compute() if isinstance(other, Series) else other
            missing = [c for c in self.columns if c not in weights.index]
            if missing:
                raise ValueError(f"matrices are not aligned: {missing}")
            expr = None
            for c in self.columns:
                t = F.col(c) * F.lit(float(weights[c]))
                expr = t if expr is None else expr + t
            sdf = self._sdf.select(*[F.col(c) for c in self._index_cols],
                                   expr.alias("__dot__"))
            node = Node("dot", {}, self._expr,
                        *([other._expr] if isinstance(other, Series) else []))
            return Series(sdf, F.col("__dot__"), None, node,
                          self._index_cols, self._index_names)
        if isinstance(other, pd.DataFrame):
            w = other
            missing = [c for c in self.columns if c not in w.index]
            if missing:
                raise ValueError(f"matrices are not aligned: {missing}")
            outs = []
            for j in w.columns:
                expr = None
                for c in self.columns:
                    t = F.col(c) * F.lit(float(w.loc[c, j]))
                    expr = t if expr is None else expr + t
                outs.append(expr.alias(str(j)))
            sdf = self._sdf.select(*[F.col(c) for c in self._index_cols],
                                   *outs)
            node = Node("dot", {}, self._expr)
            return DataFrame(sdf, node, self._index_cols, self._index_names)
        if isinstance(other, DataFrame):
            w = other.compute()
            missing = [c for c in self.columns if c not in w.index]
            if missing:
                raise ValueError(f"matrices are not aligned: {missing}")
            outs = []
            for j in w.columns:
                expr = None
                for c in self.columns:
                    t = F.col(c) * F.lit(float(w.loc[c, j]))
                    expr = t if expr is None else expr + t
                outs.append(expr.alias(str(j)))
            sdf = self._sdf.select(*[F.col(c) for c in self._index_cols],
                                   *outs)
            node = Node("dot", {}, self._expr, other._expr)
            return DataFrame(sdf, node, self._index_cols, self._index_names)
        raise TypeError("dot expects a Series or DataFrame")

    def get(self, key, default=None):
        try:
            return self[key]
        except (KeyError, AttributeError):
            return default

    def xs(self, key, level=0):
        """Cross-section: filter on one index level and drop it.  On a
        single-level index a unique match returns the row as an eager
        pandas Series (column labels as index), like pandas."""
        if not self._index_cols:
            raise ValueError("xs needs an index")
        if isinstance(level, str):
            level = list(self._index_names).index(level)
        icol = self._index_cols[level]
        base = self._sdf.filter(F.col(icol) == F.lit(key))
        if len(self._index_cols) > 1:
            cols = tuple(c for c in self._index_cols if c != icol)
            names = tuple(n for c, n in
                          zip(self._index_cols, self._index_names)
                          if c != icol)
            node = Node("xs", {"key": key, "level": level}, self._expr)
            return DataFrame(base.drop(icol), node, cols, names)
        rows = base.limit(2).collect()
        if not rows:
            raise KeyError(key)
        if len(rows) == 1:
            d = rows[0].asDict()
            return pd.Series({c: d[c] for c in self.columns}, name=key)
        node = Node("xs", {"key": key}, self._expr)
        return DataFrame(base, node, self._index_cols, self._index_names)

    def first_valid_index(self):
        """First index label whose row has at least one non-null value
        (eager, like pandas) — one distributed min-by aggregate."""
        return self._valid_index(first=True)

    def last_valid_index(self):
        return self._valid_index(first=False)

    def _valid_index(self, first: bool):
        sdf, icol = ((self._sdf, self._index_cols[0]) if self._index_cols
                     else (positions(self), _ROWID))
        schema = {f.name: f.dataType for f in sdf.schema.fields}
        cond = None
        for c in self.columns:
            e = F.col(c).isNotNull()
            if isinstance(schema[c], (T.DoubleType, T.FloatType)):
                e = e & ~F.isnan(F.col(c))
            cond = e if cond is None else (cond | e)
        agg = F.min(icol) if first else F.max(icol)
        row = sdf.filter(cond).agg(agg.alias("__i__")).collect()
        return row[0][0] if row else None

    # -- construction / conversions --------------------------------------
    @classmethod
    def from_dict(cls, data, orient: str = "columns", columns=None):
        from .sources import from_pandas
        return from_pandas(pd.DataFrame.from_dict(
            data, orient=orient, columns=columns))

    @classmethod
    def from_records(cls, data, **kwargs):
        from .sources import from_pandas
        return from_pandas(pd.DataFrame.from_records(data, **kwargs))

    @property
    def values(self):
        return self.compute().values

    def to_numpy(self, dtype=None):
        out = self.compute().to_numpy()
        return out.astype(dtype) if dtype is not None else out

    def to_string(self, *args, **kwargs) -> str:
        return self.compute().to_string(*args, **kwargs)

    def to_markdown(self, *args, **kwargs) -> str:
        return self.compute().to_markdown(*args, **kwargs)

    def to_html(self, *args, **kwargs) -> str:
        return self.compute().to_html(*args, **kwargs)

    def info(self, verbose=None, buf=None, **kwargs) -> None:
        """Driver-side summary: schema + per-column non-null counts in ONE
        aggregate pass (never a full collect)."""
        import io
        import sys
        counts = self._sdf.agg(
            F.count(F.lit(1)).alias("__n__"),
            *[F.count(F.col(c)).alias(c) for c in self.columns]).collect()[0]
        out = buf if buf is not None else sys.stdout
        dts = dict(self.dtypes)
        print(f"<class '{type(self).__module__}.DataFrame'>", file=out)
        print(f"RangeIndex: {counts['__n__']} entries", file=out)
        print(f"Data columns (total {len(self.columns)} columns):", file=out)
        for i, c in enumerate(self.columns):
            print(f" {i}  {c}  {counts[c]} non-null  {dts[c]}", file=out)

    def asof(self, where, subset=None):
        """Last row without NaN (in ``subset``) at or before ``where`` —
        one filtered max-by aggregate per call; a list of ``where``
        values is one broadcast range-join + grouped max-by."""
        if not self._index_cols:
            raise ValueError("asof needs an index")
        icol = self._index_cols[0]
        cols = _ensure_list(subset) or self.columns
        cond = None
        for c in cols:
            e = F.col(c).isNotNull()
            cond = e if cond is None else (cond & e)
        base = self._sdf.filter(cond)
        struct = F.struct(*[F.col(c) for c in self.columns])
        if not isinstance(where, (list, tuple)):
            row = (base.filter(F.col(icol) <= F.lit(where))
                   .agg(F.max_by(struct, F.col(icol)).alias("__r__"))
                   .collect())
            if not row or row[0][0] is None:
                return pd.Series({c: float("nan") for c in self.columns},
                                 name=where)
            d = row[0][0].asDict()
            return pd.Series({c: d[c] for c in self.columns}, name=where)
        spark = self._sdf.sparkSession
        dtype = self._sdf.schema[icol].dataType
        wsdf = spark.createDataFrame(
            [(w,) for w in where],
            T.StructType([T.StructField("__where__", dtype)]))
        joined = base.join(F.broadcast(wsdf),
                           F.col(icol) <= F.col("__where__"), "right")
        grouped = (joined.groupBy("__where__")
                   .agg(F.max_by(struct, F.col(icol)).alias("__r__")))
        sel = [F.col("__where__")] + \
              [F.col("__r__")[c].alias(c) for c in self.columns]
        node = Node("asof", {"n": len(where)}, self._expr)
        return DataFrame(grouped.select(*sel), node, ("__where__",),
                         (self._index_names[0],))

    def reindex_like(self, other: "DataFrame") -> "DataFrame":
        """Align to ``other``'s index — a distributed left join on the
        index (no driver collect of labels, unlike ``reindex(list)``)."""
        if not self._index_cols or not other._index_cols:
            raise ValueError("reindex_like needs an index on both frames")
        if len(self._index_cols) != len(other._index_cols):
            raise ValueError("index widths differ")
        lbl = other._sdf.select(*[F.col(oc).alias(sc) for oc, sc in
                                  zip(other._index_cols, self._index_cols)])
        joined = lbl.join(self._sdf, on=list(self._index_cols), how="left")
        order = [F.col(c) for c in self._index_cols] + \
                [F.col(c) for c in self.columns]
        node = Node("reindex_like", {}, self._expr, other._expr)
        return DataFrame(joined.select(*order), node, self._index_cols,
                         self._index_names)

    def isetitem(self, loc: int, value) -> None:
        self[self.columns[loc]] = value

    def to_period(self, freq: str) -> "DataFrame":
        """Datetime index → PeriodIndex of ``freq``: the index column
        truncates to the period start, freq rides as driver metadata
        (SURVEY §1.4 period representation)."""
        from .functions.timeseries import period_start_col
        if not self._index_cols:
            raise ValueError("to_period needs a datetime index")
        icol = self._index_cols[0]
        sdf = self._sdf.withColumn(icol, period_start_col(F.col(icol), freq))
        return self._derive(sdf, "to_period", {"freq": freq},
                            dtypes={icol: D.Presented("period", freq=freq)})

    @property
    def at(self):
        return _AtIndexer(self)

    @property
    def iat(self):
        return _IatIndexer(self)

    def set_flags(self, **kwargs) -> "DataFrame":
        return self

    @property
    def axes(self) -> list:
        return [self.index, pd.Index(self.columns)]

    @property
    def attrs(self) -> dict:
        d = self.__dict__.get("_attrs")
        if d is None:
            d = {}
            self.__dict__["_attrs"] = d
        return d

    @attrs.setter
    def attrs(self, value) -> None:
        self.__dict__["_attrs"] = dict(value)

    @property
    def flags(self):
        return _Flags()

    def to_latex(self, *args, **kwargs):
        return self.compute().to_latex(*args, **kwargs)

    def to_pickle(self, path, **kwargs) -> None:
        self.compute().to_pickle(path, **kwargs)

    def to_feather(self, path, **kwargs) -> None:
        self.compute().to_feather(path, **kwargs)

    def pad(self, limit: int | None = None) -> "DataFrame":
        return self.ffill(limit)

    def backfill(self, limit: int | None = None) -> "DataFrame":
        return self.bfill(limit)

    def first(self, offset: str) -> "DataFrame":
        """Rows within ``offset`` of the first index value (one tiny min
        aggregate, then a pushdown-friendly range filter)."""
        if not self._index_cols:
            raise ValueError("first needs an index")
        icol = self._index_cols[0]
        lo = self._sdf.agg(F.min(icol).alias("m")).collect()[0]["m"]
        if lo is None:
            return self
        thr = F.lit(lo) + _freq_interval(offset, 1)
        return self._derive(self._sdf.filter(F.col(icol) < thr), "first",
                            {"offset": offset})

    def last(self, offset: str) -> "DataFrame":
        if not self._index_cols:
            raise ValueError("last needs an index")
        icol = self._index_cols[0]
        hi = self._sdf.agg(F.max(icol).alias("m")).collect()[0]["m"]
        if hi is None:
            return self
        thr = F.lit(hi) - _freq_interval(offset, 1)
        return self._derive(self._sdf.filter(F.col(icol) > thr), "last",
                            {"offset": offset})

    T = property(lambda self: self.transpose())

    def itertuples(self, index: bool = True, name: str = "Pandas"):
        """Driver-side row iteration via ``toLocalIterator`` — streams one
        partition at a time instead of collecting everything.  An
        anti-pattern in distributed pipelines; provided for pandas-parity
        escape hatches only."""
        from collections import namedtuple
        idx_cols = list(self._index_cols)
        fields = (["Index"] if index else []) + self.columns
        tup = namedtuple(name, fields, rename=True)
        if index and not idx_cols:
            # default positional index: enumerate driver-side (r5 pin —
            # the old path promised an Index field it never selected)
            for i, row in enumerate(
                    self._sdf.select(*self.columns).toLocalIterator()):
                yield tup(i, *row)
            return
        cols = (idx_cols if index else []) + self.columns
        nidx = len(idx_cols) if index else 0
        for row in self._sdf.select(*cols).toLocalIterator():
            if index:
                key = tuple(row[:nidx]) if nidx > 1 else row[0]
                yield tup(key, *row[nidx:])
            else:
                yield tup(*row)

    def iterrows(self):
        """Driver-side (index, pandas Series) iteration — same
        ``toLocalIterator`` streaming caveat as ``itertuples``."""
        idx = list(self._index_cols)
        cols = idx + self.columns
        for row in self._sdf.select(*cols).toLocalIterator():
            d = row.asDict()
            key = tuple(d.pop(c) for c in idx) if len(idx) > 1 else \
                (d.pop(idx[0]) if idx else None)
            yield key, pd.Series(d)

    # -- elementwise over all columns ------------------------------------
    def abs(self) -> "DataFrame":
        casts = {c: F.abs(F.col(c)) for c in self.columns
                 if is_numeric(self._sdf.schema[c].dataType)}
        return self._derive(self._sdf.withColumns(casts), "abs", {})

    def round(self, decimals=0) -> "DataFrame":
        # HALF_EVEN to match numpy (see Series.round).  dict decimals:
        # per-column precision, non-listed columns untouched (pandas)
        if isinstance(decimals, Mapping):
            casts = {c: F.bround(F.col(c), int(d))
                     for c, d in decimals.items()
                     if c in self.columns
                     and is_numeric(self._sdf.schema[c].dataType)}
        else:
            casts = {c: F.bround(F.col(c), decimals) for c in self.columns
                     if is_numeric(self._sdf.schema[c].dataType)}
        return self._derive(self._sdf.withColumns(casts), "round",
                            {"decimals": decimals})

    def clip(self, lower=None, upper=None) -> "DataFrame":
        casts = {}
        for c in self.columns:
            dt = self._sdf.schema[c].dataType
            if not is_numeric(dt):
                continue
            col = F.col(c)
            clipped = col
            if lower is not None:
                clipped = F.greatest(clipped, _lit(lower))
            if upper is not None:
                clipped = F.least(clipped, _lit(upper))
            # greatest/least skip nulls and rank NaN above all doubles —
            # guard so missing values stay missing (pandas)
            guard = col.isNull()
            if isinstance(dt, (T.DoubleType, T.FloatType)):
                guard = guard | F.isnan(col)
            casts[c] = F.when(guard, col).otherwise(clipped)
        return self._derive(self._sdf.withColumns(casts), "clip",
                            {"lower": lower, "upper": upper})

    def add_prefix(self, prefix: str) -> "DataFrame":
        return self.rename(columns={c: f"{prefix}{c}" for c in self.columns})

    def add_suffix(self, suffix: str) -> "DataFrame":
        return self.rename(columns={c: f"{c}{suffix}" for c in self.columns})

    def filter(self, items=None, like: str | None = None,
               regex: str | None = None, axis: int = 1) -> "DataFrame":
        """pandas ``DataFrame.filter``: select columns by exact list,
        substring, or regex — pure metadata (column pruning reaches the
        scan)."""
        if axis not in (1, "columns"):
            raise NotImplementedError("filter(axis=0) needs row labels; "
                                      "use boolean masks instead")
        if sum(x is not None for x in (items, like, regex)) != 1:
            raise TypeError("pass exactly one of items, like, regex")
        if items is not None:
            keep = [c for c in items if c in self.columns]
        elif like is not None:
            keep = [c for c in self.columns if like in c]
        else:
            import re as _re
            pat = _re.compile(regex)
            keep = [c for c in self.columns if pat.search(c)]
        return self[keep]

    def truncate(self, before=None, after=None) -> "DataFrame":
        """pandas ``truncate``: keep index within [before, after] — a pair
        of pushdown-friendly range predicates on the index column."""
        if not self._index_cols:
            raise ValueError("truncate needs an index — set_index first")
        c = F.col(self._index_cols[0])
        sdf = self._sdf
        if before is not None:
            sdf = sdf.filter(c >= F.lit(before))
        if after is not None:
            sdf = sdf.filter(c <= F.lit(after))
        return self._derive(sdf, "truncate",
                            {"before": before, "after": after})

    def between_time(self, start_time: str, end_time: str,
                     inclusive: str = "both") -> "DataFrame":
        """pandas ``between_time`` on a datetime index: time-of-day range
        filter.  ``HH:mm:ss`` strings compare lexicographically, so the
        whole predicate is one JVM ``date_format`` + string compares —
        wraps midnight when start > end, exactly like pandas."""
        if not self._index_cols:
            raise ValueError("between_time needs a datetime index")
        tod = F.date_format(F.col(self._index_cols[0]), "HH:mm:ss.SSS")
        s, e = _normalize_tod(start_time), _normalize_tod(end_time)
        lo = tod >= s if inclusive in ("both", "left") else tod > s
        hi = tod <= e if inclusive in ("both", "right") else tod < e
        cond = (lo & hi) if s <= e else (lo | hi)
        return self._derive(self._sdf.filter(cond), "between_time",
                            {"start": start_time, "end": end_time})

    def at_time(self, time: str) -> "DataFrame":
        """pandas ``at_time``: rows whose index time-of-day equals ``time``."""
        if not self._index_cols:
            raise ValueError("at_time needs a datetime index")
        tod = F.date_format(F.col(self._index_cols[0]), "HH:mm:ss.SSS")
        return self._derive(self._sdf.filter(tod == _normalize_tod(time)),
                            "at_time", {"time": time})

    def swaplevel(self, i: int = -2, j: int = -1) -> "DataFrame":
        """Swap two index levels — pure metadata."""
        cols, names = list(self._index_cols), list(self._index_names)
        cols[i], cols[j] = cols[j], cols[i]
        names[i], names[j] = names[j], names[i]
        return self._derive(self._sdf, "swaplevel", {"i": i, "j": j},
                            index_cols=cols, index_names=names)

    def reorder_levels(self, order) -> "DataFrame":
        """Rearrange index levels by position or name — pure metadata."""
        idx = [self._index_names.index(o) if isinstance(o, str) else o
               for o in order]
        cols = [self._index_cols[i] for i in idx]
        names = [self._index_names[i] for i in idx]
        return self._derive(self._sdf, "reorder_levels", {"order": order},
                            index_cols=cols, index_names=names)

    def droplevel(self, level) -> "DataFrame":
        """Remove index level(s) — drops the backing column(s)."""
        levels = [level] if not isinstance(level, (list, tuple)) else level
        idx = [self._index_names.index(v) if isinstance(v, str) else v
               for v in levels]
        idx = [i % len(self._index_cols) for i in idx]
        drop = [self._index_cols[i] for i in idx]
        cols = [c for k, c in enumerate(self._index_cols) if k not in idx]
        names = [n for k, n in enumerate(self._index_names) if k not in idx]
        if not cols:
            raise ValueError("cannot drop all index levels")
        return self._derive(self._sdf.drop(*drop), "droplevel",
                            {"level": level}, index_cols=cols,
                            index_names=names)

    def set_axis(self, labels, axis: int = 1) -> "DataFrame":
        """pandas ``set_axis``: axis=1 replaces column names positionally;
        axis=0 relabels rows — the driver-held label list joins in by
        distributed global position (one ranged pass + a broadcast join
        on the tiny (pos, label) frame) and becomes the new index.
        Row relabeling is inherently a driver-list-sized operation —
        pandas users call it on frames whose labels fit in memory."""
        if axis in (0, "index"):
            labels = list(labels)
            from .functions.scan import global_pos
            if self._index_cols:
                sdf, order = self._sdf, list(self._index_cols)
            else:
                sdf, order = positions(self), [_ROWID]
            n = sdf.count()
            if len(labels) != n:
                raise ValueError(f"expected {n} labels, got {len(labels)}")
            pos = global_pos(sdf, order, "__pos__")
            spark = self._sdf.sparkSession
            lbl = spark.createDataFrame(
                [(i, l) for i, l in enumerate(labels)],
                ["__pos__", "__sa_idx__"])
            out = (pos.join(F.broadcast(lbl), "__pos__")
                   .drop("__pos__", *[c for c in order
                                      if c not in self.columns]))
            node = Node("set_axis", {"axis": 0, "n": n}, self._expr)
            return DataFrame(out, node, ("__sa_idx__",), (None,))
        if axis not in (1, "columns"):
            raise NotImplementedError(f"set_axis: unknown axis {axis!r}")
        labels = list(labels)
        if len(labels) != len(self.columns):
            raise ValueError(f"expected {len(self.columns)} labels, "
                             f"got {len(labels)}")
        return self.rename(columns=dict(zip(self.columns, labels)))

    def value_counts(self, subset: Sequence[str] | None = None,
                     sort: bool = True, ascending: bool = False,
                     normalize: bool = False,
                     dropna: bool = True) -> Series:
        """pandas ``DataFrame.value_counts``: row-combination frequencies —
        one hash-shuffle groupBy over the subset columns."""
        subset = _ensure_list(subset) or self.columns
        # first-appearance tie order, same contract as Series.value_counts
        # (r8): position anchor is free on labeled/stamped frames
        if _ORDER in self._sdf.columns:
            sdf, ordc = self._sdf, [_ORDER]
        elif self._index_cols:
            sdf, ordc = self._sdf, list(self._index_cols)
        else:
            sdf, ordc = positions(self), [_ROWID]
        if dropna:
            for c in subset:
                sdf = sdf.filter(F.col(c).isNotNull())
        first = (F.min(F.col(ordc[0])) if len(ordc) == 1
                 else F.min(F.struct(*[F.col(c) for c in ordc])))
        out = sdf.groupBy(*subset).agg(F.count(F.lit(1)).alias("count"),
                                       first.alias("__vc_first__"))
        val = "count"
        if normalize:
            out = out.withColumn(
                "proportion",
                F.col("count") / F.sum("count").over(Window.partitionBy()))
            out = out.drop("count")
            val = "proportion"
        if sort:
            out = out.orderBy(F.col(val).asc() if ascending
                              else F.col(val).desc(),
                              F.col("__vc_first__").asc())
        else:
            out = out.orderBy(F.col("__vc_first__").asc())
        out = out.drop("__vc_first__")
        node = Node("frame_value_counts", {"subset": subset}, self._expr)
        return Series(out, F.col(val), val, node, tuple(subset),
                      tuple(subset))

    def items(self):
        """Iterate (name, Series) pairs — lazy Series per column."""
        for c in self.columns:
            yield c, self[c]

    def keys(self):
        return self.columns

    def to_dict(self, orient: str = "dict"):
        """Eager: materialize via Arrow then delegate to pandas."""
        return self.compute().to_dict(orient=orient)

    def to_records(self, index: bool = True):
        return self.compute().to_records(index=index)

    def infer_objects(self) -> "DataFrame":
        """No-op: Spark schemas are always concrete (pandas parity shim)."""
        return self

    def convert_dtypes(self) -> "DataFrame":
        """No-op: Spark columns are already nullable typed columns."""
        return self

    def pivot(self, *, columns: str, index: str | None = None,
              values=None, pivot_values: Sequence | None = None) -> "DataFrame":
        """pandas ``DataFrame.pivot`` (no aggregation): one
        ``groupBy(index).pivot(columns)`` pass taking the single value per
        cell; raises like pandas if any (index, columns) pair is
        duplicated (one extra count-check aggregation — skip it at scale
        by pre-deduping).  Pass ``pivot_values`` to pin the output columns
        and avoid Spark's distinct-discovery scan."""
        if index is None:
            if not self._index_cols:
                raise ValueError("pivot needs index= or an engine index")
            idx_cols = list(self._index_cols)
        else:
            idx_cols = [index]
        vals = ([values] if isinstance(values, str) else
                list(values) if values is not None else
                [c for c in self.columns if c not in idx_cols + [columns]])
        dup = (self._sdf.groupBy(*idx_cols, columns)
               .agg(F.count(F.lit(1)).alias("__n__"))
               .filter(F.col("__n__") > 1).limit(1).count())
        if dup:
            raise ValueError(
                "Index contains duplicate entries, cannot reshape")
        g = self._sdf.groupBy(*idx_cols)
        p = g.pivot(columns, list(pivot_values)) if pivot_values is not None \
            else g.pivot(columns)
        out = p.agg(*[F.first(v).alias(v) for v in vals])
        if len(vals) == 1:
            # single value column: pandas names output columns by the
            # pivot values alone — Spark does too
            pass
        # pandas presents the pivoted table with a SORTED row index
        return DataFrame(out.orderBy(*idx_cols),
                         Node("pivot", {"columns": columns}, self._expr),
                         tuple(idx_cols), tuple(idx_cols))

    def compare(self, other: "DataFrame") -> "DataFrame":
        """pandas ``DataFrame.compare``: rows where any shared column
        differs, emitted as ``col_self`` / ``col_other`` pairs (pandas'
        MultiIndex columns flattened).  The frames inner-align on their
        labels (``_order.align``); null-safe inequality matches pandas
        NaN-equals-NaN semantics."""
        j, lmap, rmap = align(self, other, "inner")
        shared = [c for c in self.columns if c in other.columns]
        neq = [~F.col(lmap[c]).eqNullSafe(F.col(rmap[c])) for c in shared]
        any_diff = neq[0]
        for n in neq[1:]:
            any_diff = any_diff | n
        sel = [F.col(c) for c in j._index_cols]
        for c, n in zip(shared, neq):
            sel.append(F.when(n, F.col(lmap[c])).alias(f"{c}_self"))
            sel.append(F.when(n, F.col(rmap[c])).alias(f"{c}_other"))
        out = j._sdf.filter(any_diff).select(*sel)
        return DataFrame(out, Node("compare", {}, self._expr),
                         j._index_cols, j._index_names)

    # -- positional family over all numeric columns: ONE distributed
    # segment scan for the whole frame (functions/scan.py) ---------------
    def _frame_cumop_axis1(self, op: str, skipna: bool = True) -> "DataFrame":
        """Row-wise cumulative op ACROSS columns — a pure projection (no
        scan/shuffle): column i's cell folds columns 0..i."""
        num = [c for c in self.columns
               if is_numeric(self._sdf.schema[c].dataType)]
        updates = {}
        null_seen = F.lit(False)
        for i, c in enumerate(num):
            prior = [F.col(x) for x in num[: i + 1]]
            if skipna:
                # nulls don't participate (identity element) — but the
                # cell itself stays null when ITS value is null
                if op == "sum":
                    acc = prior[0] if i == 0 else sum(
                        (F.coalesce(p, F.lit(0)) for p in prior[1:]),
                        F.coalesce(prior[0], F.lit(0)))
                elif op == "prod":
                    acc = prior[0]
                    if i > 0:
                        acc = F.coalesce(prior[0], F.lit(1))
                        for p in prior[1:]:
                            acc = acc * F.coalesce(p, F.lit(1))
                elif op == "max":
                    acc = prior[0] if i == 0 else F.greatest(*prior)
                else:
                    acc = prior[0] if i == 0 else F.least(*prior)
                updates[c] = F.when(F.col(c).isNull(), F.lit(None)) \
                    .otherwise(acc)
            else:
                # pandas skipna=False: the first null poisons every later
                # column (greatest/least skip nulls, so an explicit
                # null-seen mask is required for max/min)
                if op == "sum":
                    acc = prior[0]
                    for p in prior[1:]:
                        acc = acc + p
                elif op == "prod":
                    acc = prior[0]
                    for p in prior[1:]:
                        acc = acc * p
                elif op == "max":
                    acc = prior[0] if i == 0 else F.greatest(*prior)
                else:
                    acc = prior[0] if i == 0 else F.least(*prior)
                null_seen = null_seen | F.col(c).isNull()
                updates[c] = F.when(null_seen, F.lit(None)).otherwise(acc)
        return self._derive(self._sdf.withColumns(updates),
                            f"cum{op}_axis1", {})

    def _frame_cumop(self, op: str, skipna: bool = True) -> "DataFrame":
        from .functions import scan
        if op in ("sum", "prod"):
            # pandas casts bool to int; a string cumsum concatenates
            types = self._require_types(
                f"cum{op}",
                lambda dt: is_numeric(dt) or isinstance(dt, T.BooleanType),
                T.StringType if op == "sum" else ())
        else:
            types = self._require_types(
                f"cum{op}", lambda dt: is_numeric(dt) or isinstance(
                    dt, (T.BooleanType, T.StringType, T.DateType,
                         T.TimestampType, T.TimestampNTZType)))
        sdf, order, idx, names = _positional_order(self)
        num = list(types)
        casts = {c: F.col(c).cast("long") for c, dt in types.items()
                 if op in ("sum", "prod") and isinstance(dt, T.BooleanType)}
        if casts:
            sdf = sdf.withColumns(casts)
        specs = [(c, op, c) for c in num]
        flags = {}
        if not skipna:
            # one extra cummax-over-null-flag spec per column, same pass
            for c in num:
                fl = f"__nullseen_{c}__"
                flags[c] = fl
                sdf = sdf.withColumn(
                    fl, F.when(F.col(c).isNull(), F.lit(1)).otherwise(F.lit(0)))
                specs.append((fl, "max", fl))
        out = scan.prefix_scan(sdf, specs, order)
        for c, fl in flags.items():
            out = out.withColumn(c, F.when(F.col(fl) == 1, F.lit(None))
                                 .otherwise(F.col(c)))
        if flags:
            out = out.drop(*flags.values())
        node = Node(f"cum{op}", {"columns": num, "skipna": skipna}, self._expr)
        return DataFrame(out, node, idx, names)

    def idxmin(self, skipna: bool = True, axis: int = 0) -> "Series":
        """Per-column index label of the minimum — ONE aggregation pass for
        the whole frame (``min_by`` over (value, index) structs; value ties
        break to the smallest label like ``Series.idxmin``), then an
        ``unpivot`` of the 1-row result into a column-indexed Series.
        ``axis=1``: per-ROW column name of the extreme — a narrow JVM
        array reduction, no shuffle."""
        if axis in (1, "columns"):
            return self._row_idx_extreme(largest=False)
        return self._frame_idx_extreme("idxmin")

    def idxmax(self, skipna: bool = True, axis: int = 0) -> "Series":
        if axis in (1, "columns"):
            return self._row_idx_extreme(largest=True)
        return self._frame_idx_extreme("idxmax")

    def _row_idx_extreme(self, largest: bool) -> "Series":
        """Row-wise idxmax/idxmin: (value, position) structs reduced with
        array_max/array_min; ties take the FIRST column (pandas), hence the
        negated position under max.  All-null rows yield null."""
        cols = [c for c in self.columns
                if is_numeric(self._sdf.schema[c].dataType)]
        if largest:
            arr = F.array(*[F.struct(F.col(c).cast("double").alias("v"),
                                     F.lit(-i).alias("p"))
                            for i, c in enumerate(cols)])
        else:
            arr = F.array(*[F.struct(F.col(c).cast("double").alias("v"),
                                     F.lit(i).alias("p"))
                            for i, c in enumerate(cols)])
        ok = F.filter(arr, lambda x: x["v"].isNotNull() & ~F.isnan(x["v"]))
        best = F.array_max(ok) if largest else F.array_min(ok)
        pos = (-best["p"] if largest else best["p"]).cast("int")
        names = F.array(*[F.lit(c) for c in cols])
        out = F.when(F.size(ok) > 0, F.element_at(names, pos + 1))
        node = Node("idx_extreme_axis1", {"largest": largest}, self._expr)
        return Series(self._sdf, out, None, node,
                      self._index_cols, self._index_names)

    def _frame_idx_extreme(self, op: str) -> "Series":
        from pyspark.sql import types as T
        if self._index_cols:
            sdf, idx = self._sdf, F.col(self._index_cols[0])
            iname = self._index_names[0] if self._index_names else None
        else:
            sdf, idx = positions(self), F.col(_ROWID)
            iname = None
        aggs = []
        for c in self.columns:
            col, dt = F.col(c), self._sdf.schema[c].dataType
            valid = col.isNotNull()
            if isinstance(dt, (T.DoubleType, T.FloatType)):
                valid = valid & ~F.isnan(col)
            if op == "idxmin":
                key = F.when(valid, F.struct(col.alias("__v__"),
                                             idx.alias("__i__")))
                aggs.append(F.min_by(idx, key).alias(c))
            elif is_numeric(dt):
                key = F.when(valid, F.struct((-col.cast("double"))
                                             .alias("__v__"),
                                             idx.alias("__i__")))
                aggs.append(F.min_by(idx, key).alias(c))
            else:
                # non-numeric: max_by on the bare value — ties resolve to
                # an arbitrary label (documented divergence; negation has
                # no analogue for strings)
                aggs.append(F.max_by(idx, F.when(valid, col)).alias(c))
        row = sdf.agg(*aggs)
        out = row.unpivot([], list(self.columns), "__col__", "__val__")
        node = Node(op, {"columns": list(self.columns)}, self._expr)
        return Series(out, F.col("__val__"), None, node,
                      ("__col__",), (None,))

    def rolling(self, window: int | str, min_periods: int | None = None,
                center: bool = False, on: str | None = None,
                closed: str | None = None):
        """pandas ``DataFrame.rolling``: all numeric columns share ONE
        distributed prefix scan + ONE position join (sum/mean/count/
        var/std); min/max run the van Herk block pass per column.
        ``closed=`` follows pandas.  ``on=`` excludes that column from
        aggregation and keeps it in the output; for an offset window it
        is the window axis.  A string window (``"3D"``) is
        a TIME-offset window over the datetime index — block-bucketed
        self-join (``_FrameTimeRolling``), never a global window."""
        if isinstance(window, str):
            base = self.set_index(on) if on is not None else self
            return _FrameTimeRolling(base, window, min_periods,
                                     closed or "right")
        return _FrameRolling(self, window, min_periods, center, on, closed)

    def interpolate(self, method: str = "linear",
                    limit: int | None = None,
                    limit_direction: str | None = None) -> "DataFrame":
        """pandas ``interpolate`` over the global order: every numeric
        column shares ONE position pass and ONE pair of sentinel-encoded
        nearest-non-null-neighbor scans (multi-spec ``prefix_scan``; the
        backward one runs forward over the negated position); only the
        neighbor-value fetches (two position equi-joins per column) are
        per-column.  No global window anywhere.

        ``linear``: prev + (next-prev)·(pos-pp)/(np-pp); which edge runs
        fill is ``limit_direction``'s call (pandas ``'forward'`` default:
        trailing nulls take the last valid value, leading nulls stay
        null).  ``pad``/``ffill``: previous valid value.  ``limit`` caps
        the fill distance from the anchoring valid row."""
        if method not in ("linear", "pad", "ffill"):
            raise ValueError(f"interpolate: method {method!r} not supported "
                             "(linear/pad/ffill)")
        direction = limit_direction or "forward"
        if direction not in ("forward", "backward", "both"):
            raise ValueError(f"interpolate: limit_direction "
                             f"{limit_direction!r} not supported")
        if direction == "both" and limit is not None:
            raise NotImplementedError(
                "interpolate: limit with limit_direction='both' is not "
                "supported (per-gap two-sided fill caps)")
        from .functions import scan
        SENT = -(1 << 62)
        sdf, order, idx, names = _positional_order(self)
        num = [c for c in self.columns
               if is_numeric(self._sdf.schema[c].dataType)]
        pos = scan.global_pos(sdf, order)
        base = pos.withColumn("__negpos__", -F.col("__pos__"))
        fwd_specs, bwd_specs = [], []
        for c in num:
            v = F.col(c)
            base = (base
                    .withColumn(f"__pv_{c}__",
                                F.when(v.isNotNull(), F.col("__pos__"))
                                .otherwise(F.lit(SENT)))
                    .withColumn(f"__nv_{c}__",
                                F.when(v.isNotNull(), -F.col("__pos__"))
                                .otherwise(F.lit(SENT))))
            fwd_specs.append((f"__pv_{c}__", "max", f"__ppr_{c}__"))
            bwd_specs.append((f"__nv_{c}__", "max", f"__npr_{c}__"))
        s1 = scan.prefix_scan(base, fwd_specs, ["__pos__"])
        s2 = scan.prefix_scan(s1, bwd_specs, ["__negpos__"])
        j = s2
        filled = {}
        for c in num:
            v = F.col(c)
            pp_c, np_c = f"__pp_{c}__", f"__np_{c}__"
            j = (j.withColumn(pp_c, F.when(F.col(f"__ppr_{c}__") != SENT,
                                           F.col(f"__ppr_{c}__")))
                 .withColumn(np_c, F.when(F.col(f"__npr_{c}__") != SENT,
                                          -F.col(f"__npr_{c}__"))))
            vals = (s2.filter(v.isNotNull())
                    .select(F.col("__pos__").alias(pp_c),
                            v.cast("double").alias(f"__prev_{c}__")))
            nvals = (s2.filter(v.isNotNull())
                     .select(F.col("__pos__").alias(np_c),
                             v.cast("double").alias(f"__next_{c}__")))
            j = j.join(vals, pp_c, "left").join(nvals, np_c, "left")
            p = F.col("__pos__")
            pp, np_ = F.col(pp_c), F.col(np_c)
            prev, nxt = F.col(f"__prev_{c}__"), F.col(f"__next_{c}__")
            if method == "linear":
                # interior gaps always interpolate; the direction picks
                # which EDGE runs fill
                interp = prev + (nxt - prev) * (p - pp) / (np_ - pp)
                f_ = (F.when(np_.isNotNull(), interp).otherwise(prev)
                      if direction == "forward" else
                      F.when(pp.isNotNull(), interp).otherwise(nxt)
                      if direction == "backward" else
                      F.when(pp.isNull(), nxt).when(np_.isNull(), prev)
                      .otherwise(interp))
            else:
                f_ = (prev if direction == "forward" else
                      nxt if direction == "backward" else
                      F.coalesce(prev, nxt))
            if limit is not None:
                dist = (p - pp) if direction == "forward" else (np_ - p)
                f_ = F.when(dist <= F.lit(limit), f_)
            anchor = (pp if direction == "forward" else
                      np_ if direction == "backward" else
                      F.coalesce(pp, np_))
            filled[c] = F.when(v.isNotNull(), v.cast("double")).otherwise(
                F.when(anchor.isNotNull(), f_))
        out = j.withColumns(filled).select(
            *[F.col(c) for c in idx], *_order_cols(j),
            *[F.col(c) for c in self.columns])
        return DataFrame(out, Node("frame_interpolate", {"method": method},
                                   self._expr), idx, names)

    def expanding(self, min_periods: int = 1):
        """pandas ``DataFrame.expanding``: all numeric columns in ONE
        shared prefix scan — no join, the prefix IS the answer."""
        return _FrameExpanding(self, min_periods)

    def ewm(self, com: float | None = None, span: float | None = None,
            halflife: float | None = None, alpha: float | None = None,
            adjust: bool = True, ignore_na: bool = False):
        """pandas ``DataFrame.ewm(...)`` chain (``.mean()``): every
        numeric column through ONE shared ranged pass — the per-partition
        recurrence carries per-column (num, den) state in the same Arrow
        stream (``timeseries.ewm_global``)."""
        return _FrameEwm(self, _ewm_alpha(com, span, halflife, alpha),
                         adjust, ignore_na)

    def ffill(self, limit: int | None = None) -> "DataFrame":
        """pandas ``DataFrame.ffill`` — every column forward-filled in the
        global index order in ONE distributed ``last_scan`` pass (one range
        shuffle for the whole frame, no global window)."""
        return self._frame_fill(False, limit)

    def bfill(self, limit: int | None = None) -> "DataFrame":
        return self._frame_fill(True, limit)

    def _frame_fill(self, descending: bool,
                    limit: int | None = None) -> "DataFrame":
        from .functions import scan
        sdf, order, idx, names = _positional_order(self)
        out = scan.last_scan(sdf, list(self.columns), order,
                             descending=[descending] * len(order),
                             limit=limit)
        node = Node("bfill" if descending else "ffill",
                    {"columns": list(self.columns)}, self._expr)
        return DataFrame(out, node, idx, names)

    def cumsum(self, axis: int = 0, skipna: bool = True):
        return (self._frame_cumop_axis1("sum", skipna)
                if axis in (1, "columns") else self._frame_cumop("sum", skipna))

    def cumprod(self, axis: int = 0, skipna: bool = True):
        return (self._frame_cumop_axis1("prod", skipna)
                if axis in (1, "columns") else self._frame_cumop("prod", skipna))

    def cummax(self, axis: int = 0, skipna: bool = True):
        return (self._frame_cumop_axis1("max", skipna)
                if axis in (1, "columns") else self._frame_cumop("max", skipna))

    def cummin(self, axis: int = 0, skipna: bool = True):
        return (self._frame_cumop_axis1("min", skipna)
                if axis in (1, "columns") else self._frame_cumop("min", skipna))

    # -- reductions over all columns (reference §2.5) --------------------
    def _columnwise(self, fn: Callable[[Column], Column], op: str,
                    numeric_only: bool = True,
                    out_type: str | None = "double") -> Series:
        fields = [f for f in self._sdf.schema.fields if f.name in self.columns]
        if numeric_only:
            fields = [f for f in fields if is_numeric(f.dataType)]
        aggs = [fn(F.col(f.name)).alias(f.name) for f in fields]
        one_row = self._sdf.agg(*aggs)
        if out_type is None:
            # infer the unpivot type from the aggregated row's schema the
            # way pandas types the result Series: all-int columns stay
            # int64 (sum/min/max/prod of an int frame is int64 in pandas,
            # not float64), mixed numeric promotes to float64, and
            # uniform non-numeric types (string min, timestamp max) keep
            # their own type instead of a lossy double cast
            kinds = {type(f.dataType) for f in one_row.schema.fields}
            if kinds and kinds <= {T.ByteType, T.ShortType, T.IntegerType,
                                   T.LongType}:
                out_type = "long"
            elif kinds == {T.BooleanType}:
                out_type = "boolean"
            elif kinds == {T.StringType}:
                out_type = "string"
            elif kinds == {T.TimestampType}:
                out_type = "timestamp"
            elif not all(is_numeric(f.dataType)
                         for f in one_row.schema.fields):
                # mixed string/numeric (pandas: object Series) — one Spark
                # column must hold both, so values ride as strings; this
                # replaces the previous behavior (a CAST_INVALID_INPUT
                # crash on e.g. min() over a string+int frame)
                out_type = "string"
            else:
                out_type = "double"
        # unpivot to (column, value) long form → pandas Series on compute
        names = [f.name for f in fields]
        stack_expr = ", ".join(f"'{n}', cast(`{n}` as {out_type})"
                               for n in names)
        long = one_row.selectExpr(
            f"stack({len(names)}, {stack_expr}) as (__col__, __val__)")
        node = Node(op, {"axis": 0}, self._expr)
        return Series(long, F.col("__val__"), None, node, ("__col__",), (None,))

    def agg(self, spec):
        """pandas ``DataFrame.agg`` (whole-frame, no grouping).

        ``"sum"`` / ``{"col": "fn"}`` → Series indexed by column;
        ``["fn1", "fn2"]`` → DataFrame indexed by function name.  All forms
        are ONE distributed aggregate pass (a single 1-row ``sdf.agg``)
        followed by a driver-free ``stack`` reshape — never one job per
        entry."""
        from .operators.groupby import _AGG_FNS

        def _fn(name: str):
            fn = _AGG_FNS.get(name)
            if fn is None:
                raise ValueError(f"Unknown aggregation: {name!r}")
            return fn

        if isinstance(spec, str):
            any_dtype = spec in {"min", "max", "count", "first", "last"}
            return self._columnwise(_fn(spec), f"agg_{spec}",
                                    numeric_only=not any_dtype,
                                    out_type=None)
        if isinstance(spec, Mapping):
            if any(not isinstance(v, str) for v in spec.values()):
                raise NotImplementedError(
                    "DataFrame.agg: dict values must be single function "
                    "names; use groupby().agg for per-column lists")
            one_row = self._sdf.agg(*[_fn(f)(F.col(c)).alias(c)
                                      for c, f in spec.items()])
            names = list(spec)
            stack_expr = ", ".join(f"'{n}', cast(`{n}` as double)"
                                   for n in names)
            long = one_row.selectExpr(
                f"stack({len(names)}, {stack_expr}) as (__col__, __val__)")
            node = Node("agg", {"spec": dict(spec)}, self._expr)
            return Series(long, F.col("__val__"), None, node,
                          ("__col__",), (None,))
        if isinstance(spec, (list, tuple)):
            cols = [f.name for f in self._sdf.schema.fields
                    if f.name in self.columns and is_numeric(f.dataType)]
            aggs = [_fn(fn)(F.col(c)).cast("double").alias(f"{fn}__{c}")
                    for fn in spec for c in cols]
            one_row = self._sdf.agg(*aggs)
            structs = ", ".join(
                "'{fn}', struct({fields})".format(
                    fn=fn, fields=", ".join(
                        f"`{fn}__{c}` as `{c}`" for c in cols))
                for fn in spec)
            long = one_row.selectExpr(
                f"stack({len(spec)}, {structs}) as (__fn__, __s__)")
            out = long.select(F.col("__fn__"), *[
                F.col(f"__s__.{c}").alias(c) for c in cols])
            node = Node("agg", {"spec": list(spec)}, self._expr)
            return DataFrame(out, node, ("__fn__",), (None,))
        raise TypeError(f"Unsupported agg spec: {spec!r}")

    aggregate = agg

    def _row_reduce(self, op: str, skipna: bool = True,
                    min_count: int = 0) -> Series:
        """Row-wise (axis=1) reduction across numeric columns with pandas
        skipna semantics — a JVM array filter + aggregate, narrow map.
        ``skipna=False``: any null/NaN in the row poisons the result."""
        cols = [f.name for f in self._sdf.schema.fields
                if f.name in self.columns and is_numeric(f.dataType)]
        arr = F.array(*[F.col(c).cast("double") for c in cols])
        ok = F.filter(arr, lambda x: x.isNotNull() & ~F.isnan(x))
        n = F.size(ok)
        total = F.aggregate(ok, F.lit(0.0), lambda a, x: a + x)
        if op == "sum":
            out = total                           # pandas: empty row -> 0.0
        elif op == "mean":
            out = F.when(n > 0, total / n)        # all-NaN row -> NaN
        elif op == "min":
            out = F.array_min(ok)
        elif op == "max":
            out = F.array_max(ok)
        else:
            raise ValueError(op)
        if not skipna:
            out = F.when(n == F.lit(len(cols)), out)
        if min_count:
            # pandas min_count: fewer valid values than required -> NaN
            out = F.when(n >= F.lit(int(min_count)), out)
        node = Node(f"{op}_axis1", {"skipna": skipna}, self._expr)
        return Series(self._sdf, out, None, node,
                      self._index_cols, self._index_names)

    def sum(self, numeric_only: bool = True, axis: int = 0,
            skipna: bool = True, min_count: int = 0):
        if axis in (1, "columns"):
            return self._row_reduce("sum", skipna, min_count=min_count)
        if min_count:
            return self._columnwise(
                lambda c: F.when(F.count(c) >= F.lit(int(min_count)),
                                 F.sum(c)),
                "sum", numeric_only, out_type=None)
        return self._columnwise(F.sum, "sum", numeric_only, out_type=None)

    def mean(self, numeric_only: bool = True, axis: int = 0,
             skipna: bool = True):
        if axis in (1, "columns"):
            return self._row_reduce("mean", skipna)
        return self._columnwise(F.avg, "mean", numeric_only)

    def min(self, numeric_only: bool = True, axis: int = 0,
            skipna: bool = True):
        if axis in (1, "columns"):
            return self._row_reduce("min", skipna)
        return self._columnwise(F.min, "min", numeric_only, out_type=None)

    def max(self, numeric_only: bool = True, axis: int = 0,
            skipna: bool = True):
        if axis in (1, "columns"):
            return self._row_reduce("max", skipna)
        return self._columnwise(F.max, "max", numeric_only, out_type=None)

    def count(self, numeric_only: bool = False, axis: int = 0):
        if axis in (1, "columns"):
            # row-wise non-null count over ALL columns (pandas) — sum of
            # isNotNull flags, narrow map
            out = None
            for c in self.columns:
                t = F.col(c).isNotNull().cast("long")
                out = t if out is None else out + t
            node = Node("count_axis1", {}, self._expr)
            return Series(self._sdf, out, None, node,
                          self._index_cols, self._index_names)
        # pandas count() is int64-valued
        return self._columnwise(F.count, "count", numeric_only,
                                out_type="long")

    def nunique(self, dropna: bool = True, axis: int = 0):
        """pandas ``DataFrame.nunique``: distinct non-null count per
        column, int64-valued — one aggregation pass.  ``axis=1`` is the
        row-wise distinct count: a pure array projection (no shuffle) —
        values compare as doubles when every column is numeric (pandas
        treats 3 == 3.0 across int/float columns), as strings otherwise."""
        if axis in (1, "columns"):
            numeric = all(is_numeric(self._sdf.schema[c].dataType)
                          for c in self.columns)
            cast_to = "double" if numeric else "string"
            arr = F.array(*[F.col(c).cast(cast_to) for c in self.columns])
            vals = F.filter(arr, lambda x: x.isNotNull())
            if not dropna:
                vals = F.when(F.exists(arr, lambda x: x.isNull()),
                              F.concat(F.filter(arr, lambda x: x.isNotNull()),
                                       F.array(F.lit(None).cast(cast_to)))) \
                        .otherwise(vals)
            out = F.size(F.array_distinct(vals)).cast("long")
            node = Node("nunique_axis1", {}, self._expr)
            return Series(self._sdf, out, None, node,
                          self._index_cols, self._index_names)
        return self._columnwise(F.countDistinct, "nunique",
                                numeric_only=False, out_type="long")

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False, na_option: str = "keep",
             axis: int = 0) -> "DataFrame":
        """pandas ``DataFrame.rank``: every numeric column through the
        scale-safe Series rank (distinct-value rank table + join-back, no
        global window), reassembled by one index equi-join per column.
        ``axis=1`` ranks each row ACROSS its columns — a pure projection
        (array higher-order functions), no shuffle, no UDF."""
        if axis in (1, "columns"):
            return self._rank_axis1(method, ascending, pct)
        from .operators.setops import concat
        base = self
        attached = False
        if not base._index_cols:
            sdf = positions(base)
            base = DataFrame(sdf, Node("rowid", {}, base._expr),
                             (_ROWID,), (None,))
            attached = True
        num = [c for c in base.columns
               if is_numeric(base._sdf.schema[c].dataType)]
        frames = [base[c].rank(method=method, ascending=ascending,
                               pct=pct, na_option=na_option).to_frame(c)
                  for c in num]
        out = concat(frames, axis=1) if len(frames) > 1 else frames[0]
        if attached:
            out = out.reset_index(drop=True)
        elif (_ORDER in self._sdf.columns
                and _ORDER not in out._sdf.columns
                and tuple(self._index_cols) == (_ROWID,)):
            # a stamped label-keeping frame (sort ancestry) presents rank
            # in the STAMP order, not label order — re-join the stamp by
            # the unique rowid labels (r8 hunt seed 30088); the concat
            # output's index column carries its own name
            oidx = out._index_cols[0]
            stamp = self._sdf.select(F.col(_ROWID).alias(oidx),
                                     F.col(_ORDER))
            out = DataFrame(out._sdf.join(stamp, oidx, "left"),
                            out._expr, out._index_cols, out._index_names)
        return out

    def _rank_axis1(self, method: str, ascending: bool,
                    pct: bool) -> "DataFrame":
        """Row-wise rank: for each cell, count the row's non-null values
        strictly smaller / equal (JVM ``aggregate`` over a ≤#cols array).
        average = smaller + (ties+1)/2; min/max/dense from the same two
        counts; NaN cells rank NaN (pandas na_option='keep')."""
        if method not in ("average", "min", "max", "dense", "first"):
            raise ValueError(f"unknown rank method {method!r}")
        if method == "first":
            raise NotImplementedError(
                "rank(axis=1, method='first') needs column positions for "
                "ties; use average/min/max/dense")
        num = [c for c in self.columns
               if is_numeric(self._sdf.schema[c].dataType)]
        arr = F.array(*[F.col(c).cast("double") for c in num])
        vals = F.filter(arr, lambda x: ~x.isNull() & ~F.isnan(x))
        n_valid = F.size(vals)
        updates = {}
        for c in num:
            v = F.col(c).cast("double")
            less = F.size(F.filter(vals, lambda x: x < v))
            eq = F.size(F.filter(vals, lambda x: x == v))
            if not ascending:
                less = n_valid - less - eq
            if method == "average":
                r = less.cast("double") + (eq.cast("double") + 1.0) / 2.0
            elif method == "min":
                r = (less + 1).cast("double")
            elif method == "max":
                r = (less + eq).cast("double")
            else:  # dense: distinct values strictly before this one
                distinct_less = F.size(F.array_distinct(
                    F.filter(vals, lambda x: x < v)))
                if not ascending:
                    distinct_less = F.size(F.array_distinct(
                        F.filter(vals, lambda x: x > v)))
                r = (distinct_less + 1).cast("double")
            if pct:
                if method == "dense":
                    denom = F.size(F.array_distinct(vals))
                else:
                    denom = n_valid
                r = r / denom.cast("double")
            updates[c] = F.when(v.isNull() | F.isnan(v),
                                F.lit(None).cast("double")).otherwise(r)
        out = self._sdf.withColumns(updates).select(
            *[F.col(ic) for ic in self._index_cols], *num)
        node = Node("rank_axis1", {"method": method}, self._expr)
        return DataFrame(out, node, self._index_cols, self._index_names)

    def median(self, numeric_only: bool = True):
        return self._columnwise(F.median, "median", numeric_only)

    def quantile(self, q: float | Sequence[float] = 0.5,
                 numeric_only: bool = True, axis: int = 0):
        """Scalar q → one stacked stat row per column; a LIST of qs →
        pandas' q-indexed frame from ONE aggregation (per-column
        percentile arrays, unpacked by a posexplode over the ≤len(q)-row
        result — no per-q rescan).  ``axis=1`` is a pure row-wise
        projection: sort the non-null cells into an array and linearly
        interpolate — no shuffle, no UDF."""
        if axis in (1, "columns"):
            if isinstance(q, (list, tuple)):
                raise NotImplementedError("quantile(axis=1) takes one q")
            num = [c for c in self.columns
                   if is_numeric(self._sdf.schema[c].dataType)]
            arr = F.array_sort(F.filter(
                F.array(*[F.col(c).cast("double") for c in num]),
                lambda x: x.isNotNull() & ~F.isnan(x)))
            n = F.size(arr)
            pos = (n - 1) * F.lit(float(q))
            lo = F.floor(pos).cast("int")
            frac = pos - lo
            val = (F.element_at(arr, lo + 1) * (1 - frac)
                   + F.element_at(arr, F.least(lo + 2, n)) * frac)
            # internal safe column name — "0.5" would parse as a struct
            # path in F.col; the pandas-visible name is set via col_name
            sdf = self._sdf.select(
                *[F.col(c) for c in self._index_cols],
                F.when(n > 0, val).alias("__q__"))
            node = Node("quantile_axis1", {"q": q}, self._expr)
            return Series(sdf, F.col("__q__"), str(q), node,
                          self._index_cols, self._index_names)
        if isinstance(q, (list, tuple)):
            qs = [float(x) for x in q]
            num = [c for c in self.columns
                   if is_numeric(self._sdf.schema[c].dataType)]
            qarr = F.array(*[F.lit(x) for x in qs])
            agg = self._sdf.agg(*[F.percentile(F.col(c), qarr).alias(c)
                                  for c in num])
            exploded = agg.select(
                F.posexplode(qarr).alias("__pos__", "q"),
                *[F.col(c) for c in num])
            out = exploded.select(
                F.col("q"),
                *[F.element_at(F.col(c), F.col("__pos__") + 1).alias(c)
                  for c in num])
            node = Node("quantile", {"q": qs}, self._expr)
            return DataFrame(out, node, ("q",), (None,))
        return self._columnwise(lambda c: F.percentile(c, q),
                                "quantile", numeric_only)

    def prod(self, numeric_only: bool = True):
        # Spark's product agg is double-typed regardless of input; pandas
        # keeps int64 for an all-int frame — cast back when inputs are ints
        all_int = all(str(self._sdf.schema[c].dataType) in
                      ("ByteType()", "ShortType()", "IntegerType()",
                       "LongType()")
                      for c in self.columns
                      if is_numeric(self._sdf.schema[c].dataType))
        fn = (lambda c: F.product(c).cast("long")) if all_int else F.product
        return self._columnwise(fn, "prod", numeric_only, out_type=None)

    product = prod

    def _row_bool(self, op: str) -> Series:
        """Row-wise any/all: boolean OR/AND across columns (nulls count
        False for any, True for all — pandas skipna), a pure narrow map.
        A COMPARISON-mask frame has no nulls in pandas at all — its SQL
        nulls mean 'operand was NaN', which pandas comparisons render
        False (True for ne), so the fill follows the mask op (wave V:
        ``(df > 0).all(axis=1)`` silently skipped NaN rows)."""
        parent_op = getattr(self._expr, "op", None)
        if parent_op in ("lt", "le", "gt", "ge", "eq"):
            null_fill = False
        elif parent_op == "ne":
            null_fill = True
        else:
            null_fill = op == "all"
        out = None
        for c in self.columns:
            t = (F.coalesce(F.col(c).cast("boolean"),
                            F.lit(null_fill)))
            out = t if out is None else ((out | t) if op == "any"
                                         else (out & t))
        node = Node(f"{op}_axis1", {}, self._expr)
        return Series(self._sdf, out, None, node,
                      self._index_cols, self._index_names)

    def any(self, bool_only: bool = False, axis: int = 0):
        if axis in (1, "columns"):
            return self._row_bool("any")
        return self._columnwise(
            lambda c: F.max(F.coalesce(c.cast("boolean"), F.lit(False))),
            "any", numeric_only=False, out_type="boolean")

    def all(self, bool_only: bool = False, axis: int = 0):
        if axis in (1, "columns"):
            return self._row_bool("all")
        return self._columnwise(
            lambda c: F.min(F.coalesce(c.cast("boolean"), F.lit(True))),
            "all", numeric_only=False, out_type="boolean")

    def skew(self, numeric_only: bool = True):
        """pandas ``DataFrame.skew`` — the same bias-corrected one-pass G1
        per column (see ``operators.groupby._skew_g1``)."""
        from .operators.groupby import _skew_g1
        return self._columnwise(_skew_g1, "skew", numeric_only)

    def kurt(self, numeric_only: bool = True):
        from .operators.groupby import _kurt_g2
        return self._columnwise(_kurt_g2, "kurt", numeric_only)

    kurtosis = kurt

    def sem(self, ddof: int = 1, numeric_only: bool = True):
        fn = (lambda c: F.when(F.count(c) > 0,
                               F.stddev_samp(c) / F.sqrt(F.count(c)))) \
            if ddof == 1 else \
            (lambda c: F.when(F.count(c) > 0,
                              F.stddev_pop(c) / F.sqrt(F.count(c))))
        return self._columnwise(fn, "sem", numeric_only)

    def var(self, ddof: int = 1, numeric_only: bool = True):
        fn = _var_fn(ddof)
        return self._columnwise(fn, "var", numeric_only)

    def std(self, ddof: int = 1, numeric_only: bool = True):
        vfn = _var_fn(ddof)
        return self._columnwise(lambda c: F.sqrt(vfn(c)), "std", numeric_only)

    def mode(self, numeric_only: bool = False) -> "DataFrame":
        """pandas ``DataFrame.mode``: row i holds each column's i-th
        smallest mode; columns with fewer modes pad with null.

        Per column: hash-groupBy count → broadcast max-count join →
        distributed ``global_pos`` rank over the (output-sized) mode set;
        the per-column mode frames then full-outer-join on the rank.
        Every stage is a shuffle on the mode set, never a global window
        over the input (reference Mode ``_reductions.py:242-255`` is
        Series-only; SURVEY §2.5)."""
        from .functions.scan import global_pos
        cols = [c for c in self.columns
                if not numeric_only or is_numeric(self._sdf.schema[c].dataType)]
        if not cols:
            raise ValueError("mode: no columns to aggregate")
        frames = []
        for c in cols:
            counted = (self._sdf.filter(F.col(c).isNotNull())
                       .groupBy(c).agg(F.count(F.lit(1)).alias("__n__")))
            maxn = counted.agg(F.max("__n__").alias("__m__"))
            top = (counted
                   .join(F.broadcast(maxn), F.col("__n__") == F.col("__m__"))
                   .select(c))
            frames.append(global_pos(top, [c], "__pos__")
                          .select("__pos__", c))
        out = frames[0]
        for f in frames[1:]:
            out = out.join(f, "__pos__", "outer")
        out = out.select("__pos__", *cols)
        node = Node("frame_mode", {"columns": cols}, self._expr)
        return DataFrame(out, node, ("__pos__",), (None,))

    def var_columns(self, ddof: int = 1) -> Series:
        """Row-wise variance across columns (reference VarColumns
        ``_expr.py:1087-1099``) via ``F.aggregate`` over an array — stays in
        codegen, no Python."""
        cols = [f.name for f in self._sdf.schema.fields
                if f.name in self.columns and is_numeric(f.dataType)]
        arr = F.array(*[F.col(c).cast("double") for c in cols])
        n = F.lit(len(cols))
        mean = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x) / n
        ssq = F.aggregate(arr, F.lit(0.0), lambda a, x: a + x * x)
        var = (ssq - n * mean * mean) / (n - F.lit(ddof))
        node = Node("var_columns", {"ddof": ddof}, self._expr)
        return Series(self._sdf, var, None, node, self._index_cols, self._index_names)

    def std_columns(self, ddof: int = 1) -> Series:
        v = self.var_columns(ddof)
        return v._with_scol(F.sqrt(v._scol), "std_columns")

    def memory_usage(self, deep: bool = False) -> Series:
        """Approximation (SURVEY §2.5 NBytes/MemoryUsage): sum of serialized
        column widths; Spark has no exact pandas-bytes analogue."""
        fields = [f for f in self._sdf.schema.fields if f.name in self.columns]
        aggs = []
        for f in fields:
            if isinstance(f.dataType, (T.StringType, T.BinaryType)):
                aggs.append(F.sum(F.length(F.col(f.name))).alias(f.name))
            else:
                aggs.append((F.count(F.lit(1)) * F.lit(8)).alias(f.name))
        one_row = self._sdf.agg(*aggs)
        names = [f.name for f in fields]
        stack_expr = ", ".join(f"'{n}', cast(`{n}` as long)" for n in names)
        long = one_row.selectExpr(f"stack({len(names)}, {stack_expr}) as (__col__, __val__)")
        node = Node("memory_usage", {}, self._expr)
        return Series(long, F.col("__val__"), None, node, ("__col__",), (None,))

    def nunique_approx(self, rsd: float = 0.05) -> Series:
        return self._columnwise(lambda c: F.approx_count_distinct(c, rsd).cast("double"),
                                "nunique_approx", numeric_only=False)

    def _numeric_columns(self) -> list[str]:
        vis = set(self.columns)
        return [f.name for f in self._sdf.schema.fields
                if f.name in vis and is_numeric(f.dataType)]

    def describe(self, percentiles: Sequence[float] | None = None) -> "DataFrame":
        """pandas ``describe()``: count/mean/std/min/quartiles/max per
        numeric column.  ONE aggregation pass (exact interpolating
        percentiles), then a JVM-side ``stack`` reshapes the single agg row
        into the stat rows — stays lazy, nothing collects on the driver.
        ``percentiles=`` replaces the quartiles (the median always joins,
        like pandas)."""
        cols = self._numeric_columns()
        if not cols:
            raise ValueError("describe: no numeric columns")
        pct = ([0.25, 0.5, 0.75] if percentiles is None
               else sorted(set(float(p) for p in percentiles) | {0.5}))
        plabels = [f"{p * 100:g}%" for p in pct]
        stats = ["count", "mean", "std", "min", *plabels, "max"]
        aggs = []
        for c in cols:
            col = F.col(c)
            aggs += [F.count(col).cast("double").alias(f"count__{c}"),
                     F.avg(col).alias(f"mean__{c}"),
                     F.stddev_samp(col).alias(f"std__{c}"),
                     F.min(col).cast("double").alias(f"min__{c}"),
                     *[F.percentile(col, F.lit(p)).alias(f"{lb}__{c}")
                       for p, lb in zip(pct, plabels)],
                     F.max(col).cast("double").alias(f"max__{c}")]
        one = self._sdf.agg(*aggs)
        parts = []
        for s in stats:
            parts.append(f"'{s}'")
            parts += [f"`{s}__{c}`" for c in cols]
        stacked = one.selectExpr(
            f"stack({len(stats)}, {', '.join(parts)}) as "
            f"(stat, {', '.join(f'`{c}`' for c in cols)})")
        node = Node("describe", {"columns": cols}, self._expr)
        return DataFrame(stacked, node, ("stat",), (None,), None,
                         self._axis.keep(cols))

    def _pairwise(self, fn, op: str) -> "DataFrame":
        """Pairwise statistic matrix in ONE aggregation pass: n² aggregate
        expressions (fine for tens of columns), stacked into matrix rows."""
        cols = self._numeric_columns()
        if len(cols) < 2:
            raise ValueError(f"{op}: need >= 2 numeric columns")
        aggs = [fn(F.col(a), F.col(b)).alias(f"{i}__{j}")
                for i, a in enumerate(cols) for j, b in enumerate(cols)]
        one = self._sdf.agg(*aggs)
        parts = []
        for i, a in enumerate(cols):
            parts.append(f"'{a}'")
            parts += [f"`{i}__{j}`" for j in range(len(cols))]
        stacked = one.selectExpr(
            f"stack({len(cols)}, {', '.join(parts)}) as "
            f"(column, {', '.join(f'`{c}`' for c in cols)})")
        node = Node(op, {"columns": cols}, self._expr)
        return DataFrame(stacked, node, ("column",), (None,))

    def corrwith(self, other: "DataFrame", method: str = "pearson") -> "Series":
        """pandas ``df.corrwith(other)``: per-column correlation over the
        index intersection.  Pearson: one index equi-join + ONE aggregation
        pass computing every shared numeric column's ``F.corr`` — no
        per-column scans.  Spearman follows pandas ``nancorr``: per column,
        mask to pairwise-complete rows, average-tie rank BOTH sides on the
        distinct-value table (no global row window), then Pearson on the
        ranks — one rank shuffle pair per column, unavoidable because each
        pair's completeness mask differs."""
        if method not in ("pearson", "spearman"):
            raise NotImplementedError(
                "corrwith supports method='pearson'/'spearman'")
        common = [c for c in self.columns
                  if c in other.columns
                  and is_numeric(self._sdf.schema[c].dataType)
                  and is_numeric(other._sdf.schema[c].dataType)]
        if not common:
            raise ValueError("no shared numeric columns to correlate")
        joined, lmap, rmap = align(self, other, "inner")
        if method == "spearman":
            outs = None
            for c in common:
                pair = (joined._sdf
                        .select(F.col(lmap[c]).cast("double").alias("__l__"),
                                F.col(rmap[c]).cast("double").alias("__r__"))
                        .filter(F.col("__l__").isNotNull()
                                & F.col("__r__").isNotNull()))
                ranked = _avg_rank_join(
                    _avg_rank_join(pair, "__l__", "__lrk__"),
                    "__r__", "__rrk__")
                one = (ranked.agg(F.corr("__lrk__", "__rrk__")
                                  .alias("__cw__"))
                       .select(F.lit(c).alias("__cw_idx__"), "__cw__"))
                outs = one if outs is None else outs.unionByName(one)
            node = Node("corrwith", {"columns": common,
                                     "method": "spearman"},
                        self._expr, other._expr)
            return Series(outs, F.col("__cw__"), None, node,
                          ("__cw_idx__",), (None,))
        row = joined._sdf.agg(*[
            F.corr(F.col(lmap[c]).cast("double"),
                   F.col(rmap[c]).cast("double")).alias(c) for c in common])
        pairs = F.explode(F.array(*[
            F.struct(F.lit(c).alias("k"), F.col(c).alias("v"))
            for c in common])).alias("__z__")
        out = (row.select(pairs)
               .select(F.col("__z__.k").alias("__cw_idx__"),
                       F.col("__z__.v").alias("__cw__")))
        node = Node("corrwith", {"columns": common}, self._expr, other._expr)
        return Series(out, F.col("__cw__"), None, node,
                      ("__cw_idx__",), (None,))

    def corr(self, method: str = "pearson",
             min_periods: int | None = None) -> "DataFrame":
        """pandas ``df.corr()``: pairwise correlation matrix via ``F.corr``
        — single pass, no shuffle beyond the agg.  ``spearman`` rank-
        transforms every numeric column first (distinct-value rank tables,
        one value-shuffle per column, no global row window) then runs the
        same Pearson pass on the ranks.  ``min_periods``: cells with fewer
        pairwise-complete rows go null (same single pass — the pair count
        rides as a second agg expression)."""
        if min_periods is not None:
            mp = int(min_periods)

            def guarded(a: Column, b: Column) -> Column:
                x, y = a.cast("double"), b.cast("double")
                n = F.count(F.when(x.isNotNull() & y.isNotNull(), 1))
                return F.when(n >= mp, F.corr(x, y))

            if method != "pearson":
                raise NotImplementedError(
                    "corr(min_periods=) supports pearson only")
            return self._pairwise(guarded, "corr")
        if method == "pearson":
            return self._pairwise(F.corr, "corr")
        if method == "spearman":
            cols = self._numeric_columns()
            sdf = self._sdf
            for c in cols:
                sdf = _avg_rank_join(sdf, c, f"__rk_{c}__")
            sdf = sdf.select(*[F.col(f"__rk_{c}__").alias(c) for c in cols])
            ranked = DataFrame(sdf, Node("rank_all", {"columns": cols},
                                         self._expr))
            return ranked._pairwise(F.corr, "corr")
        raise NotImplementedError("corr: method must be pearson or spearman")

    def cov(self, ddof: int = 1,
            min_periods: int | None = None) -> "DataFrame":
        """pandas ``df.cov()``: pairwise covariance matrix (any ddof via
        the sufficient-statistic identity, same single-pass plan).
        ``min_periods``: cells with fewer pairwise-complete rows go null."""
        if min_periods is not None:
            mp = int(min_periods)

            def guarded(a: Column, b: Column) -> Column:
                x, y = a.cast("double"), b.cast("double")
                n = F.count(F.when(x.isNotNull() & y.isNotNull(), 1))
                base = F.covar_samp(x, y) if ddof == 1 else                     F.covar_pop(x, y) if ddof == 0 else None
                if base is None:
                    sx = F.sum(F.when(y.isNotNull(), x))
                    sy = F.sum(F.when(x.isNotNull(), y))
                    sxy = F.sum(x * y)
                    base = F.when(n > ddof,
                                  (sxy - sx * sy / n) / (n - F.lit(ddof)))
                return F.when(n >= mp, base)
            return self._pairwise(guarded, "cov")
        if ddof == 1:
            return self._pairwise(F.covar_samp, "cov")
        if ddof == 0:
            return self._pairwise(F.covar_pop, "cov")

        def fn(a: Column, b: Column) -> Column:
            x, y = a.cast("double"), b.cast("double")
            n = F.count(F.when(x.isNotNull() & y.isNotNull(), 1))
            sx = F.sum(F.when(y.isNotNull(), x))
            sy = F.sum(F.when(x.isNotNull(), y))
            sxy = F.sum(x * y)
            return F.when(n > ddof,
                          (sxy - sx * sy / n) / (n - F.lit(ddof)))
        return self._pairwise(fn, "cov")

    def get_dummies(self, columns: Sequence[str],
                    values: Mapping[str, Sequence] | None = None,
                    prefix=None, prefix_sep: str = "_",
                    drop_first: bool = False, dummy_na: bool = False,
                    dtype: str = "int") -> "DataFrame":
        """pandas ``pd.get_dummies``: one-hot indicator columns.

        Pass ``values={col: [...]}`` to pin the category set — at 100 TB the
        alternative is a distinct-discovery scan per column (done here
        eagerly and documented, mirroring ``pivot_table``'s contract).
        ``prefix`` (str for all columns or per-column dict) overrides the
        source-column-name prefix; ``drop_first`` drops each column's
        first category (k-1 encoding); ``dtype`` accepts pandas aliases
        (``int64``, ``float64``, ``bool``) as well as Spark type names."""
        columns = _ensure_list(columns)
        spark_dtype = {"int64": "long", "int32": "int", "float64": "double",
                       "float32": "float", "bool": "boolean",
                       "uint8": "int"}.get(str(dtype), str(dtype))
        one = F.lit(True) if spark_dtype == "boolean" else F.lit(1)
        zero = F.lit(False) if spark_dtype == "boolean" else F.lit(0)
        sdf = self._sdf
        new_cols: dict[str, Column] = {}
        for c in columns:
            if values is not None and c in values:
                vals = list(values[c])
            else:
                vals = [r[0] for r in
                        sdf.select(c).distinct().dropna().collect()]
                vals.sort()
            if drop_first:
                vals = vals[1:]
            if isinstance(prefix, Mapping):
                p = prefix.get(c, c)
            else:
                p = prefix if prefix is not None else c
            for v in vals:
                new_cols[f"{p}{prefix_sep}{v}"] = \
                    F.when(F.col(c) == v, one).otherwise(zero) \
                     .cast(spark_dtype)
            if dummy_na:
                # pandas dummy_na=True: one extra indicator for missing
                # values, appended after the value columns ('<p>_nan')
                new_cols[f"{p}{prefix_sep}nan"] = \
                    F.when(F.col(c).isNull(), one).otherwise(zero) \
                     .cast(spark_dtype)
        lowered = [n.lower() for n in new_cols]
        if len(set(lowered)) != len(lowered):
            dupes = sorted({n for n in lowered if lowered.count(n) > 1})
            raise ValueError(
                "get_dummies: categories differing only by case collide "
                f"under Spark's case-insensitive column resolution: {dupes}. "
                "Pass values= with disambiguated categories or normalize "
                "case upstream.")
        out = sdf.withColumns(new_cols).drop(*columns)
        return self._derive(out, "get_dummies", {"columns": columns})

    # -- groupby / join / concat (operators/) ----------------------------
    def groupby(self, by=None, sort: bool = True, as_index: bool = True,
                dropna: bool = True, observed: bool = True, level=None):
        from .operators.groupby import GroupBy
        if by is None:
            # pandas groupby(level=...): group on index levels — the index
            # IS a column in the engine, so resolve level numbers/names to
            # index column names and group on those
            if level is None:
                raise TypeError("groupby requires 'by' or 'level'")
            if not self._index_cols:
                raise ValueError("groupby(level=...) needs an explicit index")
            levels = level if isinstance(level, (list, tuple)) else [level]
            names = list(self._index_names or ())
            by = []
            for lv in levels:
                if isinstance(lv, int):
                    by.append(self._index_cols[lv])
                elif lv in names:
                    by.append(self._index_cols[names.index(lv)])
                else:
                    raise KeyError(lv)
        by = [by] if isinstance(by, Series) else _ensure_list(by)
        # pandas groupby(Series): a same-anchor key Series (a column or a
        # derived expression of THIS frame) materializes as a key column —
        # pure projection.  Foreign-frame keys raise, like the reference
        # (`_groupby.py:267-303`).
        frame, names, extra = self, [], {}
        for b in by:
            if isinstance(b, Series):
                if b._sdf is not self._sdf:
                    raise TypeError("groupby only supports column names or "
                                    "Series derived from this frame")
                nm = b._col_name or f"__by{len(extra)}__"
                extra[nm] = b._scol
                names.append(nm)
            elif isinstance(b, str):
                names.append(b)
            elif type(b).__name__ in ("Grouper", "TimeGrouper") \
                    and hasattr(b, "freq"):
                # pd.Grouper(key=, freq=): calendar bucket key — pure
                # date_trunc projection (same lowering as resample).
                # End-anchored freqs (W/M/ME/Q/QE/Y/YE) label with the
                # period END like pandas (r5 hunt pin); start-anchored
                # spellings (MS/QS/YS) keep the left label.
                from .functions.timeseries import period_start_col
                key = b.key
                if key is None:
                    if not self._index_cols:
                        raise ValueError("Grouper without key= needs an "
                                         "index")
                    key = self._index_cols[0]
                nm = key if b.freq is None else f"{key}"
                col = F.col(key)
                if b.freq is not None:
                    # pd.Grouper normalizes freq to an OFFSET object
                    # (<MonthEnd>); take its freqstr spelling
                    fs = getattr(b.freq, "freqstr", b.freq)
                    col = period_start_col(col, fs)
                    base = str(fs).split("-")[0].lower()
                    # mixed month+day interval literals reject — apply
                    # as (col + period) - 1 day, two Column steps
                    end_shift = {
                        "w": ("6 DAYS", None),
                        "m": ("1 MONTH", "1 DAY"),
                        "me": ("1 MONTH", "1 DAY"),
                        "q": ("3 MONTHS", "1 DAY"),
                        "qe": ("3 MONTHS", "1 DAY"),
                        "y": ("1 YEAR", "1 DAY"),
                        "ye": ("1 YEAR", "1 DAY"),
                        "a": ("1 YEAR", "1 DAY"),
                    }.get(base)
                    if end_shift:
                        add, sub = end_shift
                        col = col + F.expr(f"INTERVAL {add}")
                        if sub:
                            col = col - F.expr(f"INTERVAL {sub}")
                extra[nm] = col
                names.append(nm)
            else:
                raise TypeError("groupby only supports column names")
        if extra:
            frame = DataFrame(self._sdf.withColumns(extra),
                              Node("assign_by", {}, self._expr),
                              self._index_cols, self._index_names)
        by = names
        missing = [b for b in by
                   if b not in frame.columns and b not in frame._index_cols]
        if missing:
            raise KeyError(missing)
        return GroupBy(frame, by, sort=sort, as_index=as_index, dropna=dropna,
                       observed=observed)

    def rollup(self, by, sort: bool = True):
        """Hierarchical subtotals (Spark-native multi-grouping-set agg —
        SURVEY §2.5 noted gap; NULL keys mark subtotal rows).

        Note: on EMPTY input Spark returns 0 rows, while ANSI engines
        (DuckDB/Postgres) emit the () grand-total row — a documented
        upstream divergence, not an engine bug."""
        from .operators.groupby import GroupBy
        return GroupBy(self, _ensure_list(by), sort=sort, as_index=False,
                       dropna=False, kind="rollup")

    def cube(self, by, sort: bool = True):
        """All grouping-set combinations (Spark-native cube aggregation)."""
        from .operators.groupby import GroupBy
        return GroupBy(self, _ensure_list(by), sort=sort, as_index=False,
                       dropna=False, kind="cube")

    def grouping_sets(self, sets: Sequence[Sequence[str]], sort: bool = True):
        """Explicit GROUPING SETS (generalizes rollup/cube — one shuffle,
        Spark expands the sets; NULL keys mark each set's collapsed dims)."""
        sets = [list(s) for s in sets]
        by = list(dict.fromkeys(c for s in sets for c in s))
        missing = [c for c in by if c not in self.columns]
        if missing:
            raise KeyError(missing)
        from .operators.groupby import GroupBy
        return GroupBy(self, by, sort=sort, as_index=False,
                       dropna=False, kind="grouping_sets", sets=sets)

    def pivot_table(self, values: str, index, columns: str | None = None,
                    aggfunc: str = "mean",
                    pivot_values: Sequence | None = None,
                    margins: bool = False,
                    margins_name: str = "All",
                    fill_value=None) -> "DataFrame":
        """pandas ``pivot_table`` → Spark ``groupBy(index).pivot(columns)``.

        Pass ``pivot_values`` (the distinct values of ``columns``) on large
        data: without it Spark runs an eager distinct job over the column to
        discover them — an extra full scan at 100 TB.  Output columns are
        named by pivot value (pandas-style flat columns).

        ``margins=True`` adds the All row/column: the aggfunc applied over
        the UNDERLYING rows of each axis group (pandas semantics — correct
        for mean, not a sum of cells).  Each margin is one more groupBy on
        the same shuffle key family.
        """
        from .operators.groupby import _AGG_FNS
        idx = _ensure_list(index)
        if isinstance(aggfunc, Mapping):
            # pandas per-value aggfunc dict; output columns sorted by
            # value name like pandas
            if columns is not None or margins:
                raise NotImplementedError(
                    "pivot_table(aggfunc=dict) supports columns=None, "
                    "margins=False")
            pairs = sorted(aggfunc.items())
            out = (self._sdf.groupBy(*idx)
                   .agg(*[_AGG_FNS[a](F.col(v)).alias(v)
                          for v, a in pairs])
                   .orderBy(*idx))
            node = Node("pivot_table", {"index": idx,
                                        "aggfunc": dict(pairs)}, self._expr)
            return DataFrame(out, node, tuple(idx), tuple(idx))
        if isinstance(aggfunc, (list, tuple)):
            # pandas MultiIndex (fn, value, pivot) columns flatten to the
            # engine's string columns: "<fn>" per pivot value (Spark names
            # multi-agg pivot columns "<pivotval>_<alias>")
            if margins:
                raise NotImplementedError("pivot_table(aggfunc=list, "
                                          "margins=True)")
            fns = list(aggfunc)
            if columns is None:
                vals = _ensure_list(values)
                out = self._sdf.groupBy(*idx).agg(
                    *[_AGG_FNS[a](F.col(v)).alias(f"{a}_{v}")
                      for a in fns for v in vals])
            else:
                piv = self._sdf.groupBy(*idx).pivot(
                    columns, list(pivot_values)
                    if pivot_values is not None else None)
                out = piv.agg(*[_AGG_FNS[a](F.col(values)).alias(a)
                                for a in fns])
            out = out.orderBy(*idx)
            if fill_value is not None:
                out = out.fillna(fill_value,
                                 subset=[c for c in out.columns
                                         if c not in idx])
            node = Node("pivot_table", {"index": idx,
                                        "aggfunc": fns}, self._expr)
            return DataFrame(out, node, tuple(idx), tuple(idx))
        fn = _AGG_FNS[aggfunc]
        if columns is None:
            # pandas pivot_table without a columns axis: a plain grouped
            # aggregation over the value column(s) (+ the All margin row)
            vals = _ensure_list(values)
            # pandas presents sorted group keys (with All last)
            out = (self._sdf.groupBy(*idx)
                   .agg(*[fn(F.col(v)).alias(v) for v in vals])
                   .orderBy(*idx))
            if margins:
                row = self._sdf.agg(*[fn(F.col(v)).alias(v) for v in vals])
                for c in idx:
                    out = out.withColumn(c, F.col(c).cast("string"))
                for i, c in enumerate(idx):
                    row = row.withColumn(
                        c, F.lit(margins_name if i == 0 else ""))
                out = out.unionByName(row.select(out.columns))
            if fill_value is not None:
                out = out.fillna(fill_value,
                                 subset=[c for c in out.columns
                                         if c not in idx])
            node = Node("pivot_table", {"index": idx, "columns": None,
                                        "aggfunc": aggfunc}, self._expr)
            return DataFrame(out, node, tuple(idx), tuple(idx))
        piv = self._sdf.groupBy(*idx).pivot(
            columns, list(pivot_values) if pivot_values is not None else None)
        out = piv.agg(fn(F.col(values)).alias(values))
        if margins:
            # All column: aggfunc grouped by index only
            col_margin = (self._sdf.groupBy(*idx)
                          .agg(fn(F.col(values)).alias(margins_name)))
            out = out.join(col_margin, idx, "left")
        # pandas presents sorted group keys (with the All row last)
        out = out.orderBy(*idx)
        if margins:
            # All row: aggfunc grouped by pivot column only (+ the corner)
            row_vals = (self._sdf
                        .withColumn(columns, F.col(columns).cast("string"))
                        .groupBy(columns)
                        .agg(fn(F.col(values)).alias("__m__")))
            corner = self._sdf.agg(fn(F.col(values)).alias("__all__"))
            pivoted_cols = [c for c in out.columns
                            if c not in idx and c != margins_name]
            row = (row_vals.groupBy()
                   .pivot(columns, pivoted_cols)
                   .agg(F.first("__m__"))
                   .crossJoin(F.broadcast(corner)
                              .withColumnRenamed("__all__", margins_name)))
            # the All row label forces the index to string (pandas: object)
            for c in idx:
                out = out.withColumn(c, F.col(c).cast("string"))
            for i, c in enumerate(idx):
                row = row.withColumn(
                    c, F.lit(margins_name if i == 0 else ""))
            out = out.unionByName(row.select(out.columns),
                                  allowMissingColumns=True)
        if fill_value is not None:
            # pandas fill_value: empty cells (absent combinations) take
            # the fill — applies to every pivoted value column
            out = out.fillna(fill_value,
                             subset=[c for c in out.columns if c not in idx])
        node = Node("pivot_table", {"index": idx, "columns": columns,
                                    "aggfunc": aggfunc}, self._expr)
        # pandas sets the index= columns as the result's index and names
        # the COLUMN axis after the pivot key
        return DataFrame(out, node, tuple(idx), tuple(idx),
                         axis=D.axis_record(name=None if margins else columns))

    def crosstab(self, index: str, columns: str,
                 values: str | None = None, aggfunc: str = "count",
                 pivot_values: Sequence | None = None,
                 normalize: bool | str = False, margins: bool = False,
                 margins_name: str = "All") -> "DataFrame":
        """pandas ``pd.crosstab``: frequency (or aggregated) table of two
        columns → ``groupBy(index).pivot(columns).count()``.  Like
        ``pivot_table``, pass ``pivot_values`` at scale to skip the eager
        distinct-discovery scan; count cells are null-filled to 0 (pandas
        semantics).  ``normalize=`` divides by the grand total
        (True/'all'), row totals ('index'), or column totals ('columns'
        — one 1-row broadcast of the tiny pivoted table's sums);
        ``margins=True`` adds the All row/column."""
        from .operators.groupby import _AGG_FNS
        if normalize and margins:
            raise NotImplementedError("crosstab(normalize=, margins=) "
                                      "together")
        piv = self._sdf.groupBy(index).pivot(
            columns, list(pivot_values) if pivot_values is not None else None)
        if values is None:
            out = piv.agg(F.count(F.lit(1)))
        else:
            out = piv.agg(_AGG_FNS[aggfunc](F.col(values)))
        if values is None or aggfunc == "count":
            out = out.fillna(0, subset=[c for c in out.columns if c != index])
        vcols = [c for c in out.columns if c != index]
        if normalize:
            if normalize in (True, "all", "index"):
                row_tot = sum((F.col(c) for c in vcols[1:]),
                              F.col(vcols[0]))
                if normalize == "index":
                    out = out.select(index, *[(F.col(c) / row_tot).alias(c)
                                              for c in vcols])
                else:
                    tot = out.agg(*[F.sum(row_tot).alias("__t__")])
                    out = out.crossJoin(F.broadcast(tot)).select(
                        index, *[(F.col(c) / F.col("__t__")).alias(c)
                                 for c in vcols])
            elif normalize == "columns":
                tots = out.agg(*[F.sum(c).alias(f"__t_{c}__")
                                 for c in vcols])
                out = out.crossJoin(F.broadcast(tots)).select(
                    index, *[(F.col(c) / F.col(f"__t_{c}__")).alias(c)
                             for c in vcols])
            else:
                raise ValueError(f"normalize={normalize!r}")
        if margins:
            row_tot = sum((F.col(c) for c in vcols[1:]), F.col(vcols[0]))
            out = out.withColumn(margins_name, row_tot)
            total = out.agg(*[F.sum(c).alias(c)
                              for c in vcols + [margins_name]])
            out = out.withColumn(index, F.col(index).cast("string"))
            # pandas presents sorted row keys with the All row last
            out = out.orderBy(index).unionByName(
                total.withColumn(index, F.lit(margins_name))
                .select(out.columns))
        else:
            out = out.orderBy(index)
        node = Node("crosstab", {"index": index, "columns": columns}, self._expr)
        # pandas crosstab indexes on the row key and names the columns
        # axis after the column key (r5 parity)
        return DataFrame(out, node, (index,), (index,),
                         axis=D.axis_record(name=columns))

    _RESAMPLE_TRUNC = {"s": "second", "min": "minute", "t": "minute",
                       "h": "hour", "d": "day", "w": "week",
                       "m": "month", "ms": "month", "q": "quarter",
                       "y": "year", "a": "year",
                       # pandas 2.2 end-anchored aliases (ME/QE/YE) —
                       # same bins as M/Q/Y, same period-END labels
                       "me": "month", "qe": "quarter", "ye": "year",
                       "qs": "quarter", "ys": "year", "as": "year"}
    _RESAMPLE_INTERVAL = {"s": "seconds", "min": "minutes", "t": "minutes",
                          "h": "hours", "d": "days"}

    _RESAMPLE_STEP = {"second": "INTERVAL 1 SECOND", "minute": "INTERVAL 1 MINUTE",
                      "hour": "INTERVAL 1 HOUR", "day": "INTERVAL 1 DAY",
                      "week": "INTERVAL 7 DAY", "month": "INTERVAL 1 MONTH",
                      "quarter": "INTERVAL 3 MONTH", "year": "INTERVAL 1 YEAR"}

    def resample(self, freq: str, on: str | None = None,
                 fill_empty: bool = True, label: str | None = None,
                 closed: str | None = None, origin=None,
                 offset: str | None = None):
        """pandas ``df.resample(freq, on=ts)`` → time-bucketed GroupBy.

        Calendar frequencies (``h/D/W/M/Q/Y``) lower to ``date_trunc``;
        fixed multiples (``15min``, ``30s``, ``2h``…) to ``F.window(ts,
        "15 minutes").start`` — both are pure JVM-side projections, so the
        only shuffle is the grouped aggregation itself, exactly like any
        ``groupBy``.  pandas materializes EMPTY bins, and so does this
        (default ``fill_empty=True`` since r4 — parity): the calendar
        spine joins the POST-AGG result, so its size is bounded by
        ``(max-min)/freq`` rows, never the corpus.  Pass
        ``fill_empty=False`` for the sparse-output plan when a tiny
        ``freq`` over a years-long range would make the spine itself the
        problem.  Weeks are ISO Monday-start (``date_trunc`` semantics,
        not pandas' Sunday-anchored ``W``)."""
        import re
        if on is None:
            # pandas default: resample over the (datetime) index
            if len(self._index_cols) != 1:
                raise ValueError("resample() without on= needs a single "
                                 "datetime index — set_index first")
            on = self._index_cols[0]
        m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq.strip())
        if not m:
            raise ValueError(f"cannot parse resample freq {freq!r}")
        mult = int(m.group(1)) if m.group(1) else 1
        unit = m.group(2).lower()
        ts = F.col(on)
        off_iv = None
        if offset is not None:
            # pandas offset=: every bin edge shifts by the offset — bucket
            # the shifted timestamps, then shift the labels back (pure
            # column arithmetic, the grouping stays one shuffle)
            micros = int(pd.Timedelta(offset)
                         / pd.Timedelta(microseconds=1))
            off_iv = F.expr(f"INTERVAL {micros} MICROSECOND")
            ts = ts - off_iv
        if closed == "right":
            # pandas closed='right': a value exactly on a grid edge b
            # belongs to the bin ENDING at b — bucket the timestamp minus
            # one microsecond (exact at Spark's timestamp resolution)
            ts = ts - F.expr("INTERVAL 1 MICROSECOND")
        elif closed not in (None, "left"):
            raise ValueError(f"closed must be left/right, got {closed!r}")
        label_shift = None
        if mult == 1 and unit in self._RESAMPLE_TRUNC:
            trunc = self._RESAMPLE_TRUNC[unit]
            bucket = F.date_trunc(trunc, ts)
            step_sql = self._RESAMPLE_STEP[trunc]
            # pandas anchors W/M/Q/Y labels at the period END (default
            # label='right' for these); the explicitly-start-anchored
            # spellings (MS/QS/YS) keep the left label.  Bin MEMBERSHIP is
            # identical either way (edges at midnight), so the shift is a
            # post-aggregation relabel — applied in Resampler._finish,
            # AFTER the calendar-spine fill, because month-end timestamps
            # are not a fixed-interval sequence.
            if trunc in ("week", "month", "quarter", "year") and \
                    unit not in ("ms", "qs", "ys", "as"):
                if label in (None, "right"):
                    label_shift = {
                        "week": "INTERVAL 6 DAYS",
                        "month": "INTERVAL 1 MONTH - INTERVAL 1 DAY",
                        "quarter": "INTERVAL 3 MONTHS - INTERVAL 1 DAY",
                        "year": "INTERVAL 1 YEAR - INTERVAL 1 DAY",
                    }[trunc]
                else:
                    label_shift = "- INTERVAL 1 DAY"
                label = None  # consumed — skip the generic step shift
        elif unit == "w" and mult > 1:
            # pandas 'nW': 7n-day bins whose RIGHT edges are Sundays,
            # anchored at the week label of the MIN timestamp (one tiny
            # min() action at plan-build time — same documented contract
            # as origin='start_day').  Membership reuses the weekly
            # Sunday edge (Monday trunc + 6d, naturally right-closed);
            # the n-week label is the anchor plus ceil(weeks/n)·n weeks.
            lo = self._sdf.agg(F.min(F.col(on))).collect()[0][0]
            wk = F.date_trunc("week", ts) + F.expr("INTERVAL 6 DAYS")
            if lo is None:
                bucket = wk
            else:
                w_min = (pd.Timestamp(lo).normalize()
                         + pd.Timedelta(days=6 - pd.Timestamp(lo).weekday()))
                wdiff = (F.datediff(F.to_date(wk),
                                    F.lit(w_min.date())) / 7).cast("long")
                idx = F.floor((wdiff + F.lit(mult - 1)) / F.lit(mult)) \
                    .cast("int")
                bucket = (F.lit(w_min.to_pydatetime())
                          + F.make_interval(F.lit(0), F.lit(0),
                                            idx * F.lit(mult), F.lit(0),
                                            F.lit(0), F.lit(0),
                                            F.lit(0.0)))
            step_sql = f"INTERVAL {7 * mult} DAYS"
        elif unit in self._RESAMPLE_INTERVAL:
            dur = f"{mult} {self._RESAMPLE_INTERVAL[unit]}"
            secs = mult * {"s": 1, "min": 60, "t": 60, "h": 3600,
                           "d": 86400}[unit]
            org = "start_day" if origin is None else origin
            if org == "epoch" or (org == "start_day"
                                  and 86400 % secs == 0):
                # epoch alignment — identical to start_day whenever the
                # freq divides a day, so no data pass is needed there
                bucket = F.window(ts, dur).getField("start")
            else:
                # pandas origin='start_day'/'start'/timestamp: bins
                # anchor at a data-dependent instant — one tiny min()
                # action at plan-build time (documented contract, same
                # class as get_dummies' distinct scan)
                lo = self._sdf.agg(F.min(F.col(on))).collect()[0][0]
                off = 0
                if lo is not None:
                    import datetime as _dt
                    if org == "start":
                        anchor = lo
                    elif org == "start_day":
                        anchor = _dt.datetime.combine(lo.date(),
                                                      _dt.time())
                    else:
                        anchor = pd.Timestamp(org).to_pydatetime()
                    off = int(anchor.timestamp()) % secs
                bucket = F.window(ts, dur, dur,
                                  f"{off} seconds").getField("start")
            step_sql = f"INTERVAL {dur}"
        else:
            raise ValueError(f"unsupported resample freq {freq!r}")
        if label == "right":
            # label bins by their RIGHT edge (constant shift — grouping
            # is unchanged, only the emitted bucket label moves)
            bucket = bucket + F.expr(step_sql)
        elif label not in (None, "left"):
            raise ValueError(f"label must be left/right, got {label!r}")
        if off_iv is not None:
            bucket = bucket + off_iv
        from .operators.groupby import Resampler
        out = self._derive(self._sdf.withColumn(on, bucket),
                           "resample", {"freq": freq, "on": on})
        return Resampler(out, on, step_sql, fill_empty=fill_empty,
                         sort=True, label_shift=label_shift,
                         orig_sdf=self._sdf, bucket_expr=bucket)

    def asfreq(self, freq: str, on: str,
               method: str | None = None) -> "DataFrame":
        """pandas ``asfreq`` re-expressed for an explicit timestamp column:
        generate the calendar spine (min → max at ``freq`` steps — one tiny
        bounds agg + ``sequence``/``explode``), then either exact-match the
        data rows (``method=None`` → left equi-join, missing instants null)
        or as-of backward-match them (``method='pad'/'ffill'`` → the
        engine's ``merge_asof``, one shuffle).  The spine is KBs even for
        years of minute steps — never a second scan of the fact table."""
        import re
        m = re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", freq.strip())
        if not m:
            raise ValueError(f"cannot parse asfreq freq {freq!r}")
        mult = int(m.group(1)) if m.group(1) else 1
        unit = m.group(2).lower()
        if mult == 1 and unit in self._RESAMPLE_TRUNC:
            step_sql = self._RESAMPLE_STEP[self._RESAMPLE_TRUNC[unit]]
        elif unit in self._RESAMPLE_INTERVAL:
            step_sql = f"INTERVAL {mult} {self._RESAMPLE_INTERVAL[unit]}"
        else:
            raise ValueError(f"unsupported asfreq freq {freq!r}")
        bounds = self._sdf.agg(F.min(on).alias("__lo__"),
                               F.max(on).alias("__hi__"))
        spine_sdf = bounds.select(F.explode(F.sequence(
            F.col("__lo__"), F.col("__hi__"), F.expr(step_sql))).alias(on))
        node = Node("asfreq", {"freq": freq, "on": on}, self._expr)
        if method is None:
            out = spine_sdf.join(self._sdf, on, "left")
            return DataFrame(out, node, (), None)
        if method not in ("pad", "ffill"):
            raise ValueError(f"asfreq: method {method!r} not supported")
        from .operators.joins import merge_asof
        spine = DataFrame(spine_sdf, node, (), None)
        right = DataFrame(self._sdf, self._expr, (), None)
        return merge_asof(spine, right, on=on, direction="backward",
                          suffixes=("", "_r"))

    def melt(self, id_vars=None, value_vars=None,
             var_name: str = "variable",
             value_name: str = "value", ignore_index: bool = True,
             _column_major: bool = True) -> "DataFrame":
        """pandas ``melt`` → Spark's native ``unpivot`` (narrow op, no
        shuffle; value columns are cast to their common promoted type).
        ``ignore_index=False`` repeats the original row label per
        variable, like pandas — the index (or an attached positional
        rowid) rides through the unpivot as extra id columns.

        pandas presents melt COLUMN-major (every row of the first value
        column, then the second...) while unpivot emits row-major — the
        presentation stamp is minted over (variable position, source row)
        so downstream positional ops see pandas' order (wave S).  The
        stamp sort only materializes when presentation order is consumed;
        ``stack`` passes ``_column_major=False`` to keep its row-major
        natural order with no sort in the plan."""
        ids = _ensure_list(id_vars)
        vals = _ensure_list(value_vars) if value_vars is not None else \
            [c for c in self.columns if c not in ids]
        node = Node("melt", {"id_vars": ids, "value_vars": vals}, self._expr)
        anchored = (self._sdf if _ROWID in self._sdf.columns
                    else positions(self))
        if self._index_cols:
            src, idx_cols, idx_names = \
                anchored, self._index_cols, self._index_names
        else:
            src, idx_cols, idx_names = anchored, (_ROWID,), (None,)
        anchor = _ORDER if _ORDER in src.columns else _ROWID
        keep = list(dict.fromkeys(
            [_ROWID, anchor] + list(idx_cols) + ids))
        out = src.unpivot(keep, vals, var_name, value_name)
        vpos = F.array_position(
            F.array(*[F.lit(v) for v in vals]), F.col(var_name))
        if anchor == _ROWID and (_column_major or False):
            # the rowid is DENSE (0..n-1, positions) — the
            # column-major stamp packs arithmetically as
            # (variable << 44) | rowid, keeping melt a narrow no-shuffle
            # op (valid to 17.6e12 source rows / 2^19 variables)
            out = out.withColumn(
                _ORDER, (vpos.cast("long") * F.lit(1 << 44))
                + F.col(_ROWID))
        elif _column_major or anchor == _ORDER:
            # a pre-sorted source's stamp is a monotonic id (sparse, up
            # to 2^63) — packing can't work, mint over a sort instead
            order_keys = (["__melt_vp__", anchor] if _column_major
                          else [anchor, "__melt_vp__"])
            out = (out.withColumn("__melt_vp__", vpos)
                   .orderBy(*order_keys)
                   .withColumn(_ORDER, F.monotonically_increasing_id())
                   .drop("__melt_vp__"))
        if ignore_index:
            keep_set = set(ids) | {var_name, value_name, _ORDER}
            out = out.drop(*[c for c in dict.fromkeys((_ROWID,)
                                                      + tuple(idx_cols))
                             if c in out.columns and c not in keep_set])
            return DataFrame(out, node, (), None)
        if _ROWID not in idx_cols and _ROWID not in ids:
            out = out.drop(_ROWID)
        return DataFrame(out, node, idx_cols, idx_names)

    def unstack(self, index, columns: str, values: str,
                pivot_values: Sequence | None = None) -> "DataFrame":
        """pandas ``unstack`` of a (index, columns)-keyed long frame into a
        wide one: ``groupBy(index).pivot(columns).first(values)``.  Like
        ``pivot_table``, pass ``pivot_values`` at scale to skip the eager
        distinct-discovery scan over the pivot column."""
        idx = _ensure_list(index)
        piv = self._sdf.groupBy(*idx).pivot(
            columns, list(pivot_values) if pivot_values is not None else None)
        out = piv.agg(F.first(F.col(values)).alias(values))
        node = Node("unstack", {"index": idx, "columns": columns}, self._expr)
        return DataFrame(out, node, (), None)

    def stack(self, id_vars=None, value_vars=None,
              var_name: str = "variable",
              value_name: str = "value", dropna: bool = True) -> "DataFrame":
        """pandas ``stack``: wide → long.  ``melt`` (Spark-native ``unpivot``,
        a narrow no-shuffle op) plus the pandas default of dropping null
        cells; ``dropna=False`` keeps them (``pandas stack(dropna=False)``).
        Like pandas, a bare ``stack()`` keys on the engine index."""
        base = self
        from_index = False
        if id_vars is None:
            if not self._index_cols:
                # pandas keys a bare stack() on the (positional) index
                base = DataFrame(positions(self),
                                 Node("rowid", {}, self._expr),
                                 (_ROWID,), (None,))
            id_vars = list(base._index_cols)
            from_index = True
        out = base.melt(id_vars, value_vars, var_name, value_name,
                        ignore_index=True, _column_major=False)
        sdf = out._sdf.filter(F.col(value_name).isNotNull()) if dropna \
            else out._sdf
        node = Node("stack", {"dropna": dropna}, out._expr)
        if from_index:
            # pandas parity (r5): a bare stack() returns a SERIES on the
            # MultiIndex (row labels, stacked column) — the stacked
            # column level takes the columns-axis name (usually None)
            idx = tuple(id_vars) + (var_name,)
            names = tuple(base._index_names) + (self._axis.name,)
            return Series(sdf, F.col(value_name), None, node, idx, names)
        # explicit id_vars: engine extension, melt-flavored long frame
        return DataFrame(sdf, node, (), None)

    def with_ewm(self, name: str, col: str, order_by, alpha: float,
                 partition_by=None, adjust: bool = True,
                 num_partitions: int | None = None) -> "DataFrame":
        """Exponentially weighted mean (pandas ``ewm(alpha).mean()``).

        Grouped (``partition_by``): exact pandas ewm per group via
        Arrow-batched ``applyInPandas`` — one shuffle on the keys, the same
        memory contract as any partitioned window.  Global: a distributed
        segment scan (range-shuffle + per-partition recurrence + a tiny
        carry fold — see ``functions/timeseries.py``) so one 100 TB ordered
        series never funnels through a single task."""
        from .functions import timeseries as _ts
        pb = _ensure_list(partition_by)
        ob = _ensure_list(order_by)
        if pb:
            out = _ts.ewm_mean_grouped(self._sdf, pb, col, ob, alpha,
                                       name=name, adjust=adjust)
        else:
            if len(ob) != 1:
                raise ValueError("global ewm needs exactly one order_by column")
            staged = self._sdf.withColumn(name, F.col(col).cast("double"))
            out = _ts.ewm_global(staged, [name], ob[0], alpha, adjust=adjust,
                                 num_partitions=num_partitions)
        return self._derive(out, "ewm", {"col": col, "alpha": alpha,
                                         "partition_by": pb})

    def merge(self, right: "DataFrame", how: str = "inner", on=None,
              left_on=None, right_on=None, left_index: bool = False,
              right_index: bool = False, suffixes: tuple = ("_x", "_y"),
              indicator: bool = False, broadcast: bool | None = None,
              hint: str | None = None,
              validate: str | None = None) -> "DataFrame":
        from .operators.joins import merge as _merge
        return _merge(self, right, how=how, on=on, left_on=left_on, hint=hint,
                      right_on=right_on, left_index=left_index,
                      right_index=right_index, suffixes=suffixes,
                      indicator=indicator, broadcast=broadcast,
                      validate=validate)

    def join(self, other, on=None, how: str = "left",
             lsuffix: str = "", rsuffix: str = "") -> "DataFrame":
        from .operators.joins import join as _join
        return _join(self, other, on=on, how=how, lsuffix=lsuffix, rsuffix=rsuffix)

    # -- UDF surface (reference Apply/Map §2.10) -------------------------
    def apply(self, func: Callable, axis: int = 0, schema=None):
        """pandas ``DataFrame.apply``.  ``axis=0`` (pandas default):
        func(column) → scalar, one grouped-agg UDF per column.  ``axis=1``:
        frame-wise UDF via Arrow-batched ``mapInPandas``, schema inferred
        by running ``func`` on a sample when not declared (reference
        ``Apply._meta``, ``_expr.py:1247-1249``)."""
        if axis in (0, "index"):
            # pandas default: func(column Series) → scalar, result Series
            # indexed by column name.  An arbitrary Python reducer runs as
            # ONE Arrow grouped-agg UDF per column inside a single 1-row
            # agg — each column gathers into one task (inherent to a
            # whole-column black-box callable; use the named reductions
            # for the JVM fast path).
            from .operators.groupby import _callable_agg
            return self._columnwise(_callable_agg(func), "apply_columnwise",
                                    numeric_only=True)
        if schema is None:
            sample = self._sdf.limit(10).toPandas()
            try:
                out = func(sample)
            except Exception:
                out = None
            if not isinstance(out, pd.DataFrame):
                # pandas row-wise contract: func(row Series) → scalar.
                # Infer the dtype from the sample, keep row labels (rowid
                # anchor), and run batch.apply(axis=1) inside the Arrow
                # mapper — per-row Python, the honest pandas semantics.
                return self._apply_rowwise(func, sample)
            fields = [T.StructField(c, to_spark_type(out[c].dtype)) for c in out.columns]
            schema = T.StructType(fields)

        def _mapper(batches):
            for pdf in batches:
                yield func(pdf)

        out_sdf = self._sdf.mapInPandas(_mapper, schema)
        return DataFrame(out_sdf, Node("apply", {}, self._expr), (), ())

    def _apply_rowwise(self, func: Callable, sample: pd.DataFrame):
        data_cols = list(self.columns)
        probe = sample[data_cols].apply(func, axis=1) if len(sample) \
            else None
        if probe is not None and isinstance(probe, pd.DataFrame):
            raise TypeError("apply(axis=1) func returned a frame per row; "
                            "pass schema= and a batch-level func instead")
        vtype = to_spark_type(probe.dtype) if probe is not None \
            else T.DoubleType()
        if self._index_cols:
            sdf, idx, names = self._sdf, self._index_cols, self._index_names
        else:
            sdf, idx, names = positions(self), (_ROWID,), (None,)
        fields = [sdf.schema[c] for c in idx] + \
                 [T.StructField("__applied__", vtype)]
        schema = T.StructType(fields)

        def _mapper(batches):
            for pdf in batches:
                res = pd.DataFrame({c: pdf[c] for c in idx})
                res["__applied__"] = (
                    pdf[data_cols].apply(func, axis=1) if len(pdf)
                    else pd.Series(dtype="object"))
                yield res

        out = sdf.mapInPandas(_mapper, schema)
        return Series(out, F.col("__applied__"), None,
                      Node("apply_rowwise", {}, self._expr), idx, names)

    def map_partitions(self, func: Callable, schema) -> "DataFrame":
        """Arrow-batched partition-wise transform (``mapInPandas``)."""
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)

        def _mapper(batches):
            for pdf in batches:
                yield func(pdf)

        return DataFrame(self._sdf.mapInPandas(_mapper, schema),
                         Node("map_partitions", {}, self._expr), (), ())

    # -- window functions (SURVEY §2.7 — superset, absent in reference) --
    def with_row_number(self, name: str, partition_by, order_by,
                        ascending: bool | Sequence[bool] = True) -> "DataFrame":
        """``row_number() over (partition by ... order by ...)`` — the window
        family the reference lacks entirely (SURVEY §2.7).  Partitioned
        windows shuffle once on the keys; no global ordering."""
        pb = _ensure_list(partition_by)
        ob = _ensure_list(order_by)
        asc = ascending if isinstance(ascending, (list, tuple)) else [ascending] * len(ob)
        cols = [F.col(c).asc() if a else F.col(c).desc() for c, a in zip(ob, asc)]
        w = Window.partitionBy(*pb).orderBy(*cols)
        return self._derive(self._sdf.withColumn(name, F.row_number().over(w)),
                            "row_number", {"partition_by": pb, "order_by": ob})

    def with_rank(self, name: str, partition_by, order_by,
                  ascending: bool = True, dense: bool = False) -> "DataFrame":
        pb = _ensure_list(partition_by)
        ob = _ensure_list(order_by)
        cols = [F.col(c).asc() if ascending else F.col(c).desc() for c in ob]
        w = Window.partitionBy(*pb).orderBy(*cols)
        fn = F.dense_rank() if dense else F.rank()
        return self._derive(self._sdf.withColumn(name, fn.over(w)),
                            "rank", {"partition_by": pb, "order_by": ob})

    def with_lag(self, name: str, col: str, partition_by, order_by,
                 offset: int = 1) -> "DataFrame":
        w = Window.partitionBy(*_ensure_list(partition_by)).orderBy(
            *[F.col(c).asc() for c in _ensure_list(order_by)])
        return self._derive(self._sdf.withColumn(name, F.lag(col, offset).over(w)),
                            "lag", {"col": col})

    def with_cumsum(self, name: str, col: str, partition_by, order_by) -> "DataFrame":
        w = (Window.partitionBy(*_ensure_list(partition_by))
             .orderBy(*[F.col(c).asc() for c in _ensure_list(order_by)])
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return self._derive(self._sdf.withColumn(name, F.sum(col).over(w)),
                            "cumsum", {"col": col})

    def with_diff(self, name: str, col: str, partition_by, order_by,
                  periods: int = 1) -> "DataFrame":
        """pandas ``diff`` per group: ``col - lag(col, periods)`` — same
        single shuffle as any partitioned window."""
        w = Window.partitionBy(*_ensure_list(partition_by)).orderBy(
            *[F.col(c).asc() for c in _ensure_list(order_by)])
        return self._derive(
            self._sdf.withColumn(name, F.col(col) - F.lag(col, periods).over(w)),
            "diff", {"col": col, "periods": periods})

    def with_pct_change(self, name: str, col: str, partition_by, order_by,
                        periods: int = 1) -> "DataFrame":
        """pandas ``pct_change`` per group: ``col/lag(col) - 1``, with the
        pandas zero-divisor semantics (x/0 → ±inf, 0/0 → NaN) instead of the
        ANSI divide-by-zero error."""
        w = Window.partitionBy(*_ensure_list(partition_by)).orderBy(
            *[F.col(c).asc() for c in _ensure_list(order_by)])
        prev = F.lag(col, periods).over(w)
        c = F.col(col)
        ratio = (F.when(prev.isNull(), F.lit(None).cast("double"))
                 .when(prev != 0, c / prev)
                 .when(c == 0, F.lit(float("nan")))
                 .otherwise(F.lit(float("inf")) * F.signum(c)))
        return self._derive(
            self._sdf.withColumn(name, ratio - F.lit(1)),
            "pct_change", {"col": col, "periods": periods})

    _ROLL_FNS = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
                 "count": F.count, "std": F.stddev_samp, "var": F.var_samp}

    def with_rolling(self, name: str, col: str, partition_by, order_by,
                     window: int, fn: str = "mean",
                     min_periods: int | None = None) -> "DataFrame":
        """pandas ``rolling(window).fn()`` per group: a ``rowsBetween``
        window frame.  pandas yields null until ``min_periods`` (default =
        ``window``) observations exist — reproduced with a windowed count
        guard.  One shuffle on the partition keys, same as any window."""
        mp = window if min_periods is None else min_periods
        agg = self._ROLL_FNS[fn]
        w = (Window.partitionBy(*_ensure_list(partition_by))
             .orderBy(*[F.col(c).asc() for c in _ensure_list(order_by)])
             .rowsBetween(-(window - 1), Window.currentRow))
        val = F.when(F.count(F.col(col)).over(w) >= mp,
                     agg(F.col(col)).over(w))
        return self._derive(self._sdf.withColumn(name, val),
                            "rolling", {"col": col, "window": window, "fn": fn})

    _DUR_US = {"s": 1_000_000, "sec": 1_000_000, "second": 1_000_000,
               "seconds": 1_000_000, "min": 60_000_000, "t": 60_000_000,
               "minute": 60_000_000, "minutes": 60_000_000,
               "h": 3_600_000_000, "hour": 3_600_000_000,
               "hours": 3_600_000_000, "d": 86_400_000_000,
               "day": 86_400_000_000, "days": 86_400_000_000,
               "w": 604_800_000_000}

    @classmethod
    def _duration_us(cls, duration: str) -> int:
        import re
        m = re.fullmatch(r"(\d+)\s*([a-zA-Z]+)", duration.strip())
        if not m or m.group(2).lower() not in cls._DUR_US:
            raise ValueError(f"cannot parse duration {duration!r}")
        return int(m.group(1)) * cls._DUR_US[m.group(2).lower()]

    def with_time_rolling(self, name: str, col: str, partition_by,
                          ts_col: str, duration: str, fn: str = "mean",
                          min_periods: int = 1,
                          closed: str = "right") -> "DataFrame":
        """pandas time-offset rolling (``rolling("7D", on=ts)``): a
        ``rangeBetween`` frame over epoch MICROseconds — all rows of the
        partition with ts in ``(t - duration, t]`` (pandas default
        ``closed='right'``; ``'both'`` includes the left edge).  Value-based
        frames mean tied timestamps share one frame, exactly like pandas.
        Epoch micros (``unix_micros``), never ``unix_timestamp`` — second
        truncation would silently merge sub-second neighbors.  One shuffle
        on the partition keys; time-based min_periods defaults to 1
        (pandas semantics, unlike count windows)."""
        if closed not in ("right", "both"):
            raise ValueError("closed must be 'right' or 'both'")
        dur = self._duration_us(duration)
        lo = -(dur - 1) if closed == "right" else -dur
        agg = self._ROLL_FNS[fn]
        w = (Window.partitionBy(*_ensure_list(partition_by))
             .orderBy(F.unix_micros(F.col(ts_col)))
             .rangeBetween(lo, Window.currentRow))
        val = F.when(F.count(F.col(col)).over(w) >= min_periods,
                     agg(F.col(col)).over(w))
        return self._derive(self._sdf.withColumn(name, val),
                            "time_rolling",
                            {"col": col, "duration": duration, "fn": fn})

    def with_expanding(self, name: str, col: str, partition_by, order_by,
                       fn: str = "mean", min_periods: int = 1) -> "DataFrame":
        """pandas ``expanding().fn()`` per group: unbounded-preceding frame
        with the same min_periods null guard."""
        agg = self._ROLL_FNS[fn]
        w = (Window.partitionBy(*_ensure_list(partition_by))
             .orderBy(*[F.col(c).asc() for c in _ensure_list(order_by)])
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        val = F.when(F.count(F.col(col)).over(w) >= min_periods,
                     agg(F.col(col)).over(w))
        return self._derive(self._sdf.withColumn(name, val),
                            "expanding", {"col": col, "fn": fn})

    def with_ffill(self, name: str, col: str, partition_by, order_by) -> "DataFrame":
        """pandas ``ffill`` per group: ``last(col, ignorenulls) over rows
        unbounded-preceding..current`` — one shuffle on the partition keys,
        no iteration (the gap-fill primitive for time-series cleanup)."""
        w = (Window.partitionBy(*_ensure_list(partition_by))
             .orderBy(*[F.col(c).asc() for c in _ensure_list(order_by)])
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        return self._derive(
            self._sdf.withColumn(name, F.last(col, ignorenulls=True).over(w)),
            "ffill", {"col": col})

    def with_bfill(self, name: str, col: str, partition_by, order_by) -> "DataFrame":
        """pandas ``bfill`` per group: mirrored frame
        (current..unbounded-following, ``first`` ignorenulls)."""
        w = (Window.partitionBy(*_ensure_list(partition_by))
             .orderBy(*[F.col(c).asc() for c in _ensure_list(order_by)])
             .rowsBetween(Window.currentRow, Window.unboundedFollowing))
        return self._derive(
            self._sdf.withColumn(name, F.first(col, ignorenulls=True).over(w)),
            "bfill", {"col": col})

    # -- partitioning control (scale surface) ----------------------------
    def repartition(self, num: int | None = None, *cols) -> "DataFrame":
        sdf = self._sdf.repartition(num, *[F.col(c) for c in cols]) if cols \
            else self._sdf.repartition(num)
        return self._derive(sdf, "repartition", {"num": num, "cols": list(cols)})

    def coalesce(self, num: int) -> "DataFrame":
        return self._derive(self._sdf.coalesce(num), "coalesce", {"num": num})

    # -- sinks (reference ToParquet io/parquet.py:49-76) ------------------
    def _write_base(self) -> SparkDF:
        """The sdf a sink writes: hidden engine columns (in-scan labels,
        presentation stamps) never reach storage."""
        sdf = self._sdf
        drop = [c for c in (_LABEL, _ORDER) if c in sdf.columns]
        return sdf.drop(*drop) if drop else sdf

    def to_parquet(self, path: str, mode: str = "overwrite",
                   partition_by: Sequence[str] | None = None,
                   partition_cols: Sequence[str] | None = None) -> None:
        """``partition_cols`` is accepted as the pandas-compatible alias
        for ``partition_by``."""
        w = self._write_base().write.mode(mode)
        pb = partition_by or partition_cols
        if pb:
            w = w.partitionBy(*pb)
        w.parquet(path)

    def to_bucketed_table(self, name: str, bucket_by, num_buckets: int = 32,
                          sort_by=None, mode: str = "overwrite") -> None:
        """Bucketed managed table (`bucketBy` requires ``saveAsTable``).
        Two tables bucketed the same way join WITHOUT a shuffle — the
        co-located-join strategy for repeated large joins at 100 TB."""
        w = self._write_base().write.mode(mode).bucketBy(num_buckets,
                                                *_ensure_list(bucket_by))
        if sort_by is not None:
            w = w.sortBy(*_ensure_list(sort_by))
        w.format("parquet").saveAsTable(name)

    def to_sorted_parquet(self, path: str, sort_by, mode: str = "overwrite",
                          num_files: int | None = None) -> None:
        """Range-clustered parquet layout: ``repartitionByRange(sort_by)``
        + ``sortWithinPartitions(sort_by)`` before the write.

        Every output file then covers a narrow, disjoint range of the sort
        key, so its parquet footer min/max statistics actually PRUNE:
        a reader filtering on the key skips whole files (and row groups)
        instead of scanning them.  This is the single highest-leverage
        layout decision for a 100 TB table that is habitually filtered on
        one key (date, tenant, id prefix) — the poor man's Z-ORDER for the
        1-key case, without any table-format dependency."""
        cols = [F.col(c) for c in _ensure_list(sort_by)]
        base = self._write_base()
        sdf = base.repartitionByRange(num_files, *cols) if num_files \
            else base.repartitionByRange(*cols)
        sdf.sortWithinPartitions(*cols).write.mode(mode).parquet(path)

    def to_csv(self, path: str, mode: str = "overwrite", header: bool = True,
               index: bool = False) -> None:
        """Distributed CSV sink.  ``index=True`` writes the engine index
        columns as leading CSV columns (pandas' default is index=True;
        the engine defaults to False — a distributed frame usually has
        no meaningful index, and a bare rowid column in every shard is
        surprising)."""
        sdf = self._sdf
        drop = [c for c in (_ROWID, _ORDER, _LABEL) if c in sdf.columns]
        if not index and self._index_cols:
            drop += [c for c in self._index_cols if c in sdf.columns]
        if drop:
            sdf = sdf.drop(*drop)
        sdf.write.mode(mode).option("header", header).csv(path)

    def to_json(self, path: str, mode: str = "overwrite") -> None:
        self._write_base().write.mode(mode).json(path)

    def to_orc(self, path: str, mode: str = "overwrite") -> None:
        self._write_base().write.mode(mode).orc(path)

    # ------------------------------------------------------------------
    def compute(self) -> pd.DataFrame:
        sdf = self._sdf
        if _ORDER in sdf.columns:
            # present rows in the stamped order, then hide the column
            sdf = sdf.orderBy(_ORDER).drop(_ORDER)
        elif tuple(self._index_cols) == (_ROWID,):
            # stored positional labels present in label order (the rowid
            # survives alignment joins whose arrival order is scrambled)
            sdf = sdf.orderBy(_ROWID)
        if _LABEL in sdf.columns and _LABEL not in self._index_cols:
            sdf = sdf.drop(_LABEL)
        pdf = sdf.toPandas()
        if _ROWID in pdf.columns and _ROWID not in self._index_cols:
            pdf = pdf.drop(columns=[_ROWID])
        if self._index_cols:
            pdf = pdf.set_index(list(self._index_cols))
            pdf.index.names = [_scrub_name(n) for n in self._index_names]
            if (not isinstance(pdf.index, pd.MultiIndex)
                    and pdf.index.dtype == object and pdf.index.hasnans):
                # Arrow None -> pandas NaN missing marker, as for object
                # value columns (r8 review)
                pdf.index = pd.Index(
                    [np.nan if x is None else x for x in pdf.index],
                    name=pdf.index.name)
        # Arrow delivers null strings as None; pandas' missing marker in
        # object columns is NaN — normalize at the boundary (list-valued
        # object columns pass through: notna on them is elementwise-safe
        # since missing entries are scalar None)
        for c in pdf.columns:
            col = pdf[c]
            if col.dtype == object and col.isna().any():
                pdf[c] = col.where(col.notna())
        # the dtype record: categorical, period, tz-aware and exploded
        # object columns and index levels
        pdf = D.present(pdf, self._index_cols, self._dtypes)
        if _NAME_PLACEHOLDER in pdf.columns:
            pdf = pdf.rename(columns={_NAME_PLACEHOLDER: None})
        return D.present_axis(pdf, self._axis)


# --------------------------------------------------------------------------
# alignment helpers: the label pairing itself is ``_order.align``
# --------------------------------------------------------------------------
def _paired(s: "Series", other: "Series", how: str = "outer",
            a: str = "__l__", b: str = "__r__") -> DataFrame:
    """Series ``s`` and ``other`` aligned by label (``align``) as the
    columns ``a`` and ``b`` of one frame."""
    joined, lmap, rmap = align(s.to_frame(a), other.to_frame(b), how)
    return DataFrame(joined._sdf.withColumnsRenamed({lmap[a]: a, rmap[b]: b}),
                     joined._expr, joined._index_cols, joined._index_names)


def new_collection(sdf: SparkDF, expr: Node, index_cols=(), index_names=None):
    """Dispatch by result shape (reference ``new_collection``,
    ``_collection.py:589-600``): 1 data column → Series handled by callers;
    here we return DataFrame by default."""
    return DataFrame(sdf, expr, tuple(index_cols), index_names)


def _normalize_tod(t: str) -> str:
    """'9:30' / '09:30:00' / '09:30:00.5' → zero-padded 'HH:mm:ss.SSS' so
    lexicographic string comparison equals time-of-day comparison."""
    parts = t.split(".")
    hms = parts[0].split(":")
    while len(hms) < 3:
        hms.append("0")
    ms = (parts[1] + "000")[:3] if len(parts) > 1 else "000"
    return ":".join(p.zfill(2) for p in hms) + "." + ms


class _Flags:
    """pandas ``.flags`` shim — the engine allows duplicate labels."""
    allows_duplicate_labels = True

    def __repr__(self):
        return "<Flags(allows_duplicate_labels=True)>"


class _SeriesLocIndexer:
    """``s.loc[...]``: scalar label → eager value (Series of matches on
    duplicate labels); lists/masks/slices delegate to the frame loc."""

    def __init__(self, series: "Series"):
        self._s = series

    def __getitem__(self, key):
        s = self._s
        if not isinstance(key, (list, tuple, slice, Series)):
            return s.xs(key)
        name = s._col_name if s._col_name is not None else "__v__"
        return _frame_column(s.to_frame(name).loc[key], name, s._col_name)


class _SeriesILocIndexer:
    """``s.iloc[...]``: int → eager positional value; slices keep the
    distributed position pass of the frame iloc."""

    def __init__(self, series: "Series"):
        self._s = series

    def __getitem__(self, key):
        s = self._s
        if isinstance(key, int):
            return s.iat[key]
        return s._via_frame(lambda f, _n: f.iloc[key], "iloc")


class _AtIndexer:
    """Eager single-value label access (``df.at[row, col]`` /
    ``s.at[label]``) — one filtered 1-row collect, like pandas' scalar
    return."""

    def __init__(self, obj):
        self._o = obj

    def __getitem__(self, key):
        o = self._o
        if isinstance(o, Series):
            v = o.xs(key)
            if isinstance(v, Series):
                raise KeyError(f"at[{key!r}]: duplicate index labels")
            return v
        row, col = key
        if col not in o.columns:
            raise KeyError(col)
        if not o._index_cols:
            raise ValueError("at needs an index — set_index first")
        rows = (o._sdf.filter(F.col(o._index_cols[0]) == F.lit(row))
                .select(col).limit(2).collect())
        if len(rows) != 1:
            raise KeyError(row)
        return rows[0][0]


class _IatIndexer:
    """Eager single-value POSITIONAL access (``df.iat[i, j]`` /
    ``s.iat[i]``) — offset+limit over the natural order."""

    def __init__(self, obj):
        self._o = obj

    def __getitem__(self, key):
        o = self._o
        if isinstance(o, Series):
            i = int(key)
            sdf = o._sdf.select(o._scol.alias("__v__"))
        else:
            i, j = key
            sdf = o._sdf.select(F.col(o.columns[j]).alias("__v__"))
        if i < 0:
            i += sdf.count()
        rows = sdf.offset(i).limit(1).collect()
        if not rows:
            raise IndexError("iat index out of bounds")
        return rows[0][0]


class _LocIndexer:
    """Pragmatic lazy ``df.loc``: masks, column slices, label lookups.

    Presentation-shaped results (a scalar label's row Series, the
    requested order of a label list) follow pandas even where that costs
    a small eager action — loc is the reference's label-presentation
    surface, and the actions are bounded by the REQUEST size (one
    collect of the matching rows / one matched-label count), never a
    corpus shuffle."""

    def __init__(self, frame: "DataFrame"):
        self._f = frame

    def __setitem__(self, key, value):
        """pandas ``df.loc[rows, col] = value`` for the lazy engine: a
        full-slice row selector is a plain column assign; a boolean-mask
        selector lowers to a conditional projection
        (``when(mask, value).otherwise(col)``) — pure JVM expressions, no
        data movement.  The wrapper rebinds in place, same contract as
        ``df[col] = value``."""
        f = self._f
        if not (isinstance(key, tuple) and len(key) == 2):
            raise TypeError(
                "loc assignment needs df.loc[rows, col] = value")
        rows, cols = key
        cols = [cols] if isinstance(cols, str) else list(cols)
        if isinstance(rows, slice) and rows == slice(None):
            for c in cols:
                f[c] = value
            return
        if isinstance(rows, Series):
            if rows._sdf is not f._sdf:
                raise ValueError(
                    "loc mask assignment needs a mask derived from this "
                    "frame")
            val = (value._scol
                   if isinstance(value, Series) and value._sdf is f._sdf
                   else _lit(value))
            updates = {}
            for c in cols:
                if c in f.columns:
                    updates[c] = F.when(rows._scol, val) \
                        .otherwise(F.col(c))
                else:
                    updates[c] = F.when(rows._scol, val)
            out = f._derive(f._sdf.withColumns(updates), "loc_setitem",
                            {"columns": cols, "value": value})
            f._sdf, f._expr = out._sdf, out._expr
            return
        raise TypeError(
            "loc assignment supports df.loc[:, col] and "
            "df.loc[bool_mask, col] selectors")

    def _label_list(self, f: "DataFrame", labels: list):
        """Rows for a label list: pandas preserves the REQUESTED order
        (duplicated requests duplicate rows) and raises KeyError when any
        label is absent.  Broadcast (pos, label) inner join + one tiny
        matched-label count for the missing check; the order sort is
        bounded by the selection size."""
        icol = f._index_cols[0]
        spark = f._sdf.sparkSession
        dtype = f._sdf.schema[icol].dataType
        lbl = spark.createDataFrame(
            [(l, i) for i, l in enumerate(labels)],
            T.StructType([T.StructField(icol, dtype),
                          T.StructField("__pos__", T.LongType())]))
        hits = f._sdf.join(F.broadcast(lbl), icol, "inner")
        n_matched = hits.select(icol).distinct().count()
        if n_matched < len(set(labels)):
            matched = {r[0] for r in
                       hits.select(icol).distinct().collect()}
            missing = [l for l in labels if l not in matched]
            raise KeyError(f"{missing} not in index")
        out = hits.orderBy("__pos__").drop("__pos__") \
            .select(*f._index_cols, *f.columns)
        return f._derive(out, "loc_list", {"n": len(labels)})

    def _scalar_row(self, f: "DataFrame", key):
        """pandas: ``df.loc[label]`` is the ROW as a Series (index =
        columns, name = label) when the label is unique, the matching
        sub-frame when duplicated, KeyError when absent.  One bounded
        collect (the matching rows).

        A PARTIAL datetime string key (day or coarser-than-second
        resolution: "2024-02-25", "2024-02", "2024-02-25 05") selects its
        whole period as a LAZY sub-frame — pandas partial-string
        indexing; a full-resolution string stays an exact row lookup."""
        icol = f._index_cols[0]
        ic_type = f._sdf.schema[icol].dataType
        if isinstance(key, str) and isinstance(
                ic_type, (T.TimestampType, T.TimestampNTZType, T.DateType)):
            try:
                per = pd.Period(key)
            except Exception:
                per = None
            if per is not None and per.freqstr.lower() not in (
                    "s", "ms", "us", "ns"):
                c = F.col(icol)
                lo = per.start_time.to_pydatetime()
                hi = (per + 1).start_time.to_pydatetime()
                sub = f._derive(
                    f._sdf.filter((c >= F.lit(lo)) & (c < F.lit(hi))),
                    "loc_partial_string", {"period": str(per)})
                return sub
        hit = f._derive(f._sdf.filter(F.col(icol) == F.lit(key)), "loc",
                        {"label": repr(key)})
        pdf = hit.compute()
        if len(pdf) == 0:
            raise KeyError(key)
        if len(pdf) == 1:
            row = pdf.iloc[0]
            row.name = key
            return row
        return hit   # duplicate labels: lazy sub-frame

    def _mi_key(self, f: "DataFrame", key: tuple):
        """Tuple key on a multi-level index: filter the leading levels
        and DROP them (pandas cross-section); a full-depth key yields the
        row Series / sub-frame like the scalar path."""
        icols = list(f._index_cols)
        cond = None
        for c, k in zip(icols, key):
            p = F.col(c) == F.lit(k)
            cond = p if cond is None else (cond & p)
        rest = icols[len(key):]
        if rest:
            base = f._sdf.filter(cond).drop(*icols[:len(key)])
            names = tuple(f._index_names[len(key):])
            return DataFrame(base, Node("loc_mi", {"key": repr(key)},
                                        f._expr), tuple(rest), names)
        # full-depth key: unique match → row Series (name = key);
        # duplicated full key → sub-frame KEEPING the index (pandas)
        hit = f._derive(f._sdf.filter(cond), "loc_mi", {"key": repr(key)})
        pdf = hit.compute()
        if len(pdf) == 0:
            raise KeyError(key)
        if len(pdf) == 1:
            row = pdf.iloc[0]
            row.name = key
            return row
        return hit

    def _bool_list(self, f: "DataFrame", key: list):
        """Positional boolean-list mask (pandas: length must equal the
        row count; True rows kept in order)."""
        # a distinct anchor name: an indexed frame may already carry
        # _ROWID as its index column (filter survivors)
        pos = "__loc_pos__"
        sdf = positions(f, pos)
        n = sdf.count()
        if n != len(key):
            raise IndexError(
                f"Boolean index has wrong length: {len(key)} instead "
                f"of {n}")
        keep = [i for i, b in enumerate(key) if b]
        spark = f._sdf.sparkSession
        kdf = spark.createDataFrame(
            [(i,) for i in keep],
            T.StructType([T.StructField(pos, T.LongType())]))
        out = sdf.join(F.broadcast(kdf), pos, "left_semi")
        if not f._index_cols:
            # pandas keeps the surviving rows' ORIGINAL labels — promote
            # the positional anchor to the index (r8 name/label hunt: the
            # old drop renumbered 0..n-1)
            return f._derive(out.withColumnRenamed(pos, _ROWID),
                             "loc_bool", {"n_true": len(keep)},
                             index_cols=(_ROWID,), index_names=(None,))
        if _ORDER not in out.columns:
            # unstamped indexed frame: the semi-join scrambles arrival —
            # positions ascending ARE the presentation order
            out = out.withColumnRenamed(pos, _ORDER)
        else:
            out = out.drop(pos)
        return f._derive(out, "loc_bool", {"n_true": len(keep)})

    def _rows(self, key):
        f = self._f
        if callable(key) and not isinstance(key, (Series, slice)):
            return self._rows(key(f))
        if isinstance(key, slice):
            if key.start is None and key.stop is None:
                return f
            if key.step is not None:
                raise NotImplementedError("loc label slices with a step")
            if not f._index_cols:
                raise ValueError("loc label slice needs an index — "
                                 "set_index first")
            # pandas label slices are INCLUSIVE on both ends; on a
            # monotonic index this is exactly a range filter (truncate).
            # A partial datetime STRING bound expands to its whole period
            # (pandas partial-string indexing: stop "2024-02-27" includes
            # all of Feb 27) — lowered to [start_of(start), start_of(
            # stop's NEXT period)), microsecond-exact, still a pushdown-
            # friendly range predicate.
            c = F.col(f._index_cols[0])
            ic_type = f._sdf.schema[f._index_cols[0]].dataType
            is_dt = isinstance(ic_type, (T.TimestampType, T.TimestampNTZType,
                                         T.DateType))
            sdf = f._sdf
            if key.start is not None:
                lo = key.start
                if is_dt and isinstance(lo, str):
                    lo = pd.Period(lo).start_time.to_pydatetime()
                sdf = sdf.filter(c >= F.lit(lo))
            if key.stop is not None:
                hi = key.stop
                if is_dt and isinstance(hi, str):
                    nxt = (pd.Period(hi) + 1).start_time.to_pydatetime()
                    sdf = sdf.filter(c < F.lit(nxt))
                else:
                    sdf = sdf.filter(c <= F.lit(hi))
            return f._derive(sdf, "loc_slice",
                             {"start": key.start, "stop": key.stop})
        if isinstance(key, Series):
            return f[key]
        if isinstance(key, list) and key and all(
                isinstance(b, (bool, np.bool_)) for b in key):
            return self._bool_list(f, key)
        if not f._index_cols:
            raise ValueError("label lookup needs an index — set_index first")
        if isinstance(key, tuple) and len(f._index_cols) > 1:
            if len(key) > len(f._index_cols):
                raise KeyError(key)
            return self._mi_key(f, key)
        if isinstance(key, (list, tuple)):
            return self._label_list(f, list(key))
        if len(f._index_cols) > 1:
            # partial scalar key on a multi-level index: cross-section
            return self._mi_key(f, (key,))
        return self._scalar_row(f, key)

    def __getitem__(self, key):
        f = self._f
        if isinstance(key, tuple) and len(key) == 2 and not (
                len(f._index_cols) > 1
                and not self._is_col_spec(key[1])):
            rows, cols = key
            scalar_row = not isinstance(rows, (slice, list, tuple, Series)) \
                and not callable(rows)
            if isinstance(cols, slice):
                if cols.start is None and cols.stop is None:
                    return self._rows(rows)
                raise NotImplementedError("loc column label slices")
            if scalar_row:
                # pandas: df.loc[label, col] is the CELL VALUE (a Series
                # only when the label is duplicated) — one 1-col collect.
                # Select the columns FIRST so the collect stays narrow.
                icol = f._index_cols[0]
                base = f._derive(
                    f._sdf.filter(F.col(icol) == F.lit(rows)), "loc",
                    {"label": repr(rows)})
                if isinstance(cols, (list, tuple)):
                    sub = base[list(cols)].compute()
                    if len(sub) == 0:
                        raise KeyError(rows)
                    if len(sub) == 1:
                        row = sub.iloc[0]
                        row.name = rows
                        return row
                    return base[list(cols)]
                vals = base[cols].compute()
                if len(vals) == 1:
                    return vals.iloc[0]
                if len(vals) == 0:
                    raise KeyError(rows)
                return vals
            out = self._rows(rows)
            if isinstance(cols, (list, tuple)):
                return out[list(cols)]
            return out[cols]
        return self._rows(key)

    def _is_col_spec(self, cols) -> bool:
        """Second tuple element looks like a column selection of this
        frame (disambiguates ``mi.loc[(l0, l1)]`` from
        ``df.loc[rows, cols]``)."""
        f = self._f
        if isinstance(cols, slice):
            return True
        if isinstance(cols, str):
            return cols in f.columns
        if isinstance(cols, (list, tuple)):
            return all(isinstance(c, str) and c in f.columns for c in cols)
        return False


class _ILocIndexer:
    """Pragmatic lazy ``df.iloc``: head/range slices and positional
    column selection.  Row ranges use the distributed global position
    (one range pass), never a single-task window."""

    def __init__(self, frame: "DataFrame"):
        self._f = frame

    def __getitem__(self, key):
        f = self._f
        cols = None
        if isinstance(key, tuple) and len(key) == 2:
            key, cols = key
        out = self._row_slice(key)
        if cols is not None:
            names = f.columns
            if isinstance(out, pd.Series):
                # int row key already collapsed to the row Series
                if isinstance(cols, slice):
                    return out[names[cols]]
                if isinstance(cols, (list, tuple)):
                    return out[[names[c] for c in cols]]
                return out[names[cols]]     # df.iloc[i, j] → scalar
            if isinstance(cols, slice):
                sel = names[cols]
            elif isinstance(cols, (list, tuple)):
                sel = [names[c] for c in cols]
            else:
                sel = [names[cols]]
            out = out[sel]
        return out

    def _row_slice(self, key):
        f = self._f
        if isinstance(key, slice):
            step = 1 if key.step is None else key.step
            if step == 0:
                raise ValueError("slice step cannot be zero")
            if step < 0:
                # reversal: same distributed position pass, descending
                # emit order (one count job resolves the end anchor —
                # the cost class already accepted for negative offsets)
                from .functions import scan
                n = f._sdf.count()
                s = -step
                start = n - 1 if key.start is None else (
                    key.start if key.start >= 0 else n + key.start)
                start = min(start, n - 1)
                stop = -1 if key.stop is None else (
                    key.stop if key.stop >= 0 else n + key.stop)
                if f._index_cols:
                    order = [_ORDER] if _ORDER in f._sdf.columns \
                        else list(f._index_cols)
                    pos = scan.global_pos(f._sdf, order)
                else:
                    # unindexed: the position column doubles as the label
                    pos = positions(f, "__pos__")
                cond = ((F.col("__pos__") <= start)
                        & (F.col("__pos__") > stop)
                        & ((start - F.col("__pos__")) % s == 0))
                hit = pos.filter(cond)
                # pandas keeps labels through a reversal; the reversed
                # presentation rides the _ORDER stamp (downstream scans
                # prefer the stamp; a bare orderBy would be elided by
                # Catalyst before the next exchange)
                new_stamp = ((F.lit(start) - F.col("__pos__"))
                             / F.lit(s)).cast("long")
                out = hit.withColumn(_ORDER, new_stamp)
                if not f._index_cols:
                    return f._derive(
                        out.withColumnRenamed("__pos__", _ROWID), "iloc",
                        {"step": step}, (_ROWID,), (None,))
                return f._derive(out.drop("__pos__"), "iloc",
                                 {"step": step})
            start, stop = key.start, key.stop
            if (start is not None and start < 0) or \
                    (stop is not None and stop < 0):
                # negative positions anchor to the end: ONE count job
                # resolves them to absolute offsets, then the same
                # distributed position pass applies
                n = f._sdf.count()
                if start is not None and start < 0:
                    start = max(0, n + start)
                if stop is not None and stop < 0:
                    stop = max(0, n + stop)
            start = start or 0
            if step == 1 and start == 0 and stop is None:
                return f
            if step == 1 and start == 0:
                return f.head(stop)
            from .functions import scan
            if f._index_cols:
                # a stamped frame's index order is NOT its presentation
                order = [_ORDER] if _ORDER in f._sdf.columns \
                    else list(f._index_cols)
                pos = scan.global_pos(f._sdf, order)
            else:
                # unindexed: the position column doubles as the label
                pos = positions(f, "__pos__")
            cond = F.col("__pos__") >= start
            if stop is not None:
                cond = cond & (F.col("__pos__") < stop)
            if step != 1:
                cond = cond & ((F.col("__pos__") - start) % step == 0)
            hit = pos.filter(cond)
            params = {"start": start, "stop": stop, "step": step}
            if not f._index_cols:
                # pandas keeps the sliced rows' ORIGINAL positional labels
                return f._derive(hit.withColumnRenamed("__pos__", _ROWID),
                                 "iloc", params, (_ROWID,), (None,))
            return f._derive(hit.drop("__pos__"), "iloc", params)
        if isinstance(key, (int, np.integer)):
            # pandas: df.iloc[i] is the ROW as a Series (name = the index
            # label at that position); one bounded 1-row collect
            k = int(key)
            if k < 0:
                k += f._sdf.count()
                if k < 0:
                    raise IndexError(f"single positional indexer {key} "
                                     "is out-of-bounds")
            pdf = self._row_slice(slice(k, k + 1)).compute()
            if len(pdf) == 0:
                raise IndexError(f"single positional indexer {key} "
                                 "is out-of-bounds")
            row = pdf.iloc[0]
            if not f._index_cols:
                row.name = k   # default index: the label IS the position
            return row
        raise NotImplementedError("iloc supports slices (use loc for labels)")
