"""Grouped aggregations (reference ``_groupby.py`` → SURVEY §2.6).

Every grouped reduction lowers to one ``df.groupBy(*by).agg(...)`` — Catalyst
plans partial (map-side) + final hash aggregation with a single shuffle on the
group keys; AQE coalesces/splits post-shuffle partitions.  This is strictly
stronger than the reference's single-task ``pd.groupby`` (``_groupby.py:24-133``).

Unlike the reference we support ``sort=True`` (rejected at
``_groupby.py:305-306``) — in Spark it is just an ``orderBy`` on the result.
"""

from __future__ import annotations

from typing import Any, Callable, Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql import types as T

from .. import _dtypes as D
from .._dtypes import is_numeric, to_spark_type
from .._expr import Node
from .._order import _positional_order

def _moments(c: Column, k: int):
    """(n, [Σx..Σx^k]) as double — combined into ONE aggregate expression so
    grouped skew/kurt/sem stay a single partial+final agg (no second scan)."""
    x = c.cast("double")
    sums, p = [], x
    for _ in range(k):
        sums.append(F.sum(p))
        p = p * x
    return F.count(x).cast("double"), sums


def _skew_g1(c: Column) -> Column:
    """pandas bias-corrected G1 (F.skewness is the population g1).
    pandas edges: n < 3 → NaN; zero variance → 0.0 — both guarded BEFORE
    the division (ANSI would error on /0)."""
    n, (s1, s2, s3) = _moments(c, 3)
    m = s1 / n
    m2 = s2 / n - m * m
    m3 = s3 / n - 3 * m * (s2 / n) + 2 * m * m * m
    core = (m3 / F.sqrt(m2 * m2 * m2)) * F.sqrt(n * (n - 1)) / (n - 2)
    return (F.when(n < 3, F.lit(None).cast("double"))
            .when(m2 <= 0, F.lit(0.0)).otherwise(core))


def _kurt_g2(c: Column) -> Column:
    """pandas bias-corrected excess kurtosis G2.
    pandas edges: n < 4 → NaN; zero variance → 0.0 (guarded, see skew)."""
    n, (s1, s2, s3, s4) = _moments(c, 4)
    m = s1 / n
    m2 = s2 / n - m * m
    m4 = (s4 / n - 4 * m * (s3 / n) + 6 * m * m * (s2 / n)
          - 3 * m * m * m * m)
    g2 = m4 / (m2 * m2) - 3
    core = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
    return (F.when(n < 4, F.lit(None).cast("double"))
            .when(m2 <= 0, F.lit(0.0)).otherwise(core))


_AGG_FNS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "prod": F.product,
    "product": F.product,
    "min": F.min,
    "max": F.max,
    "count": F.count,
    "mean": F.avg,
    "avg": F.avg,
    "median": F.median,
    "median_approx": lambda c: F.percentile_approx(c, 0.5, 10000),
    "var": F.var_samp,
    "std": F.stddev_samp,
    "first": lambda c: F.first(c, ignorenulls=True),
    "last": lambda c: F.last(c, ignorenulls=True),
    "nunique": F.countDistinct,
    "any": lambda c: F.max(F.coalesce(c.cast("boolean"), F.lit(False))),
    "all": lambda c: F.min(F.coalesce(c.cast("boolean"), F.lit(True))),
    "size": lambda c: F.count(F.lit(1)),
    # all-null group → count 0 → /0 would ANSI-error; pandas yields NaN
    "sem": lambda c: F.when(F.count(c) > 0,
                            F.stddev_samp(c) / F.sqrt(F.count(c))),
    "skew": _skew_g1,
    "kurt": _kurt_g2,
    "collect_list": F.collect_list,
    "collect_set": F.collect_set,
    "approx_nunique": F.approx_count_distinct,
}


# aggregates whose empty-group value is 0 (not null) — pandas fills these
# with 0 when resample materializes empty bins
_COUNT_LIKE_FNS = {"count", "size", "nunique", "approx_nunique"}

# pandas: an all-NaN group sums to 0 / multiplies to 1 (min_count=0)
_AGG_IDENTITY = {"sum": 0, "prod": 1}


def _callable_agg(f):
    """Wrap an arbitrary Python reducer (pd.Series → scalar) as an Arrow
    GROUPED_AGG pandas_udf (the Series→float type hints select the
    grouped-aggregate eval type)."""
    def _w(s: pd.Series) -> float:
        return float(f(s))
    return F.pandas_udf(_w, "double")


class GroupBy:
    """Reference ``GroupBy`` collection (``_groupby.py:257-335``)."""

    def __init__(self, frame, by: list[str], sort: bool = True,
                 as_index: bool = True, dropna: bool = True,
                 slice_: list[str] | None = None, kind: str = "groupby",
                 sets: list[list[str]] | None = None,
                 observed: bool = True, slice_scalar: bool = False):
        self._frame = frame
        self._by = by
        self._sort = sort
        self._as_index = as_index
        self._dropna = dropna
        self._slice = slice_
        # a STRING slice is a SeriesGroupBy in pandas (bare stat names in
        # describe etc.); a 1-list slice stays a DataFrameGroupBy
        self._slice_scalar = slice_scalar
        # "groupby" | "rollup" | "cube" | "grouping_sets" — the latter three
        # lower to Spark's native multi-grouping-set aggregation (one
        # shuffle, subtotal rows marked by NULL keys; SURVEY §2.5 noted gap)
        self._kind = kind
        self._sets = sets
        # pandas groupby(observed=False) on categorical keys: emit a row for
        # every known category even if absent from the data.  Known
        # categories come from the frame's dtype record; they also order
        # the keys (pandas sorts a categorical by category position).
        self._observed = observed
        self._cats = {b: list(e.categories) for b, e in
                      frame._entries(by).items() if e.categories}

    # -- slicing (reference `_groupby.py:320-335`) -----------------------
    def __getitem__(self, key):
        keys = [key] if isinstance(key, str) else list(key)
        missing = [k for k in keys if k not in self._frame.columns]
        if missing:
            raise KeyError(missing)
        return self._sliced(keys, isinstance(key, str))

    def _sliced(self, keys, scalar: bool):
        return GroupBy(self._frame, self._by, self._sort, self._as_index,
                       self._dropna, slice_=keys, kind=self._kind,
                       sets=self._sets, observed=self._observed,
                       slice_scalar=scalar)

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        if name in self._frame.columns:
            return self[name]
        raise AttributeError(name)

    # ------------------------------------------------------------------
    def _value_columns(self, numeric_only: bool = False) -> list[str]:
        cols = self._slice if self._slice is not None else \
            [c for c in self._frame.columns if c not in self._by]
        if numeric_only:
            schema = {f.name: f.dataType for f in self._frame._sdf.schema.fields}
            cols = [c for c in cols if is_numeric(schema[c])]
        return cols

    def _grouped_sdf(self):
        sdf = self._frame._sdf
        if self._dropna:
            for b in self._by:
                sdf = sdf.filter(F.col(b).isNotNull())
        return sdf

    def _grouping(self, sdf):
        if self._kind == "rollup":
            return sdf.rollup(*self._by)
        if self._kind == "cube":
            return sdf.cube(*self._by)
        if self._kind == "grouping_sets":
            return sdf.groupingSets(self._sets, *self._by)
        return sdf.groupBy(*self._by)

    def _finish(self, out, op: str, count_like=(), fill_ident=None,
                labels=None):
        """The grouped result over ``out``.  Empty groups fill the
        ``count_like`` columns with 0 and the ``fill_ident`` ones with
        their agg identity; ``labels`` maps flat result columns to
        pandas' MultiIndex tuples (list/dict-of-list agg specs)."""
        from .._collection import DataFrame, Series
        if self._kind == "groupby" and not self._observed and self._cats:
            out = self._complete_unobserved(out, count_like, fill_ident)
        if self._sort:
            out = out.orderBy(*[self._key_order(b).asc() for b in self._by])
        node = Node("groupby_" + op, {"by": self._by}, self._frame._expr)
        idx = tuple(self._by) if self._as_index else ()
        names = tuple(self._by) if self._as_index else None
        keys = self._frame._entries(self._by)
        value_cols = [c for c in out.columns if c not in self._by]
        # pandas: only a STRING slice (SeriesGroupBy) collapses to a
        # Series; gb[["v"]] stays a one-column DataFrame
        if self._as_index and self._slice_scalar and len(value_cols) == 1:
            return Series(out, F.col(value_cols[0]), value_cols[0], node,
                          idx, names, keys)
        return DataFrame(out, node, idx, names, keys,
                         D.axis_record(labels or ()))

    def _key_order(self, b: str):
        """The sort key of group key ``b``: a known categorical sorts by
        category position."""
        cats = self._cats.get(b)
        if not cats:
            return F.col(b)
        return F.array_position(F.array(*[F.lit(c) for c in cats]),
                                F.col(b))

    def _complete_unobserved(self, out, count_like, fill_ident):
        """Left-join the aggregate onto the full category spine so
        unobserved categories appear (count-like aggs filled with 0, the
        rest NULL — pandas semantics).  The spine is driver-side category
        metadata crossed with the observed values of any non-categorical
        key: tiny, broadcast into the join — no extra data shuffle."""
        spark = out.sparkSession
        spine = None
        for b in self._by:
            if b in self._cats:
                bt = out.schema[b].dataType
                cdf = spark.createDataFrame(
                    [(v,) for v in self._cats[b]], T.StructType(
                        [T.StructField(b, bt)]))
            else:
                cdf = out.select(b).distinct()
            spine = cdf if spine is None else spine.crossJoin(cdf)
        filled = F.broadcast(spine).join(out, self._by, "left")
        zero = {c: F.coalesce(F.col(c), F.lit(0))
                for c in count_like if c in filled.columns}
        # unobserved categories take the agg identity too (pandas:
        # sum → 0, prod → 1 for empty groups)
        for c, ident in (fill_ident or {}).items():
            if c in filled.columns and c not in zero:
                zero[c] = F.coalesce(F.col(c), F.lit(ident))
        return filled.withColumns(zero) if zero else filled

    def _single_agg(self, fn_name: str, numeric_only: bool = False):
        cols = self._value_columns(numeric_only)
        fn = _AGG_FNS[fn_name]
        # pandas: an all-NaN group sums to 0 / multiplies to 1 under the
        # default min_count=0 (Spark's SUM of no non-null rows is null)
        ident = _AGG_IDENTITY.get(fn_name)
        aggs = [(F.coalesce(fn(F.col(c)), F.lit(ident)) if ident is not None
                 else fn(F.col(c))).alias(c) for c in cols]
        out = self._grouping(self._grouped_sdf()).agg(*aggs)
        # empty SPINE bins (Resampler fill_empty / unobserved categories)
        # take the same identity pandas gives an empty bin: sum→0, prod→1
        return self._finish(
            out, fn_name, cols if fn_name in _COUNT_LIKE_FNS else (),
            {c: ident for c in cols} if ident is not None else None)

    def _min_count_agg(self, fn_name: str, numeric_only: bool,
                       min_count: int):
        """pandas ``min_count=``: a group's result is null when its non-NA
        count falls short — same single shuffle, the count rides along as
        a second agg expression per column."""
        cols = self._value_columns(numeric_only)
        fn = _AGG_FNS[fn_name]
        aggs = [F.when(F.count(F.col(c)) >= min_count,
                       fn(F.col(c))).alias(c) for c in cols]
        out = self._grouping(self._grouped_sdf()).agg(*aggs)
        return self._finish(out, fn_name)

    # -- the reference's grouped reductions (`_groupby.py:193-238`) ------
    def sum(self, numeric_only: bool = True, min_count: int = 0):
        if min_count > 0:
            return self._min_count_agg("sum", numeric_only, min_count)
        return self._single_agg("sum", numeric_only)
    def prod(self, numeric_only: bool = True, min_count: int = 0):
        if min_count > 0:
            return self._min_count_agg("prod", numeric_only, min_count)
        return self._single_agg("prod", numeric_only)
    def min(self, numeric_only: bool = False): return self._single_agg("min", numeric_only)
    def max(self, numeric_only: bool = False): return self._single_agg("max", numeric_only)
    def count(self): return self._single_agg("count")
    def mean(self, numeric_only: bool = True): return self._single_agg("mean", numeric_only)
    def median(self, numeric_only: bool = True): return self._single_agg("median", numeric_only)
    def var(self, ddof: int = 1, numeric_only: bool = True):
        if ddof in (0, 1):
            name = "var" if ddof == 1 else "var_pop"
            _AGG_FNS.setdefault("var_pop", F.var_pop)
            return self._single_agg(name, numeric_only)
        return self._moment_agg(ddof, sqrt=False)
    def std(self, ddof: int = 1, numeric_only: bool = True):
        if ddof in (0, 1):
            name = "std" if ddof == 1 else "std_pop"
            _AGG_FNS.setdefault("std_pop", F.stddev_pop)
            return self._single_agg(name, numeric_only)
        return self._moment_agg(ddof, sqrt=True)

    def quantile(self, q: float = 0.5, interpolation: str = "linear"):
        """Grouped quantile — Spark's EXACT ``percentile`` aggregate
        (linear interpolation, the pandas default) in one shuffle with
        map-side partials.  Non-linear interpolations raise; use
        ``median``/``agg`` with ``percentile_approx`` for sketched
        variants at extreme cardinality."""
        if interpolation != "linear":
            raise ValueError("groupby.quantile supports interpolation="
                             "'linear' only")
        cols = self._value_columns(True)
        if isinstance(q, (list, tuple)):
            # pandas list-q: one percentile-array aggregation per column
            # (still a single shuffle), then a tiny posexplode over the
            # literal q list — index becomes (by..., q)
            qs = [float(x) for x in q]
            arr = F.array(*[F.lit(x) for x in qs])
            agg = self._grouping(self._grouped_sdf()).agg(
                *[F.percentile(F.col(c), arr).alias(c) for c in cols])
            ex = agg.select(*[F.col(b) for b in self._by],
                            F.posexplode(arr).alias("__qi__", "__q__"),
                            *[F.col(c).alias(f"__arr_{c}__") for c in cols])
            out = ex.select(
                *[F.col(b) for b in self._by], F.col("__q__"),
                *[F.element_at(F.col(f"__arr_{c}__"),
                               F.col("__qi__") + 1).alias(c) for c in cols])
            if self._sort:
                out = out.orderBy(*[F.col(b).asc() for b in self._by],
                                  F.col("__q__").asc())
            from .._collection import DataFrame, Series
            node = Node("groupby_quantile", {"by": self._by, "q": qs},
                        self._frame._expr)
            idx = tuple(self._by) + ("__q__",)
            names = tuple(self._by) + (None,)
            if self._slice is not None and len(cols) == 1:
                return Series(out, F.col(cols[0]), cols[0], node, idx, names)
            return DataFrame(out, node, idx, names)
        aggs = [F.percentile(F.col(c), F.lit(q)).alias(c) for c in cols]
        out = self._grouping(self._grouped_sdf()).agg(*aggs)
        return self._finish(out, "quantile")

    def _moment_agg(self, ddof: int, sqrt: bool):
        """General-``ddof`` grouped var/std via sufficient statistics
        (SURVEY §2.5: n, Σx, Σx²) — one shuffle with map-side partial
        aggregation, same plan shape as the built-in var/std."""
        cols = self._value_columns(True)
        aggs = []
        for c in cols:
            x = F.col(c).cast("double")
            n = F.count(x)
            # n ≤ ddof → NaN in pandas; the raw /0 is an ANSI error
            v = F.when(n > ddof,
                       (F.sum(x * x) - F.sum(x) * F.sum(x) / n)
                       / (n - F.lit(ddof)))
            aggs.append((F.sqrt(v) if sqrt else v).alias(c))
        out = self._grouping(self._grouped_sdf()).agg(*aggs)
        return self._finish(out, "std" if sqrt else "var")
    def first(self): return self._single_agg("first")
    def last(self): return self._single_agg("last")
    def sem(self, numeric_only: bool = True): return self._single_agg("sem", numeric_only)
    def skew(self, numeric_only: bool = True): return self._single_agg("skew", numeric_only)
    def kurt(self, numeric_only: bool = True): return self._single_agg("kurt", numeric_only)
    def nunique(self): return self._single_agg("nunique")
    def any(self): return self._single_agg("any")
    def all(self): return self._single_agg("all")

    def idxmin(self, numeric_only: bool = True):
        return self._idx_extreme(F.min_by, "idxmin", numeric_only)

    def idxmax(self, numeric_only: bool = True):
        return self._idx_extreme(F.max_by, "idxmax", numeric_only)

    def _idx_extreme(self, fn, op: str, numeric_only: bool):
        """pandas grouped ``idxmin``/``idxmax``: the INDEX label of each
        group's extreme row, per value column — one struct-min aggregate
        on the engine index column (one shuffle, same plan as any grouped
        agg).  Ties on the value take the SMALLEST index (pandas' first
        occurrence): min(struct(value, idx)) for idxmin, and
        min(struct(-value, idx)) for idxmax on numeric columns (bare
        min_by/max_by leave the tie arbitrary — silent wrong labels).  A
        positional (trivial) index materializes the 0..n-1 row labels
        first (``positions``), never a single-task window."""
        idx_cols = self._frame._index_cols
        if not idx_cols:
            from .._collection import positions
            base = positions(self._frame, "__pos__")
            if self._dropna:
                for b in self._by:
                    base = base.filter(F.col(b).isNotNull())
            idx = F.col("__pos__")
            grouped = self._grouping(base)
        else:
            idx = F.col(idx_cols[0])
            grouped = self._grouping(self._grouped_sdf())
        cols = self._value_columns(numeric_only)
        schema = {f.name: f.dataType
                  for f in self._frame._sdf.schema.fields}
        aggs = []
        for c in cols:
            v = F.col(c)
            if isinstance(schema.get(c), T.NumericType):
                key_v = (-v) if fn is F.max_by else v
                key = F.when(v.isNotNull(),
                             F.struct(key_v.alias("v"), idx.alias("i")))
                aggs.append(F.min(key)["i"].alias(c))
            else:
                # non-numeric extremes: keep min_by/max_by (tie arbitrary)
                aggs.append(fn(idx, v).alias(c))
        out = grouped.agg(*aggs)
        return self._finish(out, op)

    def size(self):
        from .._collection import DataFrame, Series
        out = self._grouping(self._grouped_sdf()).agg(
            F.count(F.lit(1)).alias("size"))
        if self._sort:
            out = out.orderBy(*[F.col(b).asc() for b in self._by])
        node = Node("groupby_size", {"by": self._by}, self._frame._expr)
        if self._as_index:
            # pandas groupby.size() returns a Series
            return Series(out, F.col("size"), "size", node,
                          tuple(self._by), tuple(self._by))
        return DataFrame(out, node, (), None)

    def value_counts(self, ascending: bool = False, dropna: bool = True,
                     normalize: bool = False):
        """Grouped value_counts (`_groupby.py:228-238`) →
        ``groupBy(by + value_cols).count()``.  Returns the pandas shape: a
        Series named ``count`` (``proportion`` when normalized) indexed by
        (by..., value columns).  ``dropna=True`` (pandas default) excludes
        rows with a null value; ``normalize=True`` divides by the group
        total (one window agg over the tiny counted table, not the data)."""
        cols = self._value_columns()
        src = self._grouped_sdf()
        if dropna:
            for c in cols:
                src = src.filter(F.col(c).isNotNull())
        out = (src.groupBy(*self._by, *cols)
               .agg(F.count(F.lit(1)).alias("count")))
        name = "count"
        if normalize:
            from pyspark.sql import Window as _W
            tot = F.sum("count").over(_W.partitionBy(*self._by))
            out = out.withColumn("proportion", F.col("count") / tot) \
                     .drop("count")
            name = "proportion"
        from .._collection import Series
        node = Node("groupby_value_counts", {"by": self._by}, self._frame._expr)
        if self._sort:
            out = out.orderBy(*[F.col(b).asc() for b in self._by],
                              F.col(name).asc() if ascending
                              else F.desc(name))
        idx = tuple(self._by) + tuple(cols)
        return Series(out, F.col(name), name, node, idx, idx)

    # -- agg-spec compiler (reference GroupbyAggregation `_groupby.py:136-190`)
    # aggs meaningful on non-numeric columns; anything else applied
    # across-the-board ("sum" over a whole frame) silently skips strings
    # rather than doing pandas' string-concatenation sum — concat-sum over
    # a shuffled 100 TB group is an antipattern we deliberately don't port.
    _ANY_DTYPE_AGGS = {"min", "max", "count", "first", "last", "nunique",
                       "size"}

    def agg(self, spec: Any = None, **named):
        cols = self._value_columns()
        aggs: list[Column] = []
        count_like: set[str] = set()
        fill_ident: dict[str, Any] = {}

        udf_aggs: list[Column] = []
        order: list[str] = []

        def one(col: str, fn_name, alias: str):
            order.append(alias)
            if callable(fn_name) and not isinstance(fn_name, str):
                # arbitrary Python reducer → Arrow GROUPED_AGG pandas_udf
                # (Series → scalar; slow path by construction, but still
                # one distributed aggregation — never a driver collect).
                # Spark cannot mix these with JVM aggregates in one agg,
                # so they collect separately and key-join back below.
                udf_aggs.append(
                    _callable_agg(fn_name)(F.col(col)).alias(alias))
                return
            fn = _AGG_FNS.get(fn_name)
            if fn is None:
                raise ValueError(f"Unknown aggregation: {fn_name!r}")
            if fn_name in _COUNT_LIKE_FNS:
                count_like.add(alias)
            ident = _AGG_IDENTITY.get(fn_name)
            if ident is not None:
                fill_ident[alias] = ident
            expr = (F.coalesce(fn(F.col(col)), F.lit(ident))
                    if ident is not None else fn(F.col(col)))
            aggs.append(expr.alias(alias))

        # pandas returns MultiIndex columns for frame-level list specs and
        # for dict specs containing a list.  Spark columns are flat
        # ``col_fn`` strings (SURVEY §7.4 naming); the (col, fn) tuples are
        # the result's column-axis labels, so ``compute()`` presents the
        # pandas MultiIndex (engine-side ops keep using the flat names).
        col_labels: dict[str, tuple] = {}
        if named and spec is None:
            # pandas named-agg: out_name=("col", "fn") on a frame groupby;
            # on a SeriesGroupBy slice the kwarg value is the BARE fn
            # (gb["x"].agg(mn="min")) — r5 hunt fix
            scalar_slice = self._slice_scalar
            for out_name, spec_v in named.items():
                if scalar_slice and (isinstance(spec_v, str)
                                     or callable(spec_v)):
                    one(cols[0], spec_v, out_name)
                else:
                    col, fn_name = spec_v
                    one(col, fn_name, out_name)
        elif isinstance(spec, str):
            use = cols if spec in self._ANY_DTYPE_AGGS else \
                self._value_columns(numeric_only=True)
            for c in use:
                one(c, spec, c)
        elif isinstance(spec, (list, tuple)):
            # (name, fn) tuples are pandas named entries — the given name
            # IS the label (bare for a SeriesGroupBy string slice)
            numeric = set(self._value_columns(numeric_only=True))
            scalar_slice = self._slice_scalar
            # pandas numbers anonymous lambdas per list spec: <lambda_0>,
            # <lambda_1>, … (even a single one)
            lam_labels: dict[int, str] = {}
            n_lam = 0
            for fn_name in spec:
                if callable(fn_name) and not isinstance(fn_name, str) \
                        and getattr(fn_name, "__name__", "") == "<lambda>":
                    lam_labels[id(fn_name)] = f"<lambda_{n_lam}>"
                    n_lam += 1
            for c in cols:
                for fn_name in spec:
                    if isinstance(fn_name, tuple) and len(fn_name) == 2:
                        label, f_ = fn_name
                        one(c, f_, label if scalar_slice
                            else f"{c}_{label}")
                        if not scalar_slice:
                            col_labels[f"{c}_{label}"] = (c, label)
                        continue
                    if fn_name in self._ANY_DTYPE_AGGS or c in numeric:
                        # a string slice is a SeriesGroupBy: pandas labels
                        # the result with the BARE fn names; bare
                        # callables in a list label as their __name__
                        # ("<lambda>", like pandas) — r5 wave-O fix
                        label = fn_name if isinstance(fn_name, str) \
                            else lam_labels.get(
                                id(fn_name),
                                getattr(fn_name, "__name__", "fn"))
                        one(c, fn_name,
                            label if scalar_slice else f"{c}_{label}")
                        if not scalar_slice:
                            col_labels[f"{c}_{label}"] = (c, label)
        elif isinstance(spec, Mapping):
            # pandas: if ANY column maps to a list, the output columns are
            # a MultiIndex for ALL columns ({"v": ["sum"], "w": "max"} →
            # ('v','sum'), ('w','max')); flat names stay col_fn.
            flatten_all = any(not isinstance(f, str) and not callable(f)
                              for f in spec.values())
            scalar_slice = self._slice_scalar
            for c, fns in spec.items():
                if isinstance(fns, str):
                    one(c, fns, f"{c}_{fns}" if flatten_all else c)
                    if flatten_all and not scalar_slice:
                        col_labels[f"{c}_{fns}"] = (c, fns)
                elif callable(fns):
                    fn_label = getattr(fns, "__name__", "fn")
                    one(c, fns, f"{c}_{fn_label}" if flatten_all else c)
                    if flatten_all and not scalar_slice:
                        col_labels[f"{c}_{fn_label}"] = (c, fn_label)
                else:
                    for fn_name in fns:
                        label = fn_name if isinstance(fn_name, str) \
                            else getattr(fn_name, "__name__", "fn")
                        one(c, fn_name, f"{c}_{label}")
                        if not scalar_slice:
                            col_labels[f"{c}_{label}"] = (c, label)
        elif callable(spec):
            # bare callable (gb["v"].agg(lambda s: ...)): one Arrow
            # GROUPED_AGG per value column, pandas' bare column labels
            for c in cols:
                one(c, spec, c)
        else:
            raise TypeError(f"Unsupported agg spec: {spec!r}")

        sdf = self._grouped_sdf()
        if udf_aggs and aggs:
            if self._kind != "groupby":
                raise NotImplementedError(
                    "callable aggregations cannot mix with rollup/cube/"
                    "grouping_sets")
            # null-safe key join: with dropna=False a null-key group must
            # survive the re-join (plain equi-join drops it: null != null)
            a = sdf.groupBy(*self._by).agg(*aggs).alias("__a")
            b = sdf.groupBy(*self._by).agg(*udf_aggs).alias("__b")
            cond = None
            for k in self._by:
                c = F.col(f"__a.{k}").eqNullSafe(F.col(f"__b.{k}"))
                cond = c if cond is None else (cond & c)
            out = (a.join(b, cond, "inner")
                   .select(*[F.col(f"__a.{k}") for k in self._by], *order))
        elif udf_aggs:
            out = self._grouping(sdf).agg(*udf_aggs)
        else:
            out = self._grouping(sdf).agg(*aggs)
        return self._finish(out, "agg", count_like, fill_ident, col_labels)

    aggregate = agg

    # -- grouped UDFs (SURVEY §2.10, absent in reference) ----------------

    aggregate = agg
    def apply(self, func: Callable[[pd.DataFrame], pd.DataFrame],
              schema=None):
        """Grouped-map UDF via Arrow-batched ``applyInPandas``.  Without
        ``schema=``, the shape is inferred from ``func`` on a small
        driver-side sample (mirrors DataFrame.apply's meta sampling):
        a frame-returning func keeps the applyInPandas path; a
        SCALAR-returning func (``g.apply(lambda g: g.v.corr(g.i))``)
        becomes a key-indexed Series — one row per group."""
        from .._collection import DataFrame, Series
        public = set(self._frame.to_spark().columns)
        hidden = [c for c in self._frame._sdf.columns if c not in public]
        if hidden:
            # hidden engine columns (labels, stamps, rowid index) must
            # never reach the user's function (or the inferred schema)
            inner = func

            def _vis(pdf):
                return inner(pdf.drop(columns=hidden, errors="ignore"))
            func = _vis
        sl = list(self._slice or [])
        if sl:
            # pandas: gb[["x", "y"]].apply(f) hands f ONLY the sliced
            # columns (the old path leaked every column into f — r5 pin).
            # Closure, not default args: applyInPandas requires a 1- or
            # 2-arg function.
            user_func = func

            def _sliced(pdf):
                return user_func(pdf[sl])
            func = _sliced  # noqa: F811
        if schema is None:
            sample = self._grouped_sdf().limit(100).toPandas()
            if len(sample) == 0:
                raise ValueError("groupby.apply schema inference needs a "
                                 "non-empty frame; pass schema=")
            gkey = self._by if len(self._by) > 1 else self._by[0]
            first = next(iter(sample.groupby(gkey, dropna=False)))[1]
            probe = func(first)
            if not isinstance(probe, pd.DataFrame):
                if isinstance(probe, pd.Series):
                    raise TypeError("groupby.apply func returned a Series "
                                    "per group — pass schema= and return "
                                    "a DataFrame instead")
                vtype = to_spark_type(pd.Series([probe]).dtype)
                src = self._grouped_sdf()
                fields = [src.schema[b] for b in self._by] + \
                         [T.StructField("__applied__", vtype)]
                by = list(self._by)

                def _scalar_fn(pdf: pd.DataFrame) -> pd.DataFrame:
                    row = {b: [pdf[b].iloc[0]] for b in by}
                    row["__applied__"] = [func(pdf)]
                    return pd.DataFrame(row)

                out = self._grouping(src).applyInPandas(
                    _scalar_fn, T.StructType(fields))
                node = Node("groupby_apply", {"by": self._by},
                            self._frame._expr)
                return Series(out, F.col("__applied__"), None, node,
                              tuple(self._by), tuple(self._by))
            schema = T.StructType(
                [T.StructField(c, to_spark_type(probe[c].dtype))
                 for c in probe.columns])
        if isinstance(schema, str):
            schema = T.StructType.fromDDL(schema)
        out = self._grouping(self._grouped_sdf()).applyInPandas(func, schema)
        return DataFrame(out, Node("groupby_apply", {"by": self._by},
                                   self._frame._expr), (), None)

    def transform(self, fn_name):
        """Group-aligned transform via a window aggregate — no second shuffle
        when the input is already partitioned by the keys.  Positional
        names (``rank``, ``cumsum``, ``shift``, …) delegate to the grouped
        positional ops, matching the pandas ``transform("rank")`` spelling.
        A Python callable runs per group via Arrow ``applyInPandas``
        (rows sorted by the engine index inside each group, so
        order-sensitive callables match pandas)."""
        from pyspark.sql import Window
        from .._collection import DataFrame
        if callable(fn_name) and not isinstance(fn_name, str):
            return self._transform_callable(fn_name)
        if fn_name in ("rank", "cumsum", "cumprod", "cummax", "cummin",
                       "shift", "diff", "ffill", "bfill", "cumcount",
                       "ngroup"):
            return getattr(self, fn_name)()
        fn = None if fn_name == "nunique" else _AGG_FNS[fn_name]
        w = Window.partitionBy(*self._by)
        # any-dtype aggs (nunique/count/min/...) must include non-numeric
        # value columns — numeric_only=True silently returned the RAW
        # string column for transform("nunique") (r5 hunt pin)
        cols = self._value_columns(
            numeric_only=fn_name not in self._ANY_DTYPE_AGGS)
        # pandas transform KEEPS null-key rows (values NaN under dropna —
        # masked by _finish_window) and aligns to the caller's labels
        sdf, _order, ridx, rnames = _positional_order(self._frame)
        if fn_name == "nunique":
            # count(DISTINCT) OVER is unsupported — size(collect_set OVER)
            # gives the per-group distinct count (nulls excluded, pandas
            # nunique dropna=True default)
            out = sdf.withColumns(
                {c: F.size(F.collect_set(F.col(c)).over(w)) for c in cols})
        else:
            out = sdf.withColumns({c: fn(F.col(c)).over(w) for c in cols})
        res = self._finish_window(out, ridx, rnames, "transform")
        if self._slice is None:
            # pandas transform excludes the group keys from the result
            keep = [c for c in res.columns if c not in self._by]
            res = res[keep]
        return res

    def _transform_callable(self, func):
        """``transform(lambda s: ...)``: per-group Arrow batch, each value
        column transformed by the callable with rows sorted by the engine
        index (positional rowid when implicit) — result joins back by that
        same label, so the output aligns with the caller's rows."""
        from .._collection import DataFrame
        sdf, pos_cols, idx, names = _positional_order(self._frame)
        cols = self._value_columns(numeric_only=True)
        by = list(self._by)
        sel = list(dict.fromkeys(by + pos_cols + cols))
        base = sdf.select(*[F.col(c) for c in sel])
        fields = [base.schema[c] for c in pos_cols] + \
                 [T.StructField(c, T.DoubleType()) for c in cols]
        schema = T.StructType(fields)

        def _tf(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(pos_cols[0])
            out = pdf[pos_cols].copy()
            for c in cols:
                out[c] = pd.Series(func(pdf[c])).astype(
                    "float64").to_numpy()
            return out

        out = base.groupBy(*by).applyInPandas(_tf, schema)
        node = Node("groupby_transform", {"by": by, "fn": "callable"},
                    self._frame._expr)
        if self._slice is not None:
            keep = [c for c in self._slice if c in cols]
            out = out.select(*pos_cols, *keep)
            if self._slice_scalar and len(keep) == 1:
                # string slice → pandas returns a SERIES
                from .._collection import Series
                return Series(out, F.col(keep[0]), keep[0], node,
                              idx, names)
        return DataFrame(out, node, idx, names)

    # -- positional window ops (pandas groupby.shift/rank/cum*; `IX` §1.5).
    # All are ONE window = one shuffle on the group keys; row order and the
    # result's index come from ``_positional_order``: the stamp, else the
    # engine index, else the positions (which become the index).

    # grouped ops that REMOVE null-key rows under dropna=True (pandas);
    # every other grouped positional op KEEPS the row and nulls the value
    _NULLKEY_FILTER_OPS = frozenset(
        {"head", "tail", "nth", "sample", "nlargest", "nsmallest",
         "filter", "topn"})

    def _finish_window(self, out, idx, names, op: str, mi: bool = False):
        """The result over ``out`` with row index ``idx`` named ``names``
        (``_positional_order``'s).  ``mi=True`` (the groupby.rolling/
        expanding/ewm chain family): pandas prepends the GROUP KEYS to the
        row labels — the result index is (keys…, original labels) and
        null-key rows drop (they belong to no group).  Transform-like ops (shift/cum*/rank/…)
        keep the caller's index unchanged (mi=False)."""
        from .._collection import DataFrame, Series
        if mi and self._dropna and self._by:
            cond = None
            for b in self._by:
                kn = F.col(b).isNotNull()
                cond = kn if cond is None else (cond & kn)
            out = out.filter(cond)
        if mi:
            node = Node("groupby_" + op, {"by": self._by},
                        self._frame._expr)
            idx = tuple(self._by) + tuple(idx)
            names = tuple(self._by) + tuple(names)
            if self._slice is not None:
                keep = [c for c in self._slice if c in out.columns]
                out = out.select(*idx, *keep)
                if self._slice_scalar and len(keep) == 1:
                    return Series(out, F.col(keep[0]), keep[0], node,
                                  idx, names)
                return DataFrame(out, node, idx, names)
            vals = [c for c in out.columns if c not in idx]
            return DataFrame(out.select(*idx, *vals), node, idx, names)
        if self._dropna and self._by and \
                all(b in out.columns for b in self._by):
            # pandas dropna=True on null group keys: filter-type ops drop
            # the row; transform-type ops keep it with a null value
            # (verified: head/nth exclude, cumsum/shift/rank/cumcount/
            # ngroup/ffill/transform emit NaN).  A no-op projection when
            # the keys are non-nullable — Catalyst folds it away.
            keynull = None
            for b in self._by:
                kn = F.col(b).isNull()
                keynull = kn if keynull is None else (keynull | kn)
            if op in self._NULLKEY_FILTER_OPS:
                out = out.filter(~keynull)
            else:
                protected = set(self._by) | set(idx)
                out = out.select(*[
                    F.when(keynull, F.lit(None)).otherwise(F.col(c))
                    .alias(c) if c not in protected else F.col(c)
                    for c in out.columns])
        node = Node("groupby_" + op, {"by": self._by}, self._frame._expr)
        from .._collection import _order_cols as _oc
        if op in ("cumcount", "ngroup"):
            # pandas returns a SERIES named by the op, indexed by the
            # caller's row labels
            out = out.select(*idx, *_oc(out), op)
            return Series(out, F.col(op), None, node, idx, names)
        if self._slice is not None and op not in ("cumcount", "ngroup"):
            # pandas: groupby(k)[cols].shift()/cumsum()/... returns ONLY
            # the sliced columns (plus the row labels).  cumcount/ngroup
            # produce a dedicated result column regardless of slicing.
            keep = [c for c in self._slice if c in out.columns]
            out = out.select(*idx, *_oc(out), *keep)
            if self._slice_scalar and len(keep) == 1:
                # string slice → pandas returns a SERIES
                return Series(out, F.col(keep[0]), keep[0], node, idx, names)
        # attached positions ARE the original row labels (pandas keeps the
        # caller's index through positional grouped ops): they stay the
        # index, or the label↔row association dies in the group shuffle
        return DataFrame(out, node, idx, names)

    def shift(self, periods: int = 1, fill_value=None):
        """pandas ``groupby.shift`` → ``lag``/``lead`` over the positional
        window (rows shifted off the group edge become null, or
        ``fill_value`` — lag's default arg fires ONLY at the group
        boundary, so shifted-in data nulls stay null like pandas)."""
        from pyspark.sql import Window
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        w = Window.partitionBy(*self._by).orderBy(
            *[F.col(c).asc() for c in order_cols])
        fn = (lambda c: F.lag(c, periods, fill_value)) if periods >= 0 \
            else (lambda c: F.lead(c, -periods, fill_value))
        out = sdf.withColumns({c: fn(F.col(c)).over(w)
                               for c in self._value_columns()})
        return self._finish_window(out, ridx, rnames, "shift")

    def cumcount(self, ascending: bool = True):
        """pandas ``groupby.cumcount``: 0-based position within group."""
        from pyspark.sql import Window
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        order = [F.col(c).asc() if ascending else F.col(c).desc()
                 for c in order_cols]
        w = Window.partitionBy(*self._by).orderBy(*order)
        out = sdf.withColumn("cumcount", F.row_number().over(w) - 1)
        return self._finish_window(out, ridx, rnames, "cumcount")

    def _cumulative(self, fn_name: str):
        """Running aggregate with pandas null semantics: a null input row
        yields null but does not interrupt the running value."""
        from pyspark.sql import Window
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        fn = _AGG_FNS[fn_name]
        w = (Window.partitionBy(*self._by)
             .orderBy(*[F.col(c).asc() for c in order_cols])
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = sdf.withColumns({
            c: F.when(F.col(c).isNotNull(), fn(F.col(c)).over(w))
            for c in self._value_columns(numeric_only=True)})
        return self._finish_window(out, ridx, rnames, "cum" + fn_name)

    def cumsum(self): return self._cumulative("sum")
    def cumprod(self): return self._cumulative("prod")
    def cummax(self): return self._cumulative("max")
    def cummin(self): return self._cumulative("min")

    def rank(self, method: str = "average", ascending: bool = True,
             pct: bool = False):
        """pandas ``groupby.rank``: ranks *values* within each group (not
        positions).  average/min/max lower to ``rank`` + a tie count over
        the (keys, value) partition; nulls rank null, sorted last so they
        never perturb non-null ranks.  ``pct=True`` divides by the group's
        non-null count (one more window agg on the same partition)."""
        from pyspark.sql import Window
        # positional anchor ALWAYS: the window shuffle scrambles row order,
        # so a default-index frame needs rowid labels for the result to
        # align with the caller's rows (method="first" also uses them as
        # the tie-break)
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        pos_cols = order_cols if method == "first" else []
        cols = {}
        for c in self._value_columns(numeric_only=True):
            col = F.col(c)
            order = [col.asc_nulls_last() if ascending else col.desc_nulls_last()]
            w = Window.partitionBy(*self._by).orderBy(
                *order, *[F.col(p).asc() for p in pos_cols])
            wt = Window.partitionBy(*self._by, c)
            if method == "first":
                r = F.row_number().over(w).cast("double")
            elif method == "dense":
                r = F.dense_rank().over(w).cast("double")
            elif method == "min":
                r = F.rank().over(w).cast("double")
            elif method == "max":
                r = (F.rank().over(w) + F.count(c).over(wt) - 1).cast("double")
            elif method == "average":
                r = F.rank().over(w) + (F.count(c).over(wt) - 1) / 2.0
            else:
                raise ValueError(f"rank method {method!r}")
            if pct:
                from pyspark.sql import Window as _W
                r = r / F.count(c).over(_W.partitionBy(*self._by))
            cols[c] = F.when(col.isNotNull(), r)
        out = sdf.withColumns(cols)
        return self._finish_window(out, ridx, rnames, "rank")

    def head(self, n: int = 5):
        """pandas ``groupby.head``: first n rows of each group in original
        row order — one row-number window over the positional index (a
        single shuffle on the group keys, then a local filter; never a
        global sort)."""
        return self._positional_limit(n, ascending=True, op="head")

    def tail(self, n: int = 5):
        return self._positional_limit(n, ascending=False, op="tail")

    def pipe(self, func, *args, **kwargs):
        """pandas ``GroupBy.pipe``: ``g.pipe(f, *a) == f(g, *a)``."""
        if isinstance(func, tuple):
            func, target = func
            kwargs[target] = self
            return func(*args, **kwargs)
        return func(self, *args, **kwargs)

    def interpolate(self, method: str = "linear",
                    limit: int | None = None):
        """pandas ``groupby.interpolate``: per-group linear/pad fill of
        interior nulls — prev/next non-null value AND position come from
        four ``last/first(ignorenulls)`` window passes over ONE shuffle on
        the keys (a group is the partition, exactly like every other
        grouped positional op; no applyInPandas)."""
        from pyspark.sql import Window
        if method not in ("linear", "pad", "ffill"):
            raise ValueError(f"interpolate: method {method!r} unsupported")
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        wb = (Window.partitionBy(*self._by)
              .orderBy(*[F.col(c).asc() for c in order_cols])
              .rowsBetween(Window.unboundedPreceding, 0))
        wf = (Window.partitionBy(*self._by)
              .orderBy(*[F.col(c).asc() for c in order_cols])
              .rowsBetween(0, Window.unboundedFollowing))
        pos_w = (Window.partitionBy(*self._by)
                 .orderBy(*[F.col(c).asc() for c in order_cols]))
        sdf = sdf.withColumn("__gp__", F.row_number().over(pos_w))
        updates = {}
        for c in self._value_columns(numeric_only=True):
            v = F.col(c).cast("double")
            pv = F.when(v.isNotNull(), F.col("__gp__"))
            prev = F.last(v, ignorenulls=True).over(wb)
            pp = F.last(pv, ignorenulls=True).over(wb)
            nxt = F.first(v, ignorenulls=True).over(wf)
            np_ = F.first(pv, ignorenulls=True).over(wf)
            p = F.col("__gp__")
            if method == "linear":
                fill = (F.when(np_.isNotNull() & pp.isNotNull() & (np_ != pp),
                               prev + (nxt - prev) * (p - pp) / (np_ - pp))
                        .otherwise(prev))
            else:
                fill = prev
            if limit is not None:
                fill = F.when((p - pp) <= F.lit(limit), fill)
            updates[c] = F.when(v.isNotNull(), v).otherwise(
                F.when(pp.isNotNull(), fill))
        out = sdf.withColumns(updates).drop("__gp__")
        return self._finish_window(out, ridx, rnames, "interpolate")

    def resample(self, freq: str, on: str | None = None,
                 fill_empty: bool = True):
        """pandas ``groupby(keys).resample(freq, on=ts)``: per-entity time
        bucketing — the group keys simply precede the time bucket in ONE
        grouped aggregation (one shuffle on (keys, bucket), identical
        memory contract to plain groupby; the bucket projection is pure
        JVM date_trunc/window).  ``on=None`` resamples over the frame's
        datetime index (pandas default); ``fill_empty=True`` (default —
        pandas parity) materializes each group's empty bins from its own
        calendar spine, ``False`` opts into the sparse plan."""
        if on is None:
            if len(self._frame._index_cols) != 1:
                raise ValueError("groupby.resample() without on= needs a "
                                 "single datetime index — set_index first")
            on = self._frame._index_cols[0]
        base = self._frame.resample(freq, on,
                                    fill_empty=False)  # bucketize only
        return Resampler(base._frame, on, base._step_sql,
                         fill_empty=fill_empty,
                         sort=self._sort, extra_by=self._by,
                         label_shift=base._label_shift, slice_=self._slice,
                         slice_scalar=self._slice_scalar)

    def ewm(self, com: float | None = None, span: float | None = None,
            halflife: float | None = None, alpha: float | None = None,
            adjust: bool = True):
        """pandas ``groupby(keys).ewm(...)`` chain (``.mean()``): exact
        pandas ewm per group via ONE Arrow ``applyInPandas`` over all
        value columns — one shuffle on the keys."""
        from .._collection import _ewm_alpha
        return _GroupEwm(self, _ewm_alpha(com, span, halflife, alpha),
                         adjust)

    def rolling(self, window: int | str, min_periods: int | None = None,
                center: bool = False, closed: str | None = None):
        """pandas ``groupby(...).rolling(w)`` chain: each agg is ONE
        partitioned ``rowsBetween`` window over the positional index —
        single shuffle on the keys, same memory contract as every grouped
        window.  ``center=True`` shifts the frame forward by ``(w-1) // 2``.
        A string window (``"3D"``) is a per-group TIME-offset window —
        the group keys join the block-bucketed self-join keys."""
        if isinstance(window, str):
            from .._collection import _FrameTimeRolling
            return _FrameTimeRolling(self._frame, window, min_periods,
                                     closed or "right", by=list(self._by),
                                     cols=(list(self._slice)
                                           if self._slice else None))
        return _GroupRolling(self, window, min_periods, center,
                             closed=closed)

    def expanding(self, min_periods: int = 1):
        """pandas ``groupby(...).expanding()`` chain — unbounded-preceding
        window frames."""
        return _GroupRolling(self, None, min_periods)

    def _positional_limit(self, n: int, ascending: bool, op: str):
        from pyspark.sql import Window
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        order = [F.col(c).asc() if ascending else F.col(c).desc()
                 for c in order_cols]
        w = Window.partitionBy(*self._by).orderBy(*order)
        ranked = sdf.withColumn("__rn__", F.row_number().over(w))
        if n >= 0:
            out = ranked.filter(F.col("__rn__") <= n).drop("__rn__")
        else:
            # pandas head(-k)/tail(-k): all but the last/first k rows of
            # each group — bound by the group size (one more window agg
            # over the SAME shuffle, no extra exchange; materialized as a
            # column because Spark rejects windows inside WHERE)
            ranked = ranked.withColumn(
                "__gcnt__",
                F.count(F.lit(1)).over(Window.partitionBy(*self._by)))
            out = (ranked.filter(F.col("__rn__") <= F.col("__gcnt__") + n)
                   .drop("__rn__", "__gcnt__"))
        return self._finish_window(out, ridx, rnames, op)

    def nth(self, n: int):
        """pandas ``groupby.nth``: the row at position n (negative = from
        the end) of each group, original index kept — one row-number
        window, a filter, no extra shuffle."""
        from pyspark.sql import Window
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        asc = n >= 0
        order = [F.col(c).asc() if asc else F.col(c).desc()
                 for c in order_cols]
        w = Window.partitionBy(*self._by).orderBy(*order)
        want = n + 1 if n >= 0 else -n
        out = (sdf.withColumn("__rn__", F.row_number().over(w))
               .filter(F.col("__rn__") == want).drop("__rn__"))
        return self._finish_window(out, ridx, rnames, "nth")

    def nlargest(self, n: int, col: str, tiebreak: str | None = None):
        """Top-n rows per group by ``col`` (the pandas
        ``sort_values + groupby.head`` / ``apply(nlargest)`` idiom) as ONE
        window: rank within group, keep ``rn <= n``.  Spark plans a single
        shuffle on the group keys with partial top-n pushed into the sort —
        no per-group pandas apply, no global sort.  Pass ``tiebreak`` (a
        unique column) for deterministic output under ties."""
        return self._extreme_n(n, col, desc=True, tiebreak=tiebreak, op="nlargest")

    def nsmallest(self, n: int, col: str, tiebreak: str | None = None):
        return self._extreme_n(n, col, desc=False, tiebreak=tiebreak, op="nsmallest")

    def _extreme_n(self, n: int, col: str, desc: bool, tiebreak: str | None, op: str):
        from pyspark.sql import Window
        sdf = self._grouped_sdf()
        order = [F.col(col).desc() if desc else F.col(col).asc()]
        if tiebreak:
            order.append(F.col(tiebreak).asc())
        w = Window.partitionBy(*self._by).orderBy(*order)
        out = (sdf.withColumn("__rn__", F.row_number().over(w))
               .filter(F.col("__rn__") <= n).drop("__rn__"))
        return self._finish_window(out, self._frame._index_cols,
                                   self._frame._index_names, op)

    def ewm_mean(self, col: str, alpha: float, adjust: bool = True,
                 name: str | None = None):
        """pandas ``groupby(...).ewm(alpha).mean()`` for one column: exact
        pandas ewm per group via Arrow-batched ``applyInPandas`` (one shuffle
        on the keys; ewm is sequential, so per-group pandas is both honest
        and as scalable as any partitioned window).  Row order within the
        group comes from the engine index (positional rowid fallback)."""
        from ..functions.timeseries import ewm_mean_grouped
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        out = ewm_mean_grouped(sdf, self._by, col, order_cols, alpha,
                               name=name or f"{col}_ewm", adjust=adjust)
        return self._finish_window(out, ridx, rnames, "ewm")

    def ffill(self, limit: int | None = None):
        """pandas ``groupby.ffill``: per-group forward fill of every value
        column over the positional index — ``last(ignorenulls)`` with an
        unbounded-preceding frame, one shuffle total for all columns.
        ``limit=k`` just bounds the frame at ``-k`` rows (the last
        non-null within the previous k rows IS the pandas fill)."""
        return self._fill(forward=True, limit=limit)

    def bfill(self, limit: int | None = None):
        return self._fill(forward=False, limit=limit)

    def _fill(self, forward: bool, limit: int | None = None):
        from pyspark.sql import Window
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        base = Window.partitionBy(*self._by).orderBy(
            *[F.col(c).asc() for c in order_cols])
        lo = Window.unboundedPreceding if limit is None else -limit
        if forward:
            w = base.rowsBetween(lo, Window.currentRow)
            fill = lambda c: F.last(c, ignorenulls=True).over(w)
        else:
            hi = Window.unboundedFollowing if limit is None else limit
            w = base.rowsBetween(Window.currentRow, hi)
            fill = lambda c: F.first(c, ignorenulls=True).over(w)
        out = sdf.withColumns({c: fill(F.col(c))
                               for c in self._value_columns()})
        return self._finish_window(out, ridx, rnames,
                                   "ffill" if forward else "bfill")

    def filter(self, func):
        """pandas ``groupby.filter``: keep the rows of groups passing a
        group-level predicate.

        Two forms, both distributed:

        * ``str`` — an aggregate SQL predicate over the group (a HAVING
          clause), e.g. ``"sum(value) > 100"`` or ``"count(*) >= 3"``.
          Lowered to one keys-aggregation computing the predicate plus a
          left-semi join back — two key shuffles, zero Python.  This is the
          form to use at scale.
        * callable — the pandas signature (``lambda g: bool``), evaluated
          per group via Arrow-batched ``applyInPandas``.  Honest but moves
          group data through Python; prefer the SQL form.
        """
        from .._collection import DataFrame
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        if isinstance(func, str):
            if self._dropna:
                for b in self._by:
                    sdf = sdf.filter(F.col(b).isNotNull())
            keep = (sdf.groupBy(*self._by)
                    .agg(F.expr(func).alias("__keep__"))
                    .filter(F.col("__keep__")).drop("__keep__"))
            out = sdf.join(keep, self._by, "left_semi")
        else:
            schema = sdf.schema
            by = self._by
            hidden = [c for c in ridx if c not in self._frame._index_cols]

            def _flt(g: pd.DataFrame) -> pd.DataFrame:
                return g if func(g.drop(columns=hidden)) else g.iloc[0:0]

            grouped = sdf
            if self._dropna:
                for b in by:
                    grouped = grouped.filter(F.col(b).isNotNull())
            out = grouped.groupBy(*by).applyInPandas(_flt, schema)
        return self._finish_window(out, ridx, rnames, "filter")

    def ngroup(self, ascending: bool = True):
        """pandas ``groupby.ngroup``: the group's number, dense-numbered in
        sorted key order.  Numbering runs on the DISTINCT key table via the
        DISTRIBUTED ``global_pos`` (high-cardinality keys — user ids at
        100 TB — make even the key table too big for a single-partition
        window), then joins back."""
        from ..functions.scan import global_pos
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        keys = sdf.select(*self._by).na.drop(subset=self._by).distinct()
        mapping = global_pos(keys, list(self._by), "ngroup",
                             descending=[not ascending] * len(self._by))
        # no broadcast hint: the key table's size is data-dependent — let
        # AQE pick broadcast vs shuffle join at runtime
        out = sdf.join(mapping, self._by, "left")
        return self._finish_window(out, ridx, rnames, "ngroup")

    def diff(self, periods: int = 1):
        """pandas ``groupby.diff`` — one positional window per group."""
        from pyspark.sql import Window
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        w = Window.partitionBy(*self._by).orderBy(
            *[F.col(c).asc() for c in order_cols])
        out = sdf.withColumns({
            c: F.col(c) - F.lag(c, periods).over(w)
            for c in self._value_columns(numeric_only=True)})
        return self._finish_window(out, ridx, rnames, "diff")

    def pct_change(self, periods: int = 1, fill_method: str | None = "pad"):
        """pandas ``groupby.pct_change`` with pandas zero-divisor semantics
        (x/0 → ±inf, 0/0 → NaN) instead of the ANSI error.  The (current,
        deprecated-default) ``fill_method='pad'`` forward-fills within the
        group before the ratio; ``None`` computes on the raw values."""
        from pyspark.sql import Window
        if fill_method not in ("pad", "ffill", None):
            raise ValueError(f"fill_method must be 'pad'/'ffill'/None, "
                             f"got {fill_method!r}")
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        w = Window.partitionBy(*self._by).orderBy(
            *[F.col(c).asc() for c in order_cols])
        vcols = self._value_columns(numeric_only=True)
        if fill_method is not None:
            # separate projection — nesting last() inside lag() is illegal
            sdf = sdf.withColumns({
                name: F.last(name, ignorenulls=True).over(
                    w.rowsBetween(Window.unboundedPreceding, 0))
                for name in vcols})
        updates = {}
        for name in vcols:
            c, prev = F.col(name), F.lag(name, periods).over(w)
            # IEEE negative-zero divisor: x/-0.0 = -sign(x)·inf (see
            # Series.pct_change)
            neg_zero = prev.cast("string").startswith("-")
            inf_sign = F.when(neg_zero, -F.signum(c)).otherwise(F.signum(c))
            ratio = (F.when(prev.isNull(), F.lit(None).cast("double"))
                     .when(prev != 0, c / prev)
                     .when(c == 0, F.lit(float("nan")))
                     .otherwise(F.lit(float("inf")) * inf_sign))
            updates[name] = ratio - F.lit(1)
        out = sdf.withColumns(updates)
        return self._finish_window(out, ridx, rnames, "pct_change")

    def ohlc(self):
        """pandas ``groupby.ohlc``: open/high/low/close per value column in
        row order — ``min_by``/``max_by`` on the positional index give
        first/last, so the whole thing is ONE agg shuffle (columns named
        ``col_open`` … ``col_close``, pandas' MultiIndex flattened)."""
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        if self._dropna:
            for b in self._by:
                sdf = sdf.filter(F.col(b).isNotNull())
        return self._ohlc(sdf.groupBy(*self._by),
                          self._value_columns(numeric_only=True),
                          F.struct(*[F.col(c) for c in order_cols]))

    def _ohlc(self, grouped, vcols, pos):
        """open/high/low/close of ``vcols`` per group, first and last by
        ``pos``.  A scalar slice (``s.resample(...).ohlc()``) gets pandas'
        BARE column names; a frame, pandas' (col, open..close) labels."""
        bare = self._slice_scalar and len(vcols) == 1
        aggs, labels = [], {}
        for c in vcols:
            col = F.col(c)
            for st, agg in (("open", F.min_by(col, pos)),
                            ("high", F.max(col)), ("low", F.min(col)),
                            ("close", F.max_by(col, pos))):
                name = st if bare else f"{c}_{st}"
                aggs.append(agg.alias(name))
                labels[name] = (c, st)
        return self._finish(grouped.agg(*aggs), "ohlc",
                            labels=None if bare else labels)

    def describe(self, percentiles: Sequence[float] = (0.25, 0.5, 0.75)):
        """pandas ``groupby.describe`` (count/mean/std/min/percentiles/max
        per numeric column), MultiIndex flattened to ``col_stat``.  A
        single-column slice (``groupby(k)[v].describe()``) uses the bare
        stat names like pandas.  Exact percentiles via ``F.percentile`` —
        still one partial+final agg."""
        cols = self._value_columns(numeric_only=True)
        # bare stat names ONLY for the string slice (SeriesGroupBy);
        # a 1-list slice keeps the col prefix like DataFrameGroupBy
        single = self._slice_scalar and len(cols) == 1
        name = (lambda c, stat: stat) if single else \
            (lambda c, stat: f"{c}_{stat}")
        aggs = []
        for c in cols:
            col = F.col(c)
            aggs += [F.count(col).cast("double").alias(name(c, "count")),
                     F.avg(col).alias(name(c, "mean")),
                     F.stddev_samp(col).alias(name(c, "std")),
                     F.min(col).cast("double").alias(name(c, "min"))]
            for p in percentiles:
                aggs.append(F.percentile(col, F.lit(p))
                            .alias(name(c, f"{int(p * 100)}%")))
            aggs.append(F.max(col).cast("double").alias(name(c, "max")))
        out = self._grouping(self._grouped_sdf()).agg(*aggs)
        # pandas frame describe returns MultiIndex (col, stat) columns
        stats = (["count", "mean", "std", "min"]
                 + [f"{int(p * 100)}%" for p in percentiles] + ["max"])
        return self._finish(out, "describe", labels=None if single else {
            f"{c}_{st}": (c, st) for c in cols for st in stats})

    def sample(self, n: int | None = None, frac: float | None = None,
               replace: bool = False, seed: int | None = None,
               random_state: int | None = None):
        """pandas ``groupby.sample``: draw rows per group without
        replacement, original index kept.  The draw is a deterministic
        HASH draw (md5 of the row label + seed salt), not pandas' RNG —
        same rows every run, every partitioning, every cluster size; a
        different ``seed``/``random_state`` selects an independent draw.

        Scale: lowered to the md5-prefix-bucket two-phase cap
        (``urls.cap_per_group``) so a mega-group never sorts in one
        task; ``frac=`` derives each group's exact ``round(frac*size)``
        quota (banker's, like Python round) from the same tiny
        histogram.  Divergence: ``n`` larger than a group returns the
        whole group (pandas raises) — consistent with frame-level
        ``sample(n=)``."""
        if replace:
            raise NotImplementedError(
                "groupby.sample(replace=True) is not supported")
        if (n is None) == (frac is None):
            raise ValueError("sample: pass exactly one of n / frac")
        from ..functions.urls import cap_per_group
        sdf, order_cols, ridx, rnames = _positional_order(self._frame)
        if self._dropna:
            for b in self._by:
                sdf = sdf.filter(F.col(b).isNotNull())
        if seed is None:
            seed = random_state
        salt = "" if seed is None else str(seed)
        if len(order_cols) == 1:
            key, drop_key = order_cols[0], None
        else:
            key, drop_key = "__skey__", "__skey__"
            sdf = sdf.withColumn(key, F.concat_ws("\x1f", *order_cols))
        out = cap_per_group(sdf, n, self._by, key, salt=salt, frac=frac)
        if drop_key:
            out = out.drop(drop_key)
        return self._finish_window(out, ridx, rnames, "sample")

    def corr(self):
        """Grouped Pearson correlation of exactly two sliced columns
        (``gb[["a","b"]].corr()`` flattened to one ``corr`` value per group
        — the full pandas per-group matrix is just this number mirrored)."""
        return self._pairwise(lambda a, b: F.corr(a, b), "corr")

    def cov(self, ddof: int = 1):
        """Grouped covariance of exactly two sliced columns."""
        if ddof == 1:
            return self._pairwise(lambda a, b: F.covar_samp(a, b), "cov")
        if ddof == 0:
            return self._pairwise(lambda a, b: F.covar_pop(a, b), "cov")
        return self._pairwise(
            lambda a, b: F.when(
                F.count(a) > ddof,
                (F.sum(a * b) - F.sum(a) * F.sum(b) / F.count(a))
                / (F.count(a) - F.lit(ddof))), "cov")

    def _pairwise(self, fn, op: str):
        cols = self._value_columns(numeric_only=True)
        if len(cols) != 2:
            raise ValueError(
                f"groupby.{op} needs exactly two sliced numeric columns, "
                f"e.g. gb[['a','b']].{op}(); got {cols}")
        a0, b0 = F.col(cols[0]).cast("double"), F.col(cols[1]).cast("double")
        # pairwise-complete rows only (pandas semantics): mask each side on
        # the other's nullness so n / Σa / Σb / Σab all see the same rows
        both = a0.isNotNull() & b0.isNotNull()
        a, b = F.when(both, a0), F.when(both, b0)
        out = self._grouping(self._grouped_sdf()).agg(fn(a, b).alias(op))
        res = self._finish(out, op)
        from .._collection import DataFrame
        if isinstance(res, DataFrame):
            # engine contract: the flattened pairwise stat is a SERIES
            # (pandas would emit the mirrored 2x2 matrix per group)
            res = res[op]
        return res


class _GroupRolling:
    """pandas ``groupby.rolling`` / ``groupby.expanding`` chain target.

    Every aggregate is one partitioned ``rowsBetween`` window over the
    positional index — Spark plans a single shuffle on the group keys; the
    ``min_periods`` null guard follows pandas (non-null observations for
    value aggs, window row count for ``count``)."""

    _FNS = {"mean": F.avg, "sum": F.sum, "min": F.min, "max": F.max,
            "std": F.stddev_samp, "var": F.var_samp}

    def __init__(self, gb: GroupBy, window: int | None,
                 min_periods: int | None, center: bool = False,
                 closed: str | None = None):
        self._gb, self._w, self._minp = gb, window, min_periods
        self._center = center
        if closed not in (None, "right", "left", "both", "neither"):
            raise ValueError(f"closed must be right/left/both/neither, "
                             f"got {closed!r}")
        self._closed = closed

    def _agg(self, fn_name: str):
        from pyspark.sql import Window
        gb = self._gb
        sdf, order_cols, ridx, rnames = _positional_order(gb._frame)
        if self._w is None:  # expanding
            lo, hi = Window.unboundedPreceding, Window.currentRow
            minp = self._minp or 1
        else:
            lead = (self._w - 1) // 2 if self._center else 0
            # closed= maps DIRECTLY to window-frame bounds here (wave W
            # follow-up: it was accepted and silently ignored, the same
            # class as the Series rolling fix)
            blo, bhi = {None: (-(self._w - 1), 0),
                        "right": (-(self._w - 1), 0),
                        "left": (-self._w, -1),
                        "both": (-self._w, 0),
                        "neither": (-(self._w - 1), -1)}[self._closed]
            lo, hi = blo + lead, bhi + lead
            minp = self._w if self._minp is None else self._minp
        w = (Window.partitionBy(*gb._by)
             .orderBy(*[F.col(c).asc() for c in order_cols])
             .rowsBetween(lo, hi))
        updates = {}
        for c in gb._value_columns(numeric_only=True):
            nn = F.count(F.col(c)).over(w)
            if fn_name == "count":
                rows = F.count(F.lit(1)).over(w)
                updates[c] = F.when(rows >= minp, nn.cast("double")) \
                    .otherwise(F.lit(None))
            else:
                val = self._FNS[fn_name](F.col(c)).over(w)
                updates[c] = F.when(nn >= minp, val).otherwise(F.lit(None))
        out = sdf.withColumns(updates)
        kind = "expanding" if self._w is None else "rolling"
        return gb._finish_window(out, ridx, rnames, f"{kind}_{fn_name}",
                                 mi=True)

    def mean(self): return self._agg("mean")
    def sum(self): return self._agg("sum")
    def min(self): return self._agg("min")
    def max(self): return self._agg("max")
    def count(self): return self._agg("count")
    def std(self): return self._agg("std")
    def var(self): return self._agg("var")

    def apply(self, func, raw: bool = False):
        """pandas ``groupby.rolling(w).apply(func)`` — exact pandas per
        group via Arrow-batched ``applyInPandas`` (one shuffle on the
        keys; the Python func is the slow path by construction).
        ``raw`` defaults to False like pandas (func receives a Series)."""
        gb = self._gb
        sdf, order_cols, ridx, rnames = _positional_order(gb._frame)
        w = self._w
        if w is None:                       # expanding().apply
            minp = 1 if self._minp is None else self._minp
        else:
            minp = w if self._minp is None else self._minp
        vcols = gb._value_columns(numeric_only=True)
        fields = [T.StructField(f.name, T.DoubleType() if f.name in vcols
                                else f.dataType, True)
                  for f in sdf.schema.fields]
        schema = T.StructType(fields)
        names = [f.name for f in fields]

        center = self._center

        def _fn(pdf):
            pdf = pdf.sort_values(order_cols).copy()
            for c in vcols:
                if w is None:
                    pdf[c] = (pdf[c].expanding(min_periods=minp)
                              .apply(func, raw=raw))
                else:
                    pdf[c] = (pdf[c].rolling(w, min_periods=minp,
                                             center=center)
                              .apply(func, raw=raw))
            return pdf[names]

        out = sdf.groupBy(*gb._by).applyInPandas(_fn, schema)
        kind = "expanding_apply" if w is None else "rolling_apply"
        return gb._finish_window(out, ridx, rnames, kind, mi=True)


class _GroupEwm:
    """pandas ``groupby.ewm`` chain target — exact per-group pandas ewm,
    Arrow-batched, every value column in one pass."""

    def __init__(self, gb: GroupBy, alpha: float, adjust: bool):
        self._gb, self._alpha, self._adjust = gb, alpha, adjust

    def mean(self):
        gb = self._gb
        sdf, order_cols, ridx, rnames = _positional_order(gb._frame)
        vcols = gb._value_columns(numeric_only=True)
        alpha, adjust = self._alpha, self._adjust
        fields = [T.StructField(f.name, T.DoubleType() if f.name in vcols
                                else f.dataType, True)
                  for f in sdf.schema.fields]
        schema = T.StructType(fields)
        names = [f.name for f in fields]

        def _fn(pdf):
            pdf = pdf.sort_values(order_cols).copy()
            for c in vcols:
                pdf[c] = pdf[c].ewm(alpha=alpha, adjust=adjust).mean()
            return pdf[names]

        out = sdf.groupBy(*gb._by).applyInPandas(_fn, schema)
        return gb._finish_window(out, ridx, rnames, "ewm_mean", mi=True)


class Resampler(GroupBy):
    """Time-bucketed GroupBy (pandas ``df.resample(freq, on=ts)``).

    With ``fill_empty=True`` it reproduces pandas' empty-bin
    materialization: after the aggregation, a generated calendar spine
    (``sequence(min, max, step)`` + ``explode`` — KBs even for years of
    minute buckets) left-joins the agg result; count-like outputs
    (count/size/nunique) fill with 0, everything else stays null (pandas
    NaN).  The agg result is persisted first so the min/max bounds pass
    does not recompute the upstream scan — the spine join therefore adds
    one tiny broadcast-able join over post-agg data, never a second read
    of the fact table."""

    def __init__(self, frame, on: str, step_sql: str,
                 fill_empty: bool = False, sort: bool = True,
                 extra_by: list[str] | None = None,
                 label_shift: str | None = None,
                 slice_: list[str] | None = None, slice_scalar: bool = False,
                 orig_sdf=None, bucket_expr=None):
        # grouped resample (pandas ``groupby(k).resample(freq)``): the
        # group keys precede the time bucket; fill_empty generates one
        # calendar spine PER GROUP (each group's own min..max, pandas
        # semantics) — see _finish
        self._extra_by = list(extra_by or [])
        super().__init__(frame, self._extra_by + [on], sort=sort,
                         slice_=slice_, slice_scalar=slice_scalar)
        self._on = on
        self._step_sql = step_sql
        self._fill_empty = fill_empty
        # pandas W/M/Q/Y period-END labels: an interval expression added
        # to the bucket AFTER aggregation + spine fill (month ends are
        # not a fixed-step sequence, so the spine must run on starts)
        self._label_shift = label_shift
        # the pre-bucket frame and the bucket expression, for ohlc and
        # asfreq (values AT bin edges); None on a grouped resample
        self._orig_sdf = orig_sdf
        self._bucket_expr = bucket_expr

    def _sliced(self, keys, scalar: bool):
        return Resampler(self._frame, self._on, self._step_sql,
                         self._fill_empty, self._sort,
                         extra_by=self._extra_by,
                         label_shift=self._label_shift, slice_=keys,
                         slice_scalar=scalar, orig_sdf=self._orig_sdf,
                         bucket_expr=self._bucket_expr)

    def _finish(self, out, op: str, count_like=(), fill_ident=None,
                labels=None, fill_empty: bool = False):
        """``GroupBy._finish`` after the calendar-spine fill, which runs
        when the resampler or the call (``fill_empty``) asks for it."""
        if self._fill_empty or fill_empty:
            on = self._on
            out = out.persist()
            if self._extra_by:
                # per-group spine: each group's own min..max (pandas
                # grouped-resample semantics); post-agg data, one
                # groupBy + sequence/explode + equi-join
                bounds = out.groupBy(*self._extra_by).agg(
                    F.min(on).alias("__lo__"), F.max(on).alias("__hi__"))
                spine = bounds.select(*self._extra_by, F.explode(F.sequence(
                    F.col("__lo__"), F.col("__hi__"),
                    F.expr(self._step_sql))).alias(on))
                filled = spine.join(out, self._extra_by + [on], "left")
            else:
                bounds = out.agg(F.min(on).alias("__lo__"),
                                 F.max(on).alias("__hi__"))
                spine = bounds.select(F.explode(F.sequence(
                    F.col("__lo__"), F.col("__hi__"),
                    F.expr(self._step_sql))).alias(on))
                filled = spine.join(out, on, "left")
            zero = {c: F.coalesce(F.col(c), F.lit(0))
                    for c in count_like if c in filled.columns}
            # empty bins take the agg's pandas identity (sum→0, prod→1);
            # everything else stays null (pandas NaN)
            for c, ident in (fill_ident or {}).items():
                if c in filled.columns and c not in zero:
                    zero[c] = F.coalesce(F.col(c), F.lit(ident))
            if zero:
                filled = filled.withColumns(zero)
            out = filled
        if self._label_shift and self._on in out.columns:
            # chained ts +/- mixed-unit intervals must parse as ONE
            # expression ((ts + 1 month) - 1 day) — column-level interval
            # arithmetic rejects month+day interval sums
            shift = self._label_shift
            sql = f"`{self._on}` - INTERVAL 1 DAY" if shift.startswith("-") \
                else f"`{self._on}` + {shift}"
            out = out.withColumn(self._on, F.expr(sql))
        return super()._finish(out, op, count_like, fill_ident, labels)

    def ohlc(self):
        """Resampled OHLC must order rows INSIDE each bin by their
        ORIGINAL timestamp — the generic GroupBy.ohlc positional order is
        useless here because every row in a bin shares the same bucketed
        index value.  One agg over the pre-bucket frame with min_by/
        max_by keyed on the raw timestamp."""
        from pyspark.sql import types as T
        orig, bucket = self._orig_sdf, self._bucket_expr
        if orig is None or bucket is None:
            return super().ohlc()
        on = self._on
        if self._slice:
            vcols = list(self._slice)
        else:
            vcols = [c for c in self._frame.columns
                     if c != on and c not in self._extra_by
                     and isinstance(orig.schema[c].dataType,
                                    T.NumericType)]
        return self._ohlc(orig.groupBy(*self._extra_by, bucket.alias(on)),
                          vcols, F.col(on))

    def asfreq(self, method=None):
        """pandas ``resample(freq).asfreq()``: the value exactly AT each
        bin edge (a reindex onto the resample grid) — rows whose original
        timestamp equals their bucket survive, everything else is an
        empty bin.  One filter + one grouped agg over the matching rows
        (≤ one per bin for unique timestamps; exact-duplicate edge stamps
        take the max — pandas' reindex would raise there), then the
        standard calendar-spine fill."""
        if method is not None:
            raise NotImplementedError("resample().asfreq(method=)")
        orig, bucket = self._orig_sdf, self._bucket_expr
        if orig is None or bucket is None or self._extra_by:
            raise NotImplementedError(
                "asfreq needs the pre-bucket frame (grouped resample "
                "asfreq unsupported)")
        on = self._on
        vcols = (list(self._slice) if self._slice
                 else [c for c in orig.columns if c != on])
        # group ALL rows by bucket (so the spine spans the full data
        # range), but only edge-matching rows contribute a value
        out = (orig.groupBy(bucket.alias(on))
               .agg(*[F.max(F.when(F.col(on) == bucket, F.col(c)))
                      .alias(c) for c in vcols]))
        # asfreq ALWAYS materializes the grid
        return self._finish(out, "asfreq", fill_empty=True)
