"""pandas-expr-spark: a PySpark-native lazy-DataFrame analytics engine.

Same query/data-processing capabilities as the reference (phofl/pandas-expr)
— a lazy pandas-like collection API over a logical expression tree — but
re-expressed Spark-first: collections lower to PySpark ``DataFrame``
transformations, Catalyst optimizes, Tungsten executes distributed.

Public surface mirrors the reference's top level (``pandas_expr/__init__.py``):
``DataFrame``, ``Series``, ``read_parquet``, ``read_csv``, ``concat``,
``merge`` — plus the Spark-native extras (json/orc/jdbc sources, set ops,
streaming, and the LLM-data-pipeline operators under ``functions``).
"""

from __future__ import annotations

from . import _dtypes
from ._collection import DataFrame as _DataFrameImpl, Index, Scalar, Series
from ._collection import _value_key
from ._expr import Expr, Node, tokenize
from ._session import get_spark
from .operators.joins import (interval_join, merge, merge_asof,
                              merge_ordered, salted_join)
from .operators.setops import concat, except_, intersect, union
from .sources import (from_pandas, from_spark, read_binary, read_csv,
                      read_jdbc, read_json, read_text,
                      read_orc, read_parquet)

__version__ = "0.1.0"


def cut(series, bins, labels=None, right: bool = True, precision: int = 3,
        include_lowest: bool = False):
    """pandas ``pd.cut`` (fixed bin edges) — see ``Series.cut``."""
    return series.cut(bins, labels=labels, right=right, precision=precision,
                      include_lowest=include_lowest)


def qcut(series, q, labels=None, duplicates: str = "raise"):
    """pandas ``pd.qcut`` (quantile bins) — see ``Series.qcut``."""
    return series.qcut(q, labels=labels, duplicates=duplicates)


def _strftime_to_jvm(fmt: str) -> str:
    """Translate a Python strftime format (pandas ``to_datetime(format=)``)
    to the JVM datetime pattern Spark's ``to_timestamp`` expects.  Formats
    without ``%`` are assumed to already be JVM patterns (back-compat)."""
    if "%" not in fmt:
        return fmt
    table = {"%Y": "yyyy", "%y": "yy", "%m": "MM", "%d": "dd",
             "%H": "HH", "%I": "hh", "%M": "mm", "%S": "ss",
             "%f": "SSSSSS", "%j": "DDD", "%p": "a", "%z": "xx",
             "%A": "EEEE", "%a": "EEE", "%B": "MMMM", "%b": "MMM",
             "%%": "%"}
    out, i = [], 0
    while i < len(fmt):
        if fmt[i] == "%" and i + 1 < len(fmt):
            tok = fmt[i:i + 2]
            if tok not in table:
                raise ValueError(f"to_datetime: unsupported strftime "
                                 f"directive {tok!r}")
            out.append(table[tok])
            i += 2
        else:
            # literal letters must be quoted in JVM patterns
            ch = fmt[i]
            out.append(f"'{ch}'" if ch.isalpha() else ch)
            i += 1
    return "".join(out)


def to_datetime(series, errors: str = "raise", format: str | None = None,
                unit: str | None = None):
    """pandas ``pd.to_datetime`` for engine Series: JVM ``to_timestamp``.
    ``errors='coerce'`` lowers to ``try_to_timestamp`` (malformed → null)
    instead of the ANSI parse error.  ``unit='s'/'ms'/'us'`` converts
    numeric epochs (JVM ``timestamp_seconds``/``_millis``/``_micros``)."""
    from pyspark.sql import functions as F
    c = series._scol
    if unit is not None:
        fn = {"s": F.timestamp_seconds, "ms": F.timestamp_millis,
              "us": F.timestamp_micros}.get(unit)
        if fn is None:
            raise ValueError(f"to_datetime: unsupported unit {unit!r}")
        return series._with_scol(fn(c), "to_datetime")
    if format is not None:
        format = _strftime_to_jvm(format)
        expr = (F.try_to_timestamp(c, F.lit(format)) if errors == "coerce"
                else F.to_timestamp(c, format))
    else:
        expr = (F.try_to_timestamp(c) if errors == "coerce"
                else F.to_timestamp(c))
    return series._with_scol(expr, "to_datetime")


def to_numeric(series, errors: str = "raise"):
    """pandas ``pd.to_numeric``: numeric cast; ``errors='coerce'`` uses
    ``try_cast`` semantics (malformed → null, no ANSI error).  Like
    pandas, the result is int64 when EVERY value parses as an integer —
    decided by one tiny aggregation comparing long-vs-double parse
    failures (an eager probe bounded to one row, same documented
    contract as qcut's edge scan)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    c = series._scol
    # already-numeric inputs pass through UNCHANGED (pandas: float stays
    # float — no silent long truncation of fractional values; int stays
    # int; bool stays bool).  The parse probe below is only meaningful
    # for string inputs, where try_cast('long') failure really means
    # "not an integer literal" — on a DoubleType column the same cast
    # TRUNCATES instead of failing (r5 advice, silent wrong data).
    dt = series._sdf.select(c.alias("__t__")).schema[0].dataType
    if isinstance(dt, (T.DoubleType, T.FloatType, T.DecimalType,
                       T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                       T.BooleanType)):
        return series._with_scol(c, "to_numeric")
    if isinstance(dt, T.TimestampType):
        # pandas converts datetime64[ns] to its int64 NANOSECOND ticks
        return series._with_scol(
            (F.unix_micros(c) * F.lit(1000)).cast("long"), "to_numeric")
    row = series._sdf.agg(
        F.sum(c.try_cast("long").isNull().cast("int")).alias("l"),
        F.sum(c.try_cast("double").isNull().cast("int")).alias("d"),
        F.min(F.when(c.try_cast("double").isNull(), c)).alias("bad"),
    ).first()
    if errors == "raise" and (row["d"] or 0) > 0 and row["bad"] is not None:
        # pandas raises on the first unparseable value.  Raising HERE
        # (the probe already scanned) also sidesteps ANSI's batch-wise
        # cast evaluation, which errors on rows a later limit discards.
        raise ValueError(
            f'Unable to parse string "{row["bad"]}" at position ?')
    # int64 only when EVERY value (nulls included) parses as an integer —
    # any float text, malformed value, or null makes the result float64,
    # exactly pandas' inference
    t = "long" if (row["l"] or 0) == 0 else "double"
    return series._with_scol(c.try_cast(t), "to_numeric")


def melt(frame, id_vars, value_vars=None, var_name: str = "variable",
         value_name: str = "value"):
    """pandas ``pd.melt`` — see ``DataFrame.melt``."""
    return frame.melt(id_vars, value_vars, var_name, value_name)


def pivot_table(frame, values=None, index=None, columns=None,
                aggfunc="mean", pivot_values=None, margins: bool = False,
                margins_name: str = "All", fill_value=None):
    """pandas ``pd.pivot_table`` — see ``DataFrame.pivot_table``."""
    if values is None:
        ids = set(_ensure_list_top(index)) | set(_ensure_list_top(columns))
        values = [c for c in frame.columns if c not in ids]
        if len(values) == 1:
            values = values[0]
    return frame.pivot_table(values, index, columns, aggfunc,
                             pivot_values=pivot_values, margins=margins,
                             margins_name=margins_name,
                             fill_value=fill_value)


def _ensure_list_top(x):
    if x is None:
        return []
    return [x] if isinstance(x, str) else list(x)


def pivot(frame, *, columns, index=None, values=None, pivot_values=None):
    """pandas ``pd.pivot`` — see ``DataFrame.pivot``."""
    return frame.pivot(columns=columns, index=index, values=values,
                       pivot_values=pivot_values)


def crosstab(frame, index=None, columns=None, values=None, aggfunc=None,
             normalize: bool | str = False, margins: bool = False,
             margins_name: str = "All"):
    """pandas ``pd.crosstab``.  Accepts either the engine's frame-anchored
    form ``crosstab(df, "row_col", "col_col")`` or pandas' two-Series form
    ``crosstab(s_rows, s_cols)`` (same-anchor Series).  ``values=`` may be
    a same-anchor Series in the two-Series form."""
    from ._collection import Series as _Series, _paired
    from pyspark.sql import functions as _F
    if isinstance(frame, _Series):
        s1, s2 = frame, index
        if not isinstance(s2, _Series):
            raise ValueError("crosstab(series, series) needs two Series")
        n1 = s1.name or "row"
        n2 = s2.name or "col"
        if n1 == n2:
            n2 = n2 + "_2"
        if s2._sdf is s1._sdf:
            extra = []
            if isinstance(values, _Series):
                if values._sdf is not s1._sdf:
                    raise ValueError("crosstab values= Series must share "
                                     "the row/column Series' frame")
                extra = [values._scol.alias("__v__")]
                values = "__v__"
            sdf = s1._sdf.select(s1._scol.alias(n1), s2._scol.alias(n2),
                                 *extra)
        else:
            # foreign series: pandas inner-aligns them on their labels
            sdf = (_paired(s1, s2, "inner")._sdf
                   .select(_F.col("__l__").alias(n1),
                           _F.col("__r__").alias(n2)))
        frame, index, columns = DataFrame(sdf), n1, n2
    if values is not None or aggfunc is not None:
        return frame.crosstab(index, columns, values=values,
                              aggfunc=aggfunc or "count",
                              normalize=normalize, margins=margins,
                              margins_name=margins_name)
    return frame.crosstab(index, columns, normalize=normalize,
                          margins=margins, margins_name=margins_name)


def get_dummies(frame, columns=None, values=None, prefix=None,
                prefix_sep: str = "_", drop_first: bool = False,
                dummy_na: bool = False, dtype: str = "int"):
    """pandas ``pd.get_dummies`` — frame form (``get_dummies(df, cols)``)
    or pandas' bare form ``get_dummies(df_or_series)`` (all string
    columns / the series itself).  ``prefix`` (str or per-column dict),
    ``drop_first`` and pandas dtype aliases (``int64``/``float64``/
    ``bool``) supported."""
    from ._collection import Series as _Series
    if isinstance(frame, _Series):
        name = frame.name or "value"
        frame = frame.to_frame(name)
        columns = [name]
    elif columns is None:
        columns = [c for c in frame.columns
                   if str(frame._sdf.schema[c].dataType).startswith(
                       ("StringType", "VarcharType"))]
    return frame.get_dummies(columns, values=values, prefix=prefix,
                             prefix_sep=prefix_sep, drop_first=drop_first,
                             dummy_na=dummy_na, dtype=dtype)


def wide_to_long(frame, stubnames, i, j, sep: str = "", suffix: str = r"\d+"):
    """pandas ``pd.wide_to_long``: unpivot ``stub{sep}{suffix}`` column
    families into long format indexed by ``(i..., j)``.

    The stub→suffix map comes from the SCHEMA (no data scan); the reshape
    lowers to one projection + ``explode`` of an array of structs — a
    narrow generator, no shuffle, no union of per-suffix branches.  A
    suffix missing for some stub yields nulls (pandas parity).  ``j`` is
    cast to long when every suffix is numeric, like pandas."""
    import re
    stubs = [stubnames] if isinstance(stubnames, str) else list(stubnames)
    ids = [i] if isinstance(i, str) else list(i)
    from pyspark.sql import functions as _F
    pats = {s: re.compile(f"^{re.escape(s)}{re.escape(sep)}({suffix})$")
            for s in stubs}
    col_of: dict[str, dict[str, str]] = {s: {} for s in stubs}
    matched: set[str] = set()
    for c in frame.columns:
        for s, pat in pats.items():
            m = pat.match(c)
            if m:
                col_of[s][m.group(1)] = c
                matched.add(c)
                break
    suffixes = sorted({sfx for d in col_of.values() for sfx in d})
    if not suffixes:
        raise ValueError(f"no columns match stubnames {stubs!r}")
    numeric_j = all(s.isdigit() for s in suffixes)
    schema = {f.name: f.dataType for f in frame._sdf.schema.fields}

    def _val(s: str, sfx: str):
        c = col_of[s].get(sfx)
        if c is not None:
            return _F.col(c)
        some = next(iter(col_of[s].values()))
        return _F.lit(None).cast(schema[some])

    rows = _F.array(*[
        _F.struct(
            (_F.lit(int(sfx) if numeric_j else sfx)
             .cast("long" if numeric_j else "string")).alias(j),
            *[_val(s, sfx).alias(s) for s in stubs])
        for sfx in suffixes])
    keep = [c for c in frame.columns if c not in matched and c not in ids]
    sdf = (frame._sdf
           .select(*ids, *keep, _F.explode(rows).alias("__w2l__"))
           .select(*ids, _F.col(f"__w2l__.{j}").alias(j), *keep,
                   *[_F.col(f"__w2l__.{s}").alias(s) for s in stubs]))
    out = _DataFrameImpl(sdf, Node("wide_to_long", {"stubs": stubs},
                                   frame._expr), (), ())
    return out.set_index([*ids, j])


def json_normalize(data, record_path=None, meta=None, sep: str = ".",
                   max_level=None, npartitions: int | None = None):
    """pandas ``pd.json_normalize`` over driver-resident records (list of
    dicts / dict) → engine DataFrame.  The flatten itself runs on the
    driver via pandas (the input is already driver memory — same contract
    as ``from_pandas``); for normalizing a JSON string COLUMN at scale
    use ``Series.str`` + ``from_json`` (see the events gates)."""
    import pandas as _pd
    pdf = _pd.json_normalize(data, record_path=record_path, meta=meta,
                             sep=sep, max_level=max_level)
    return from_pandas(pdf, npartitions=npartitions)


class DataFrame(_DataFrameImpl):
    """User-facing constructor accepts in-memory data (reference
    ``_collection.py:326-339`` → ``PandasIO`` leaf) or a Spark DataFrame."""

    def __init__(self, data=None, expr=None, index_cols=(), index_names=None,
                 dtypes=None):
        from pyspark.sql import DataFrame as SparkDF
        if isinstance(data, SparkDF):
            super().__init__(data, expr, index_cols, index_names, dtypes)
            return
        import pandas as pd
        pdf = data if isinstance(data, pd.DataFrame) else pd.DataFrame(data)
        f = from_pandas(pdf)
        super().__init__(f._sdf, f._expr, f._index_cols,
                         f._index_names or (), f._dtypes)


def isna(obj):
    """pandas ``pd.isna``: engine collections dispatch to their lazy
    ``isna``; scalars answer eagerly."""
    import pandas as pd
    if isinstance(obj, (Series, _DataFrameImpl)):
        return obj.isna()
    return pd.isna(obj)


def notna(obj):
    import pandas as pd
    if isinstance(obj, (Series, _DataFrameImpl)):
        return obj.notna()
    return pd.notna(obj)


isnull = isna
notnull = notna


def unique(series):
    """pandas ``pd.unique`` over an engine Series → lazy distinct Series."""
    return series.unique()


# pandas scalar singletons / spec types (public pandas API re-exports —
# users write pes.NaT / pes.NA / pes.NamedAgg exactly like pd.*)
import collections as _collections
import pandas as _pd

NamedAgg = _collections.namedtuple("NamedAgg", ["column", "aggfunc"])
NaT = _pd.NaT
NA = _pd.NA
Timestamp = _pd.Timestamp
Timedelta = _pd.Timedelta

_TD_UNIT_SECS = {"w": 604800, "d": 86400, "day": 86400, "days": 86400,
                 "h": 3600, "hr": 3600, "hour": 3600, "hours": 3600,
                 "m": 60, "min": 60, "minute": 60, "minutes": 60,
                 "s": 1, "sec": 1, "second": 1, "seconds": 1,
                 "ms": 1e-3, "milli": 1e-3, "millisecond": 1e-3,
                 "us": 1e-6, "micro": 1e-6, "microsecond": 1e-6}


def to_timedelta(arg, unit: str = "ns"):
    """pandas ``pd.to_timedelta``.  An engine Series of numbers becomes a
    day-time interval column (JVM-side ``make_dt_interval``); scalars and
    plain sequences delegate to pandas."""
    from pyspark.sql import functions as F
    if isinstance(arg, Series):
        from pyspark.sql import types as _T
        if isinstance(arg.spark_type, _T.StringType):
            # pandas string forms ('1 days', '3 hours', '00:01:30') are a
            # pandas grammar, not SQL — parse Arrow-batched and carry the
            # value as total seconds into a JVM interval
            from pyspark.sql.functions import pandas_udf

            @pandas_udf(_T.DoubleType())
            def _td_secs(s: _pd.Series) -> _pd.Series:
                return _pd.to_timedelta(s).dt.total_seconds()
            return arg._with_scol(
                F.make_dt_interval(secs=_td_secs(arg._scol)),
                "to_timedelta")
        secs = _TD_UNIT_SECS.get(unit.lower())
        if secs is None:
            raise ValueError(f"to_timedelta: unsupported unit {unit!r}")
        return arg._with_scol(
            F.make_dt_interval(secs=arg._scol.cast("double") * secs),
            "to_timedelta")
    return _pd.to_timedelta(arg, unit=unit)


def date_range(start, end=None, periods: int | None = None,
               freq: str = "D", name: str | None = None) -> Series:
    """pandas ``pd.date_range`` as a DISTRIBUTED timestamp spine: built
    from ``spark.range(n)`` + interval arithmetic, so a years-of-minutes
    calendar materializes across executors (never a driver list).  Exactly
    one of ``end`` / ``periods`` is required."""
    import re as _re
    from pyspark.sql import functions as F
    from ._expr import Node as _Node
    m = _re.fullmatch(r"(\d*)\s*([a-zA-Z]+)", str(freq).strip())
    if not m:
        raise ValueError(f"cannot parse freq {freq!r}")
    mult = int(m.group(1)) if m.group(1) else 1
    unit = {"d": "days", "h": "hours", "min": "mins", "t": "mins",
            "s": "secs", "w": "weeks"}.get(m.group(2).lower())
    if unit is None:
        raise ValueError(f"date_range freq {freq!r} not supported "
                         "(fixed-width D/h/min/s/W only)")
    step_secs = {"days": 86400, "hours": 3600, "mins": 60, "secs": 1,
                 "weeks": 604800}[unit] * mult
    start_ts = _pd.Timestamp(start)
    if periods is None:
        if end is None:
            raise ValueError("date_range needs end= or periods=")
        total = int((_pd.Timestamp(end) - start_ts).total_seconds()
                    // step_secs) + 1
    else:
        total = int(periods)
    spark = get_spark()
    sdf = spark.range(total).select(
        (F.lit(start_ts.to_pydatetime()).cast("timestamp")
         + F.make_dt_interval(secs=F.col("id").cast("double") * step_secs)
         ).alias(name or "__dr__"))
    node = _Node("date_range", {"start": str(start), "freq": freq}, )
    return Series(sdf, sdf[name or "__dr__"], name, node, (), (None,))


def bdate_range(start, end=None, periods: int | None = None,
                name: str | None = None) -> Series:
    """pandas ``pd.bdate_range`` (business days): the daily distributed
    spine filtered to Mon–Fri — one extra JVM predicate, still never a
    driver list.  With ``periods=``, enough calendar days are generated
    to cover the requested business days before the weekday filter."""
    from pyspark.sql import functions as F
    from ._expr import Node as _Node
    if periods is not None:
        # 7 calendar days per 5 business days (+buffer for the phase)
        cal = date_range(start, periods=int(periods * 7 / 5) + 7, freq="D",
                         name=name)
    else:
        cal = date_range(start, end=end, freq="D", name=name)
    col = cal._scol
    sdf = cal._sdf.filter(~F.dayofweek(col).isin([1, 7]))
    out = Series(sdf, col, name, _Node("bdate_range", {}), (), (None,))
    if periods is not None:
        out = Series(sdf.orderBy(col).limit(int(periods)), col, name,
                     _Node("bdate_range", {"periods": periods}), (),
                     (None,))
    return out


def timedelta_range(start="0 days", end=None, periods: int | None = None,
                    freq: str = "D", name: str | None = None) -> Series:
    """pandas ``pd.timedelta_range`` as a distributed interval spine
    (``spark.range`` + ``make_dt_interval``)."""
    from pyspark.sql import functions as F
    from ._expr import Node as _Node
    step = _pd.Timedelta(freq)
    start_td = _pd.Timedelta(start)
    if periods is None:
        if end is None:
            raise ValueError("timedelta_range needs end= or periods=")
        total = int((_pd.Timedelta(end) - start_td) // step) + 1
    else:
        total = int(periods)
    spark = get_spark()
    s_us, p_us = start_td.value // 1000, step.value // 1000
    sdf = spark.range(total).select(
        F.make_dt_interval(
            secs=(F.lit(float(s_us)) + F.col("id").cast("double") * p_us)
            / 1e6).alias(name or "__tdr__"))
    node = _Node("timedelta_range", {"freq": freq})
    return Series(sdf, sdf[name or "__tdr__"], name, node, (), (None,))


def period_range(start, end=None, periods: int | None = None,
                 freq: str = "M", name: str | None = None) -> Series:
    """pandas ``pd.period_range``: a period-valued spine (stored as
    period-START timestamps with freq metadata, like ``to_period``)."""
    from pyspark.sql import functions as F
    from ._expr import Node as _Node
    from .functions.timeseries import _norm_freq, period_start_col
    start_ts = _pd.Period(start, freq=freq).start_time
    if periods is None:
        if end is None:
            raise ValueError("period_range needs end= or periods=")
        total = (_pd.Period(end, freq=freq) -
                 _pd.Period(start, freq=freq)).n + 1
    else:
        total = int(periods)
    interval, unit = _norm_freq(freq)
    n_per, u_name = interval.split()  # e.g. "3 MONTH"
    spark = get_spark()
    base = spark.range(total).select(
        F.timestamp_add(u_name,
                        (F.col("id") * int(n_per)).cast("int"),
                        F.lit(start_ts.to_pydatetime()).cast("timestamp"))
        .alias(name or "__pr__"))
    col = period_start_col(F.col(name or "__pr__"), freq)
    sdf = base.select(col.alias(name or "__pr__"))
    node = _Node("period_range", {"freq": freq})
    return Series(sdf, sdf[name or "__pr__"], name, node, (), (None,),
                  {_value_key(name): _dtypes.Presented("period", freq=freq)})


class Grouper:
    """pandas ``pd.Grouper``: a calendar grouping spec for ``groupby`` —
    ``df.groupby(pes.Grouper(key="ts", freq="D"))`` groups by the period
    start (pure ``date_trunc`` projection, same lowering as resample)."""

    def __init__(self, key: str | None = None, freq: str | None = None,
                 level=None):
        if level is not None:
            raise NotImplementedError("Grouper(level=)")
        self.key, self.freq = key, freq


def from_dummies(frame, sep: str = "_", default_category=None):
    """pandas ``pd.from_dummies`` — invert ``get_dummies``: each
    ``prefix{sep}category`` indicator family collapses back to one
    categorical column.  Pure projection (a chained CASE per family from
    the SCHEMA — no data scan, no shuffle); rows with no set indicator
    take ``default_category`` (pandas raises there without one — so do
    we, at compute, via the same contract)."""
    from pyspark.sql import functions as F
    groups: dict[str, list[str]] = {}
    for c in frame.columns:
        if sep in c:
            pre, _, cat = c.partition(sep)
            groups.setdefault(pre, []).append(cat)
    if not groups:
        raise ValueError("from_dummies found no 'prefix{sep}category' "
                         "columns")
    sdf = frame._sdf
    keep = [c for c in frame.columns if c.partition(sep)[0] not in groups]
    sel = [F.col(c) for c in list(frame._index_cols) + keep]
    for pre, cats in groups.items():
        expr = (F.lit(default_category) if default_category is not None
                else F.raise_error(F.lit(
                    f"from_dummies: row with no set indicator for "
                    f"'{pre}' and no default_category")).cast("string"))
        for cat in cats:
            expr = F.when(F.col(f"{pre}{sep}{cat}") == 1,
                          F.lit(cat)).otherwise(expr)
        sel.append(expr.alias(pre))
    from ._collection import DataFrame as _DF
    from ._expr import Node as _Node
    return _DF(sdf.select(*sel), _Node("from_dummies", {"sep": sep},
                                       frame._expr),
               frame._index_cols, frame._index_names)


def factorize(series, sort: bool = False):
    """pandas ``pd.factorize`` over an engine Series → lazy
    (codes, uniques) pair (first-appearance coding; ``sort=True`` codes
    by sorted unique value instead — a dense rank, same distributed
    shape)."""
    return series.factorize(sort=sort)


__all__ = [
    "DataFrame", "Series", "Index", "Scalar",
    "Expr", "Node", "tokenize",
    "read_parquet", "read_csv", "read_json", "read_orc", "read_jdbc",
    "read_text", "read_binary",
    "from_pandas", "from_spark",
    "concat", "merge", "merge_asof", "merge_ordered", "interval_join", "salted_join", "union", "intersect", "except_",
    "cut", "qcut", "melt", "pivot", "pivot_table", "crosstab",
    "wide_to_long", "json_normalize",
    "get_dummies", "from_dummies", "to_datetime", "to_numeric",
    "isna", "notna", "isnull", "notnull", "unique", "factorize",
    "date_range", "bdate_range", "timedelta_range", "period_range",
    "Grouper",
    "get_spark",
]
