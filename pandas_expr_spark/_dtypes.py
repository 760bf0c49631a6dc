"""pandas dtype ⇄ Spark DataType mapping.

The reference supports whatever pandas 2.x supports (SURVEY §1.4;
``pyproject.toml:25-29``).  This table covers every type family its tests
exercise plus the Spark-native extras (decimal/map/struct/array) we get free.
"""

from __future__ import annotations

from dataclasses import dataclass
from types import MappingProxyType
from typing import Any, Mapping

import numpy as np
import pandas as pd
from pyspark.sql import types as T

_PANDAS_TO_SPARK: dict[str, T.DataType] = {
    "int8": T.ByteType(),
    "int16": T.ShortType(),
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "int": T.LongType(),
    "uint8": T.ShortType(),
    "uint16": T.IntegerType(),
    "uint32": T.LongType(),
    "uint64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
    "boolean": T.BooleanType(),
    "object": T.StringType(),
    "str": T.StringType(),
    "string": T.StringType(),
    "datetime64[ns]": T.TimestampType(),
    "datetime64[us]": T.TimestampType(),
    "datetime64[ms]": T.TimestampType(),
    "timestamp": T.TimestampType(),
    "date": T.DateType(),
    "binary": T.BinaryType(),
}

_SPARK_TO_PANDAS: dict[type, str] = {
    T.ByteType: "int8",
    T.ShortType: "int16",
    T.IntegerType: "int32",
    T.LongType: "int64",
    T.FloatType: "float32",
    T.DoubleType: "float64",
    T.BooleanType: "bool",
    T.StringType: "object",
    T.TimestampType: "datetime64[ns]",
    T.TimestampNTZType: "datetime64[ns]",
    T.DateType: "object",
    T.BinaryType: "object",
}


def to_spark_type(dtype: Any) -> T.DataType:
    """Convert a pandas/numpy dtype (or its string name) to a Spark type."""
    if isinstance(dtype, T.DataType):
        return dtype
    name = getattr(dtype, "name", None) or str(dtype)
    # numpy dtype objects / np.int64 classes
    if hasattr(dtype, "__name__"):
        name = dtype.__name__
    name = name.lower()
    if name in _PANDAS_TO_SPARK:
        return _PANDAS_TO_SPARK[name]
    if name.startswith("decimal"):
        import re
        m = re.match(r"decimal\((\d+),\s*(\d+)\)", name)
        if m:
            return T.DecimalType(int(m.group(1)), int(m.group(2)))
        return T.DecimalType(38, 18)
    raise TypeError(f"Unsupported dtype for Spark conversion: {dtype!r}")


def to_pandas_dtype(dt: T.DataType):
    """pandas dtype OBJECT for a Spark type (used by ``.dtype``/
    ``.dtypes``).  A real ``np.dtype`` — pandas exposes ``.kind``/
    ``.itemsize`` on it and user code relies on that; ``np.dtype ==
    "int64"`` string comparisons still hold."""
    for cls, name in _SPARK_TO_PANDAS.items():
        if isinstance(dt, cls):
            return np.dtype(name)
    return np.dtype("object")


def is_numeric(dt: T.DataType) -> bool:
    return isinstance(dt, T.NumericType)


# --------------------------------------------------------------------------
# The dtype record: pandas dtypes Spark has no type for
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class Presented:
    """The pandas dtype ``compute()`` presents for one Spark column whose
    stored type lacks it (SURVEY §1.4).  ``kind`` is one of

    - ``"category"``: values stored as the category type; ``categories``
      is ``None`` while unknown (``astype("category")``);
    - ``"period"``: values stored as period-START timestamps; ``freq`` is
      the engine freq string (``"M"``, ``"Q-DEC"``, ...);
    - ``"datetimetz"``: ``stored`` is ``"utc"`` (UTC instants) or
      ``"wall"`` (the zone's wall clock);
    - ``"object"``: exploded list elements; ``stored`` is the element
      kind, ``"int"`` or ``"other"``.
    """
    kind: str
    categories: tuple | None = None
    ordered: bool = False
    freq: str | None = None
    tz: str | None = None
    stored: str | None = None

    @property
    def dtype(self):
        if self.kind == "category":
            cats = None if self.categories is None else list(self.categories)
            return pd.CategoricalDtype(cats, self.ordered)
        if self.kind == "period":
            return pd.PeriodDtype(self.freq)
        if self.kind == "datetimetz":
            return pd.DatetimeTZDtype("ns", self.tz)
        return np.dtype(object)

    def present(self, ser):
        """``ser`` (a column as Arrow delivered it) in this dtype."""
        if self.kind == "category":
            return ser.astype(self.dtype)
        if self.kind == "object":
            if ser.dtype == object:
                return ser
            if self.stored == "int" and ser.dtype.kind == "f":
                # integral elements stay int objects (NaN for empty lists)
                # instead of the float64 a nullable long round-trip gives
                return pd.Series([np.nan if pd.isna(x) else int(x)
                                  for x in ser], index=ser.index,
                                 dtype=object, name=ser.name)
            return ser.astype(object)
        if ser.dtype.kind != "M":
            return ser
        if self.kind == "period":
            return ser.dt.to_period(self.freq)
        try:
            if self.stored == "utc":
                return ser.dt.tz_localize("UTC").dt.tz_convert(self.tz)
            return ser.dt.tz_localize(self.tz)
        except Exception:   # DST-ambiguous wall clocks stay naive
            return ser


def category(categories=None, ordered: bool = False) -> Presented:
    cats = None if categories is None else tuple(pd.Index(categories).tolist())
    return Presented("category", categories=cats, ordered=bool(ordered))


def dtype_record(entries=()) -> Mapping[str, Presented]:
    """An immutable record ``{spark column: Presented}``; ``None``
    entries are left out."""
    return MappingProxyType({k: v for k, v in dict(entries).items()
                             if v is not None})


def present(pdf, index_cols, rec: Mapping[str, Presented]):
    """Present ``pdf`` (its index already set from ``index_cols``) in the
    record's dtypes: value columns and index levels alike."""
    if not rec:
        return pdf
    for c in pdf.columns:
        if c in rec:
            pdf[c] = rec[c].present(pdf[c])
    if any(c in rec for c in index_cols):
        idx = pdf.index
        levels = [idx.get_level_values(i) for i in range(idx.nlevels)]
        levels = [pd.Index(rec[c].present(pd.Series(lv)), name=lv.name)
                  if c in rec else lv for c, lv in zip(index_cols, levels)]
        pdf.index = (levels[0] if len(levels) == 1
                     else pd.MultiIndex.from_arrays(levels))
    return pdf


# --------------------------------------------------------------------------
# The column-axis record: pandas column labels Spark names cannot spell
# --------------------------------------------------------------------------
@dataclass(frozen=True)
class Axis:
    """The pandas column axis ``compute()`` presents.  ``labels`` maps a
    Spark column to its pandas label where the two differ (an int, or a
    MultiIndex tuple); ``name`` is the axis name."""
    labels: Mapping[str, Any]
    name: Any = None

    def keep(self, cols, renames: Mapping | None = None) -> "Axis":
        """This axis over the Spark columns ``cols`` of a derived frame.
        A column renamed through ``renames`` takes its new name as its
        label."""
        ren = renames or {}
        cols = set(cols)
        return axis_record({c: lab for c, lab in self.labels.items()
                            if c in cols and c not in ren}, self.name)


def axis_record(labels=(), name=None) -> Axis:
    """An immutable column-axis record; labels equal to their Spark name
    are left out."""
    return Axis(MappingProxyType({k: v for k, v in dict(labels).items()
                                  if v != k}), name)


NO_AXIS = axis_record()


def present_axis(pdf, axis: Axis):
    """Present ``pdf``'s columns as the record's pandas axis: its labels
    (a MultiIndex when any is a tuple; other columns take pandas'
    ``(col, '')`` form) and its name."""
    if axis.labels:
        labels = [axis.labels.get(c, c) for c in pdf.columns]
        width = max((len(x) for x in labels if isinstance(x, tuple)),
                    default=0)
        if width:
            pdf.columns = pd.MultiIndex.from_tuples(
                [x if isinstance(x, tuple) else (x,) + ("",) * (width - 1)
                 for x in labels])
        else:
            pdf.columns = pd.Index(labels)
    if axis.name is not None:
        pdf.columns.name = axis.name
    return pdf
