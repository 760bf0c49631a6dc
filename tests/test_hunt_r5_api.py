"""Round-5 hunt wave J pins: from_pandas Series collections, fill_value
on NaN values, Series.combine(fill_value=), and all-int frame reduction
dtypes.  Each test pins a real divergence found by differential probing
against eager pandas."""
from __future__ import annotations

import numpy as np
import pandas as pd

import pandas_expr_spark as pes
from pandas_expr_spark import Series


def test_from_pandas_series_returns_series():
    # reference from_pandas (io/io.py:17-20) returns a Series collection
    # for a pandas Series input; the engine returned a 1-col DataFrame,
    # which silently re-routed Series calls (combine, to_dict) through
    # frame methods with different shapes
    s = pd.Series([1.0, np.nan, 3.0], index=[0, 1, 2], name="s")
    es = pes.from_pandas(s)
    assert isinstance(es, Series)
    assert es.name == "s"
    pd.testing.assert_series_equal(es.compute(), s)
    assert es.to_dict() == {0: 1.0, 2: 3.0} or np.isnan(es.to_dict()[1])


def test_from_pandas_series_unnamed_and_typed():
    u = pes.from_pandas(pd.Series([1, 2, 3]))
    assert isinstance(u, Series) and u.name is None
    pd.testing.assert_series_equal(u.compute(), pd.Series([1, 2, 3]))
    c = pes.from_pandas(pd.Series(pd.Categorical(["a", "b", "a"]), name="c"))
    assert str(c.compute().dtype) == "category"
    p = pes.from_pandas(
        pd.Series(pd.period_range("2024-01", periods=3, freq="M"), name="p"))
    assert str(p.compute().dtype) == "period[M]"


def test_fill_value_fills_nan_values_not_just_missing_labels():
    # pandas fill_value applies to NaN VALUES on one side, not only to
    # labels absent from the index union; the engine only filled at the
    # alignment join, so computed NaNs never took the fill
    s = pd.Series([1.0, np.nan, 3.0], name="s")
    es = pes.from_pandas(s)
    want = s.div(s * np.nan, fill_value=3)
    got = es.div(es * np.nan, fill_value=3).compute()
    pd.testing.assert_series_equal(got.sort_index(), want)


def test_series_combine_fill_value():
    # fill_value substitutes only for ABSENT labels; a present NaN value
    # is handed to func unchanged (max(nan, 10) is nan)
    s1 = pd.Series([1.0, np.nan, 3.0], index=[0, 1, 2], name="s")
    s2 = pd.Series([10.0, 20.0], index=[1, 5], name="s")
    want = s1.combine(s2, max, fill_value=0)
    got = (pes.from_pandas(s1).combine(pes.from_pandas(s2), max,
                                       fill_value=0)
           .compute().sort_index())
    pd.testing.assert_series_equal(got, want)


def test_all_int_frame_reductions_stay_int64():
    pdf = pd.DataFrame({"z": [3, 3, 3, 3], "b": [10, 20, 30, 40]})
    e = pes.from_pandas(pdf)
    for op in ["sum", "min", "max", "prod"]:
        want = getattr(pdf, op)()
        got = getattr(e, op)().compute()
        pd.testing.assert_series_equal(got, want), op
    # mixed int/float still promotes to float64 like pandas
    mixed = pd.DataFrame({"a": [1.5, 2.5], "b": [1, 2]})
    got = pes.from_pandas(mixed).sum().compute()
    pd.testing.assert_series_equal(got, mixed.sum())


def test_frame_agg_string_min_keeps_strings():
    # all-string frame: min returns the strings (previously a
    # CAST_INVALID_INPUT crash from the unconditional double cast)
    pdf = pd.DataFrame({"s": ["b", "a"], "t": ["y", "x"]})
    got = pes.from_pandas(pdf).agg("min").compute()
    assert dict(got) == dict(pdf.agg("min"))
    # mixed string/int (pandas: object Series) — documented best-effort:
    # values ride as strings since one Spark column holds both
    mixed = pd.DataFrame({"s": ["b", "a"], "n": [2, 1]})
    got = pes.from_pandas(mixed).agg("min").compute()
    assert dict(got) == {"s": "a", "n": "1"}
