"""Continuation-8 hunt pins: label preservation through sort/explode,
NaN-in-values isin, null-group-key semantics across grouped ops, and the
JVM rowid attach."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pandas.testing as tm
import pytest

import pandas_expr_spark as pes


@pytest.fixture()
def nullkey_pdf():
    return pd.DataFrame({"g": [None, "x", "x", None], "v": [1, 2, 3, 4]})


def _vals(x):
    x = x.compute()
    if hasattr(x, "columns"):
        x = x[x.columns[0]]
    return list(x.sort_index())


def test_sort_values_preserves_row_labels(spark):
    pdf = pd.DataFrame({"a": [3, 1, 2, 1], "b": [1.0, 2.0, 3.0, 4.0]})
    f = pes.from_pandas(pdf)
    got = f.sort_values("a").compute()
    exp = pdf.sort_values("a", kind="stable")
    tm.assert_frame_equal(got, exp, check_dtype=False)
    # ignore_index=True relabels 0..n-1 (and skips the rowid attach)
    got2 = f.sort_values("a", ignore_index=True).compute()
    tm.assert_frame_equal(got2, pdf.sort_values("a", kind="stable",
                                                ignore_index=True),
                          check_dtype=False)


def test_explode_duplicates_row_labels(spark):
    pdf = pd.DataFrame({"a": [3, 1, 2, 1],
                        "v": [[1, 2], [], [3], None]})
    f = pes.from_pandas(pdf)
    got = f.explode("v").compute()
    exp = pdf.explode("v")
    assert list(got.index) == list(exp.index)
    assert [None if pd.isna(x) else x for x in got["v"]] == \
           [None if pd.isna(x) else x for x in exp["v"]]


def test_isin_nan_in_values(spark):
    pdf = pd.DataFrame({"e": [1.5, np.nan, 7.0, np.nan],
                        "s": ["a", None, "b", "c"]})
    f = pes.from_pandas(pdf)
    assert list(f["e"].isin([1.5, np.nan]).compute()) == \
           list(pdf["e"].isin([1.5, np.nan]))
    assert list(f["s"].isin([None, "b"]).compute()) == \
           list(pdf["s"].isin([None, "b"]))
    # frame form: pandas matches NA sentinels per-flavor (np.nan only in
    # float cols, None only in object cols); Spark has ONE null, so the
    # engine rule is "any NA in values matches null cells" — pin the
    # engine contract (float col matches pandas; object col is the
    # documented divergence: None cells match np.nan too)
    got = f.isin([np.nan, 7.0]).compute()
    assert list(got["e"]) == list(pdf.isin([np.nan, 7.0])["e"])
    assert list(got["s"]) == [False, True, False, False]
    # no NaN in values -> null elements stay False
    assert list(f["e"].isin([1.5]).compute()) == [True, False, False, False]


def test_groupby_nullkey_filter_ops_drop_rows(spark, nullkey_pdf):
    p, f = nullkey_pdf, pes.from_pandas(nullkey_pdf)
    assert sorted(f.groupby("g").head(5).compute()["v"]) == \
           sorted(p.groupby("g").head(5)["v"])
    assert sorted(f.groupby("g").tail(1).compute()["v"]) == \
           sorted(p.groupby("g").tail(1)["v"])
    assert sorted(f.groupby("g").nth(0).compute()["v"]) == \
           sorted(p.groupby("g").nth(0)["v"])
    # dropna=False keeps the null group
    assert sorted(f.groupby("g", dropna=False).head(1).compute()["v"]) == \
           sorted(p.groupby("g", dropna=False).head(1)["v"])


@pytest.mark.parametrize("op", [
    lambda g: g["v"].cumsum(),
    lambda g: g["v"].shift(1),
    lambda g: g["v"].rank(),
    lambda g: g["v"].ffill(),
    lambda g: g["v"].transform("sum"),
    lambda g: g.cumcount(),
    lambda g: g.ngroup(),
])
def test_groupby_nullkey_transforms_null_values(spark, nullkey_pdf, op):
    p, f = nullkey_pdf, pes.from_pandas(nullkey_pdf)
    got = _vals(op(f.groupby("g")))
    exp = list(op(p.groupby("g")))
    assert len(got) == len(exp)
    for g, e in zip(got, exp):
        assert (pd.isna(g) and pd.isna(e)) or g == e, (got, exp)


def test_groupby_transform_excludes_keys(spark, nullkey_pdf):
    p, f = nullkey_pdf, pes.from_pandas(nullkey_pdf)
    got = f.groupby("g").transform("mean").compute().sort_index()
    exp = p.groupby("g").transform("mean")
    tm.assert_frame_equal(got, exp, check_dtype=False)


def test_grouped_rank_aligns_on_default_index(spark):
    pdf = pd.DataFrame({"g": ["b", "a", "b", "a", "b"],
                        "v": [5.0, 1.0, 3.0, 2.0, 4.0]})
    f = pes.from_pandas(pdf)
    got = f.groupby("g")["v"].rank().compute()
    got = got if not hasattr(got, "columns") else got[got.columns[0]]
    exp = pdf.groupby("g")["v"].rank()
    assert list(got.sort_index()) == list(exp)


def test_attach_rowid_jvm_positional(spark):
    from pandas_expr_spark._order import _ROWID, _attach_rowid
    sdf = spark.range(0, 500, 1, 9).filter("id % 3 != 0") \
        .selectExpr("id as v")
    rows = _attach_rowid(sdf).orderBy("v").collect()
    assert [r[_ROWID] for r in rows] == list(range(len(rows)))
    assert [r["v"] for r in rows] == sorted(r["v"] for r in rows)
    # plan is shuffle-free on the data side: broadcast join only
    plan = _attach_rowid(sdf)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_str_slice_negative(spark):
    pdf = pd.DataFrame({"s": ["hello", "ab", "", None, "x y z"]})
    f = pes.from_pandas(pdf)
    for args in [(-2,), (-3, -1), (1, -1), (-10, 2), (0, -10), (2,), (1, 3)]:
        got = list(f["s"].str.slice(*args).compute())
        exp = list(pdf["s"].str.slice(*args))
        assert [None if pd.isna(x) else x for x in got] == \
            [None if pd.isna(x) else x for x in exp], (args, got, exp)


def test_str_rsplit(spark):
    pdf = pd.DataFrame({"s": ["a b c d", "x", "", None, "p  q"]})
    f = pes.from_pandas(pdf)
    for kw in [{}, {"n": 1}, {"n": 2}, {"pat": " ", "n": 1}, {"pat": "b"}]:
        got = list(f["s"].str.rsplit(**kw).compute())
        exp = list(pdf["s"].str.rsplit(**kw))
        def norm(x):
            if isinstance(x, (list, np.ndarray)):
                return list(x)
            return None if pd.isna(x) else x
        assert [norm(x) for x in got] == [norm(x) for x in exp], \
            (kw, got, exp)


def test_dt_month_day_name(spark):
    pdf = pd.DataFrame({"t": pd.to_datetime(
        ["2024-01-15", "2024-06-02", "2024-12-31"])})
    f = pes.from_pandas(pdf)
    assert list(f["t"].dt.month_name().compute()) == \
           list(pdf["t"].dt.month_name())
    assert list(f["t"].dt.day_name().compute()) == \
           list(pdf["t"].dt.day_name())


def test_concat_preserves_labels(spark):
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0],
                        "s": ["a", "b", "c"]})
    f = pes.from_pandas(pdf)
    got = pes.concat([f[["k", "v"]], f[["k", "s"]]]).compute().sort_index()
    exp = pd.concat([pdf[["k", "v"]], pdf[["k", "s"]]]).sort_index()
    tm.assert_frame_equal(got[["k", "v", "s"]], exp[["k", "v", "s"]],
                          check_dtype=False)
    gi = pes.concat([f[["k"]], f[["k"]]], join="inner").compute()
    assert sorted(gi.index) == [0, 0, 1, 1, 2, 2]
    gg = pes.concat([f[["k"]], f[["k"]]], ignore_index=True).compute()
    assert list(gg.index) == [0, 1, 2, 3, 4, 5]
