"""Differential parity sweep 10 — frame-surgery and time-selection APIs:
filter(items/like/regex), truncate, between_time/at_time, swaplevel/
droplevel/reorder_levels, set_axis, pivot, compare, to_dict."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pandas_expr_spark as pes


@pytest.fixture()
def tdf(spark):
    ts = pd.date_range("2024-01-01", periods=48, freq="45min")
    pdf = pd.DataFrame({"ts": ts, "v": np.arange(48.0),
                        "w": np.arange(48.0) * 2})
    return pdf, pes.from_pandas(pdf)


def test_filter_items_like_regex(tdf):
    pdf, df = tdf
    assert df.filter(items=["v"]).columns == ["v"]
    assert df.filter(like="t").columns == list(pdf.filter(like="t").columns)
    assert df.filter(regex="^[vw]$").columns == \
        list(pdf.filter(regex="^[vw]$").columns)


def test_truncate_matches_pandas(tdf):
    pdf, df = tdf
    p = pdf.set_index("ts").truncate(before="2024-01-01 06:00",
                                     after="2024-01-02 00:00")
    g = (df.set_index("ts")
         .truncate(before=pd.Timestamp("2024-01-01 06:00"),
                   after=pd.Timestamp("2024-01-02 00:00")).compute())
    pd.testing.assert_frame_equal(g.sort_index(), p, check_freq=False)


@pytest.mark.parametrize("start,end", [("09:00", "17:00"),
                                       ("22:30", "02:15")])
def test_between_time_incl_wrap(tdf, start, end):
    pdf, df = tdf
    p = pdf.set_index("ts").between_time(start, end)
    g = df.set_index("ts").between_time(start, end).compute().sort_index()
    pd.testing.assert_frame_equal(g, p.sort_index(), check_freq=False)


def test_at_time(tdf):
    pdf, df = tdf
    p = pdf.set_index("ts").at_time("12:00")
    g = df.set_index("ts").at_time("12:00").compute().sort_index()
    pd.testing.assert_frame_equal(g, p.sort_index(), check_freq=False)


def test_swaplevel_droplevel_reorder(spark):
    pdf = pd.DataFrame({"a": [1, 1, 2], "b": ["x", "y", "x"],
                        "v": [1.0, 2.0, 3.0]})
    df = pes.from_pandas(pdf).set_index(["a", "b"])
    sw = df.swaplevel().compute()
    assert list(sw.index.names) == ["b", "a"]
    ro = df.reorder_levels(["b", "a"]).compute()
    assert list(ro.index.names) == ["b", "a"]
    dl = df.droplevel("a").compute()
    assert list(dl.index.names) == ["b"]
    pd.testing.assert_frame_equal(
        dl.sort_index(), pdf.set_index(["a", "b"]).droplevel("a").sort_index())


def test_set_axis_items_keys_to_dict(spark):
    pdf = pd.DataFrame({"x": [1, 2], "y": [3.0, 4.0]})
    df = pes.from_pandas(pdf)
    assert df.set_axis(["p", "q"]).columns == ["p", "q"]
    assert dict(df.items())["y"].compute().tolist() == [3.0, 4.0]
    assert df.keys() == ["x", "y"]
    assert df.to_dict("list") == pdf.to_dict("list")
    assert df.infer_objects() is df and df.convert_dtypes() is df


def test_pivot_matches_pandas_and_raises_on_dup(spark):
    pdf = pd.DataFrame({"k": [1, 1, 2, 2], "c": ["a", "b", "a", "b"],
                        "v": [10.0, 20.0, 30.0, 40.0]})
    exp = pdf.pivot(index="k", columns="c", values="v")
    got = (pes.from_pandas(pdf).pivot(index="k", columns="c", values="v")
           .compute().sort_index())
    pd.testing.assert_frame_equal(got, exp, check_names=False,
                                  check_dtype=False)
    dup = pd.concat([pdf, pdf.iloc[[0]]])
    with pytest.raises(ValueError, match="duplicate"):
        pes.from_pandas(dup).pivot(index="k", columns="c", values="v")


def test_compare_matches_pandas(spark):
    a = pd.DataFrame({"k": [1, 2, 3], "x": [1.0, 2.0, 3.0],
                      "y": ["p", "q", "r"]})
    b = pd.DataFrame({"k": [1, 2, 3], "x": [1.0, 9.0, 3.0],
                      "y": ["p", "q", "z"]})
    exp = a.set_index("k").compare(b.set_index("k"))
    got = (pes.from_pandas(a).set_index("k")
           .compare(pes.from_pandas(b).set_index("k")).compute()
           .sort_index())
    # flattened columns x_self/x_other ↔ pandas (x, self)/(x, other)
    flat = exp.copy()
    flat.columns = [f"{c}_{s}" for c, s in exp.columns]
    pd.testing.assert_frame_equal(got[flat.columns], flat,
                                  check_dtype=False)


@pytest.mark.parametrize("kw", [{"alpha": 0.3}, {"span": 5},
                                {"com": 2.0}, {"halflife": 3.0}])
def test_series_ewm_chain(spark, kw):
    rng = np.random.RandomState(5)
    v = rng.rand(50)
    pdf = pd.DataFrame({"v": v})
    exp = pdf.v.ewm(**kw).mean()
    got = pes.from_pandas(pdf).v.ewm(**kw).mean().compute().sort_index()
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(), rtol=1e-9)


def test_pipe(spark):
    pdf = pd.DataFrame({"x": [1, 2, 3]})
    df = pes.from_pandas(pdf)
    got = df.pipe(lambda d, k: d[d.x > k], 1).compute()
    assert got.x.tolist() == [2, 3]
    got2 = df.x.pipe((lambda k, s: s + k, "s"), 10).compute()
    assert got2.tolist() == [11, 12, 13]


def test_frame_value_counts(spark):
    pdf = pd.DataFrame({"a": [1, 1, 2, 2, 1], "b": ["x", "x", "y", "y", "z"]})
    exp = pdf.value_counts()
    got = pes.from_pandas(pdf).value_counts().compute()
    assert sorted(got.tolist()) == sorted(exp.tolist())
    gn = pes.from_pandas(pdf).value_counts(normalize=True).compute()
    np.testing.assert_allclose(sorted(gn.tolist()),
                               sorted(pdf.value_counts(normalize=True)))


def test_series_autocorr(spark):
    pdf = pd.DataFrame({"v": [1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0]})
    for lag in (1, 2):
        exp = pdf.v.autocorr(lag)
        got = pes.from_pandas(pdf).v.autocorr(lag).compute()
        assert got == pytest.approx(exp, rel=1e-12)


def test_merge_ordered_ffill(spark):
    a = pd.DataFrame({"t": [1, 3, 5], "x": [10.0, 30.0, 50.0]})
    b = pd.DataFrame({"t": [2, 3, 6], "y": ["b", "c", "f"]})
    exp = pd.merge_ordered(a, b, on="t", fill_method="ffill")
    got = (pes.merge_ordered(pes.from_pandas(a), pes.from_pandas(b),
                             on="t", fill_method="ffill")
           .compute().reset_index(drop=True))
    pd.testing.assert_frame_equal(got[exp.columns.tolist()], exp,
                                  check_dtype=False)


def test_merge_ordered_no_fill(spark):
    a = pd.DataFrame({"t": [1, 3], "x": [10.0, 30.0]})
    b = pd.DataFrame({"t": [2, 3], "y": [1, 2]})
    exp = pd.merge_ordered(a, b, on="t")
    got = (pes.merge_ordered(pes.from_pandas(a), pes.from_pandas(b), on="t")
           .compute().reset_index(drop=True))
    pd.testing.assert_frame_equal(got[exp.columns.tolist()], exp,
                                  check_dtype=False)


@pytest.mark.parametrize("center", [False, True])
def test_frame_rolling_all_aggs(spark, center):
    rng = np.random.RandomState(21)
    pdf = pd.DataFrame({"a": rng.rand(40), "b": rng.rand(40) * 10,
                        "s": ["x"] * 40})
    pdf.loc[rng.rand(40) < 0.2, "a"] = np.nan
    df = pes.from_pandas(pdf)
    with pytest.raises(pd.errors.DataError):   # like pandas: no silent drop
        df.rolling(4, min_periods=2, center=center).sum()
    for agg in ("sum", "mean", "count", "var", "std", "min", "max"):
        exp = getattr(pdf[["a", "b"]].rolling(4, min_periods=2,
                                              center=center), agg)()
        got = getattr(df[["a", "b"]].rolling(4, min_periods=2,
                                             center=center),
                      agg)().compute().sort_index()
        # atol: var/std via sufficient statistics carry ~1e-13 cancellation
        # residue whose exact value depends on partition summation order
        np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                                   rtol=1e-9, atol=1e-10, equal_nan=True,
                                   err_msg=f"{agg} center={center}")


def test_frame_expanding_all_aggs(spark):
    rng = np.random.RandomState(31)
    pdf = pd.DataFrame({"a": rng.rand(30), "b": rng.rand(30) * 5})
    pdf.loc[rng.rand(30) < 0.25, "a"] = np.nan
    df = pes.from_pandas(pdf)
    for agg in ("sum", "mean", "count", "var", "std", "min", "max"):
        exp = getattr(pdf.expanding(min_periods=2), agg)()
        got = getattr(df.expanding(min_periods=2), agg)() \
            .compute().sort_index()[["a", "b"]]
        np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                                   rtol=1e-9, atol=1e-10, equal_nan=True,
                                   err_msg=agg)


def test_series_expanding_var_minp1(spark):
    pdf = pd.DataFrame({"v": [1.0, 2.0, 4.0, np.nan, 8.0]})
    for fn in ("var", "std"):
        got = getattr(pes.from_pandas(pdf).v.expanding(min_periods=1),
                      fn)().compute().sort_index()
        exp = getattr(pdf.v.expanding(min_periods=1), fn)()
        np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                                   rtol=1e-12, equal_nan=True)


def test_skew_kurt_sem_edges(spark):
    cases = [("skew", [1.0, 2.0]), ("skew", [2.0, 2.0, 2.0]),
             ("kurt", [1.0, 2.0, 3.0]), ("kurt", [3.0] * 5),
             ("sem", [4.0])]
    for fn, data in cases:
        got = getattr(pes.from_pandas(pd.DataFrame({"v": data})).v,
                      fn)().compute()
        exp = getattr(pd.Series(data), fn)()
        g_na = got is None or (isinstance(got, float) and np.isnan(got))
        assert (g_na and np.isnan(exp)) or \
            got == pytest.approx(exp), (fn, data, got, exp)


def test_grouped_skew_kurt_tiny_groups(spark):
    pdf = pd.DataFrame({"k": [1, 1, 2, 2, 2, 3, 4, 4, 4, 4],
                        "v": [1.0, 2.0, 1.0, 3.0, 5.0, 2.0,
                              1.0, 1.0, 1.0, 1.0]})
    df = pes.from_pandas(pdf)
    for fn in ("skew", "kurt", "sem"):
        got = df.groupby("k").agg(o=("v", fn)).compute().o
        exp = pdf.groupby("k").v.apply(lambda s: getattr(s, fn)())
        np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                                   rtol=1e-9, equal_nan=True, err_msg=fn)


def test_general_ddof_small_n(spark):
    pdf = pd.DataFrame({"k": [1, 1, 2], "v": [1.0, 2.0, 3.0]})
    df = pes.from_pandas(pdf)
    # n ≤ ddof → NaN, not an ANSI error
    assert df.v.var(ddof=3).compute() is None or \
        np.isnan(df.v.var(ddof=3).compute())
    got = df.groupby("k").agg(o=("v", "var")).compute().o
    exp = pdf.groupby("k").v.var()
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                               rtol=1e-12, equal_nan=True)
    # all-null group sem
    pdf2 = pd.DataFrame({"k": [1, 1, 2], "v": [np.nan, np.nan, 3.0]})
    got2 = pes.from_pandas(pdf2).groupby("k").agg(o=("v", "sem")) \
        .compute().o
    exp2 = pdf2.groupby("k").v.sem()
    np.testing.assert_allclose(got2.to_numpy(), exp2.to_numpy(),
                               rtol=1e-12, equal_nan=True)


@pytest.mark.parametrize("method,limit", [("linear", None), ("pad", None),
                                          ("linear", 2)])
def test_frame_interpolate(spark, method, limit):
    rng = np.random.RandomState(13)
    pdf = pd.DataFrame({"a": rng.rand(50), "b": rng.rand(50) * 5,
                        "s": ["t"] * 50})
    pdf.loc[rng.rand(50) < 0.35, "a"] = np.nan
    pdf.loc[rng.rand(50) < 0.35, "b"] = np.nan
    exp = pdf[["a", "b"]].interpolate(method=method, limit=limit)
    got = (pes.from_pandas(pdf).interpolate(method=method, limit=limit)
           .compute().sort_index()[["a", "b"]])
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                               rtol=1e-12, equal_nan=True)


def test_series_time_selection(tdf):
    pdf, df = tdf
    s = df.set_index("ts").v
    ps = pdf.set_index("ts").v
    got = s.between_time("09:00", "17:00").compute().sort_index()
    exp = ps.between_time("09:00", "17:00")
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy())
    got2 = s.at_time("12:00").compute().sort_index()
    np.testing.assert_allclose(got2.to_numpy(), ps.at_time("12:00").to_numpy())
    got3 = s.truncate(before=pd.Timestamp("2024-01-01 12:00")).compute()
    exp3 = ps.truncate(before="2024-01-01 12:00")
    assert len(got3) == len(exp3)


def test_frame_ewm_mean(spark):
    rng = np.random.RandomState(3)
    pdf = pd.DataFrame({"a": rng.rand(60), "b": rng.rand(60) * 4,
                        "s": ["x"] * 60})
    exp = pdf[["a", "b"]].ewm(span=7).mean()
    df = pes.from_pandas(pdf)
    with pytest.raises(pd.errors.DataError):   # like pandas: no silent drop
        df.ewm(span=7).mean()
    got = df[["a", "b"]].ewm(span=7).mean().compute().sort_index()
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(), rtol=1e-9)


def test_str_swapcase_cat_null_propagation(spark):
    pdf = pd.DataFrame({"a": ["x", None, "z"], "b": ["1", "2", None]})
    df = pes.from_pandas(pdf)
    sw = df.a.str.swapcase().compute().sort_index()
    assert sw.astype(object).where(sw.notna(), None).tolist() \
        == ["X", None, "Z"]
    ct = df.a.str.cat(df.b, sep="-").compute().sort_index()
    exp = pdf.a.str.cat(pdf.b, sep="-")
    assert ct.astype(object).where(ct.notna(), None).tolist() \
        == exp.astype(object).where(exp.notna(), None).tolist()
