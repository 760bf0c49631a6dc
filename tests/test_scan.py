"""Differential tests (vs pandas) for the distributed positional family:
cum* / shift / diff / pct_change / is_monotonic / corr / cov / autocorr.

These lower to the two-phase segment scan in ``functions/scan.py`` (range
shuffle + per-partition local scan + tiny carry fold) — results must agree
with pandas' sequential semantics regardless of partition count.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pandas_expr_spark as pes


@pytest.fixture()
def scan_pdf():
    rng = np.random.RandomState(5)
    n = 700
    pdf = pd.DataFrame({
        "k": np.arange(n, dtype="int64"),
        "v": rng.randn(n) * 10,
        "w": rng.randint(0, 50, n).astype("int64"),
    })
    pdf.loc[pdf.sample(60, random_state=2).index, "v"] = np.nan
    return pdf


@pytest.mark.parametrize("op", ["cumsum", "cummax", "cummin"])
def test_series_cumops_with_nulls(spark, scan_pdf, op):
    df = pes.from_pandas(scan_pdf).set_index("k")
    got = getattr(df["v"], op)().compute().sort_index()
    exp = getattr(scan_pdf.set_index("k")["v"], op)()
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                               rtol=1e-9, equal_nan=True)


def test_series_cumprod_int(spark):
    pdf = pd.DataFrame({"k": np.arange(20, dtype="int64"),
                        "x": np.arange(1, 21, dtype="int64") % 5 + 1})
    got = pes.from_pandas(pdf).set_index("k")["x"].cumprod().compute().sort_index()
    exp = pdf.set_index("k")["x"].cumprod()
    np.testing.assert_array_equal(got.to_numpy(), exp.to_numpy())


def test_series_cumsum_partition_invariance(spark, scan_pdf):
    from pandas_expr_spark.functions import scan
    sdf = pes.from_pandas(scan_pdf).to_spark()
    exp = scan_pdf.sort_values("k")["w"].cumsum().to_numpy()
    for n_parts in (1, 3, 17):
        out = scan.prefix_scan(sdf, [("w", "sum", "cw")], ["k"],
                               num_partitions=n_parts)
        got = (out.toPandas().sort_values("k")["cw"].to_numpy())
        np.testing.assert_array_equal(got, exp)


def test_frame_cumsum(spark, scan_pdf):
    df = pes.from_pandas(scan_pdf).set_index("k")
    got = df.cumsum().compute().sort_index()
    exp = scan_pdf.set_index("k").cumsum()
    np.testing.assert_allclose(got["v"].to_numpy(), exp["v"].to_numpy(),
                               rtol=1e-9, equal_nan=True)
    np.testing.assert_array_equal(got["w"].to_numpy(), exp["w"].to_numpy())


@pytest.mark.parametrize("periods", [1, 3, -2])
def test_series_shift(spark, scan_pdf, periods):
    df = pes.from_pandas(scan_pdf).set_index("k")
    got = df["v"].shift(periods).compute().sort_index()
    exp = scan_pdf.set_index("k")["v"].shift(periods)
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                               rtol=1e-12, equal_nan=True)


def test_series_diff_pct_change(spark, scan_pdf):
    df = pes.from_pandas(scan_pdf).set_index("k")
    ref = scan_pdf.set_index("k")
    got = df["v"].diff(2).compute().sort_index()
    np.testing.assert_allclose(got.to_numpy(), ref["v"].diff(2).to_numpy(),
                               rtol=1e-9, equal_nan=True)
    # w contains zeros → exercises the x/0 → ±inf, 0/0 → NaN semantics
    got2 = df["w"].pct_change().compute().sort_index()
    exp2 = ref["w"].pct_change(fill_method=None)
    np.testing.assert_allclose(got2.to_numpy(), exp2.to_numpy(),
                               rtol=1e-12, equal_nan=True)


def test_is_monotonic(spark, scan_pdf):
    inc = pes.from_pandas(
        pd.DataFrame({"k": np.arange(40), "x": np.repeat(np.arange(20), 2)})
    ).set_index("k")["x"]
    assert inc.is_monotonic_increasing
    assert not inc.is_monotonic_decreasing
    v = pes.from_pandas(scan_pdf).set_index("k")["v"]
    assert not v.is_monotonic_increasing  # has nulls → False like pandas
    dec = pes.from_pandas(
        pd.DataFrame({"k": np.arange(30), "x": -np.arange(30.0)})
    ).set_index("k")["x"]
    assert dec.is_monotonic_decreasing


def test_corr_cov_autocorr(spark, scan_pdf):
    df = pes.from_pandas(scan_pdf)
    ref = scan_pdf
    assert abs(df["v"].corr(df["w"]).compute() - ref["v"].corr(ref["w"])) < 1e-12
    assert abs(df["v"].cov(df["w"]).compute() - ref["v"].cov(ref["w"])) < 1e-9
    got = df.set_index("k")["w"].autocorr(2)
    exp = ref.set_index("k")["w"].astype(float).autocorr(2)
    assert abs(got.compute() - exp) < 1e-9


def test_frame_elementwise_and_clip_guard(spark, scan_pdf):
    df = pes.from_pandas(scan_pdf).set_index("k")
    ref = scan_pdf.set_index("k")
    got = df.abs().round(1).clip(upper=20).compute().sort_index()
    exp = ref.abs().round(1).clip(upper=20)
    # NaN rows must STAY NaN (Spark least/greatest would clamp them)
    np.testing.assert_allclose(got["v"].to_numpy(), exp["v"].to_numpy(),
                               rtol=1e-12, equal_nan=True)
    np.testing.assert_array_equal(got["w"].to_numpy(), exp["w"].to_numpy())
    assert df.add_prefix("p_").compute().columns.tolist() == ["p_v", "p_w"]
    assert df.add_suffix("_s").compute().columns.tolist() == ["v_s", "w_s"]


@pytest.mark.parametrize("w,mp", [(7, None), (7, 3), (1, None)])
def test_series_rolling_prefix_difference(spark, scan_pdf, w, mp):
    df = pes.from_pandas(scan_pdf).set_index("k")
    ref = scan_pdf.set_index("k")["v"]
    for fn in ["sum", "mean", "count"]:
        got = getattr(df["v"].rolling(w, min_periods=mp), fn)() \
            .compute().sort_index()
        exp = getattr(ref.rolling(w, min_periods=mp), fn)()
        np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                                   rtol=1e-9, atol=1e-9, equal_nan=True)


def test_series_expanding(spark, scan_pdf):
    df = pes.from_pandas(scan_pdf).set_index("k")
    ref = scan_pdf.set_index("k")["v"]
    for mp in (1, 5):
        for fn in ["sum", "mean", "count"]:
            got = getattr(df["v"].expanding(min_periods=mp), fn)() \
                .compute().sort_index()
            exp = getattr(ref.expanding(min_periods=mp), fn)()
            np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                                       rtol=1e-9, atol=1e-9, equal_nan=True)


def test_series_clip_null_guard(spark):
    pdf = pd.DataFrame({"x": [1.0, np.nan, 100.0, -5.0]})
    got = pes.from_pandas(pdf)["x"].clip(lower=0, upper=10).compute()
    exp = pdf["x"].clip(lower=0, upper=10)
    np.testing.assert_allclose(np.sort(got.to_numpy()),
                               np.sort(exp.to_numpy()), equal_nan=True)


@pytest.mark.parametrize("fn", ["var", "std", "min", "max"])
def test_rolling_extended_matches_pandas(spark, scan_pdf, fn):
    from pandas_expr_spark import from_pandas
    pdf = scan_pdf.set_index("k")
    df = from_pandas(pdf)
    for w, mp in [(5, None), (7, 3)]:
        got = getattr(df["v"].rolling(w, min_periods=mp), fn)() \
            .compute().sort_index()
        exp = getattr(pdf["v"].rolling(w, min_periods=mp), fn)()
        pd.testing.assert_series_equal(got, exp, check_dtype=False,
                                       check_names=False, atol=1e-9)


@pytest.mark.parametrize("fn", ["var", "std", "min", "max"])
def test_expanding_extended_matches_pandas(spark, scan_pdf, fn):
    from pandas_expr_spark import from_pandas
    pdf = scan_pdf.set_index("k")
    df = from_pandas(pdf)
    got = getattr(df["v"].expanding(min_periods=2), fn)() \
        .compute().sort_index()
    exp = getattr(pdf["v"].expanding(min_periods=2), fn)()
    pd.testing.assert_series_equal(got, exp, check_dtype=False,
                                   check_names=False, atol=1e-9)


def test_ffill_bfill_matches_pandas(spark):
    """Global ffill/bfill through last_scan — nulls spanning partition
    boundaries, mixed dtypes, both traversal directions."""
    from pandas_expr_spark import from_pandas
    rng = np.random.RandomState(3)
    n = 500
    pdf = pd.DataFrame({
        "k": np.arange(n),
        "v": np.where(rng.rand(n) < 0.4, np.nan, rng.rand(n) * 100),
        "s": [None if rng.rand() < 0.5 else f"tok{i % 7}" for i in range(n)],
    }).set_index("k")
    # long null runs to force cross-partition carries
    pdf.iloc[50:200, pdf.columns.get_loc("v")] = np.nan
    df = from_pandas(pdf)
    pd.testing.assert_series_equal(
        df["v"].ffill().compute().sort_index(), pdf["v"].ffill(),
        check_dtype=False, check_names=False)
    pd.testing.assert_series_equal(
        df["v"].bfill().compute().sort_index(), pdf["v"].bfill(),
        check_dtype=False, check_names=False)
    got = df.ffill().compute().sort_index()
    exp = pdf.ffill()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)
    got_b = df.bfill().compute().sort_index()
    pd.testing.assert_frame_equal(got_b, pdf.bfill(), check_dtype=False)


def test_rolling_apply_halo_blocks(spark):
    import numpy as np
    import pandas as pd
    from pandas_expr_spark.functions import scan

    rng = np.random.RandomState(9)
    v = rng.rand(200)
    v[rng.rand(200) < 0.15] = np.nan
    pdf = pd.DataFrame({"rowid": range(200), "v": v})
    sdf = spark.createDataFrame(pdf)
    func = lambda a: np.nanmax(a) - np.nanmin(a)
    # tiny blocks force many halo boundaries
    out = scan.rolling_apply(sdf, "v", ["rowid"], 7, func,
                             min_periods=3, out="r", block_rows=16)
    got = out.orderBy("rowid").toPandas()["r"].to_numpy()
    exp = pdf.v.rolling(7, min_periods=3).apply(func, raw=True).to_numpy()
    np.testing.assert_allclose(got, exp, rtol=1e-12, equal_nan=True)


def test_series_rolling_apply(spark):
    import numpy as np
    import pandas as pd
    import pandas_expr_spark as pes

    pdf = pd.DataFrame({"v": np.arange(60.0)})
    exp = pdf.v.rolling(5, min_periods=2).apply(
        lambda a: (a * a).sum(), raw=True)
    got = (pes.from_pandas(pdf).v.rolling(5, min_periods=2)
           .apply(lambda a: (a * a).sum()).compute().sort_index())
    np.testing.assert_allclose(got.to_numpy(), exp.to_numpy(),
                               rtol=1e-12, equal_nan=True)


def test_scans_carry_nullable_bigints_exactly(spark):
    """A nullable bigint column the scan only carries keeps every digit:
    next to a null in one batch it would reach pandas as float64, which
    holds 2**53 at most."""
    from pandas_expr_spark.functions import scan
    big = 2 ** 62 + 1
    sdf = spark.createDataFrame([(big, 1.0), (None, 2.0), (big + 2, 3.0)],
                                "id long, v double")
    exp = [big, None, big + 2]
    for out in (scan.prefix_scan(sdf, [("v", "sum", "cs")], ["v"],
                                 num_partitions=1),
                scan.global_pos(sdf, ["v"], num_partitions=1),
                scan.last_scan(sdf, ["v"], ["v"], num_partitions=1)):
        assert [r["id"] for r in out.orderBy("v").collect()] == exp
    f = pes.DataFrame(sdf)
    got = f.assign(cs=f.v.cumsum(), prev=f.v.shift(1)).to_spark()
    assert [r["id"] for r in got.orderBy("v").collect()] == exp
