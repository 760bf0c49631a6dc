"""pivot_table / melt / grouping_sets / diff / pct_change — differential
tests vs eager pandas (SURVEY §5 pattern)."""
from __future__ import annotations

import pandas as pd
import pytest

from conftest import assert_frame_eq


@pytest.fixture()
def shop_pdf():
    return pd.DataFrame({
        "store": [s for s in "AB" for _ in range(50)],
        "item": [["pen", "ink", "cap"][i % 3] for i in range(100)],
        "sales": [float(i) for i in range(100)],
        "units": list(range(100)),
    })


@pytest.fixture()
def shop(spark, shop_pdf):
    from pandas_expr_spark import from_pandas
    return from_pandas(shop_pdf)


def test_pivot_table_sum(shop, shop_pdf):
    got = shop.pivot_table(values="sales", index="store", columns="item",
                           aggfunc="sum",
                           pivot_values=["pen", "ink", "cap"]) \
        .reset_index().compute()
    exp = (shop_pdf.pivot_table(values="sales", index="store", columns="item",
                                aggfunc="sum").reset_index()
           [["store", "pen", "ink", "cap"]])
    assert_frame_eq(got[["store", "pen", "ink", "cap"]], exp, sort_by=["store"])


def test_pivot_table_discovers_values(shop, shop_pdf):
    # without pivot_values Spark discovers them (documented extra scan)
    # pandas contract: index= columns become the result's index
    got = shop.pivot_table(values="units", index="store", columns="item",
                           aggfunc="max").reset_index().compute()
    assert set(got.columns) == {"store", "pen", "ink", "cap"}


def test_melt_matches_pandas(shop, shop_pdf):
    got = shop.melt(id_vars=["store", "item"],
                    value_vars=["sales", "units"]).compute()
    exp = shop_pdf.melt(id_vars=["store", "item"],
                        value_vars=["sales", "units"])
    exp["value"] = exp["value"].astype(float)  # Spark promotes to double
    assert_frame_eq(got, exp)


def test_melt_default_value_vars(shop):
    got = shop.melt(id_vars=["store", "item"]).compute()
    assert set(got["variable"]) == {"sales", "units"}
    assert len(got) == 200


def test_grouping_sets_matches_concat_of_groupbys(shop, shop_pdf):
    got = (shop.grouping_sets([["store", "item"], ["store"], []])
           .agg(n=("sales", "count"), total=("sales", "sum")).compute())
    parts = []
    g2 = shop_pdf.groupby(["store", "item"]).agg(
        n=("sales", "count"), total=("sales", "sum")).reset_index()
    g1 = shop_pdf.groupby("store").agg(
        n=("sales", "count"), total=("sales", "sum")).reset_index()
    g1["item"] = None
    g0 = pd.DataFrame({"store": [None], "item": [None],
                       "n": [len(shop_pdf)], "total": [shop_pdf.sales.sum()]})
    exp = pd.concat([g2, g1, g0], ignore_index=True)[
        ["store", "item", "n", "total"]]
    assert_frame_eq(got[["store", "item", "n", "total"]], exp)


def test_grouping_sets_bad_column(shop):
    with pytest.raises(KeyError):
        shop.grouping_sets([["store"], ["nope"]])


def test_with_diff_pct_change(shop, shop_pdf):
    got = (shop.with_diff("d", "sales", partition_by="store",
                          order_by=["units"])
           .with_pct_change("p", "sales", partition_by="store",
                            order_by=["units"])
           [["store", "units", "d", "p"]].compute())
    exp = shop_pdf.sort_values("units").copy()
    exp["d"] = exp.groupby("store")["sales"].diff()
    exp["p"] = exp.groupby("store")["sales"].pct_change()
    assert_frame_eq(got, exp[["store", "units", "d", "p"]],
                    sort_by=["store", "units"])


def test_pivot_shuffle_plan(shop):
    """Scale check: pivot with explicit values = the canonical two-phase
    plan — partial+final agg on (index, pivot col), then pivotfirst on the
    already-reduced rows.  Two exchanges, both with map-side partials; no
    third job for value discovery."""
    out = shop.pivot_table(values="sales", index="store", columns="item",
                           aggfunc="sum", pivot_values=["pen", "ink", "cap"])
    plan = out.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 2
    assert "pivotfirst" in plan and "partial_pivotfirst" in plan


def test_interval_join_matches_pandas(spark):
    """Bucketized point-in-interval join vs a pandas cross-merge oracle,
    numeric domain (non-timestamp path)."""
    import pandas_expr_spark as pes
    lp = pd.DataFrame({"pid": range(40), "t": [float(i * 7 % 100) for i in range(40)]})
    rp = pd.DataFrame({"iid": range(15),
                       "lo": [float(i * 13 % 90) for i in range(15)]})
    rp["hi"] = rp["lo"] + 12.0
    got = pes.interval_join(pes.from_pandas(lp), pes.from_pandas(rp),
                            point="t", start="lo", end="hi",
                            bucket_width=5.0).compute()
    exp = lp.merge(rp, how="cross")
    exp = exp[(exp.t >= exp.lo) & (exp.t <= exp.hi)].reset_index(drop=True)
    assert_frame_eq(got, exp, sort_by=["pid", "iid"])


def test_interval_join_with_keys_and_empty_intervals(spark):
    import pandas_expr_spark as pes
    lp = pd.DataFrame({"k": [0, 0, 1, 1], "t": [1.0, 5.0, 1.0, 5.0]})
    rp = pd.DataFrame({"k": [0, 1, 1], "lo": [0.0, 4.0, 9.0],
                       "hi": [2.0, 6.0, 3.0]})  # last interval inverted -> dropped
    got = pes.interval_join(pes.from_pandas(lp), pes.from_pandas(rp),
                            point="t", start="lo", end="hi", by="k",
                            bucket_width=2.0).compute()
    # k=0: t=1 in [0,2]; k=1: t=5 in [4,6]; inverted interval matches nothing
    assert len(got) == 2
    assert sorted(got.t.tolist()) == [1.0, 5.0]


def test_interval_join_plan_is_equi_join(spark):
    """Scale check: the bucketized plan must be a hash/sort-merge EQUI join,
    never BroadcastNestedLoopJoin / CartesianProduct."""
    import pandas_expr_spark as pes
    lp = pd.DataFrame({"t": [1.0, 2.0]})
    rp = pd.DataFrame({"lo": [0.0], "hi": [3.0]})
    out = pes.interval_join(pes.from_pandas(lp), pes.from_pandas(rp),
                            point="t", start="lo", end="hi", bucket_width=1.0)
    plan = out.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_with_rolling_matches_pandas(shop, shop_pdf):
    """rolling(3).sum() per group — pandas yields NaN until min_periods
    (= window) observations exist; the windowed-count guard reproduces it."""
    got = shop.with_rolling("r", "sales", partition_by="store",
                            order_by=["units"], window=3, fn="sum").compute()
    exp = shop_pdf.sort_values("units").copy()
    exp["r"] = exp.groupby("store")["sales"].transform(
        lambda s: s.rolling(3).sum())
    assert_frame_eq(got[["store", "units", "r"]],
                    exp[["store", "units", "r"]], sort_by=["store", "units"])


def test_with_rolling_min_periods(shop, shop_pdf):
    got = shop.with_rolling("r", "sales", partition_by="store",
                            order_by=["units"], window=4, fn="mean",
                            min_periods=2).compute()
    exp = shop_pdf.sort_values("units").copy()
    exp["r"] = exp.groupby("store")["sales"].transform(
        lambda s: s.rolling(4, min_periods=2).mean())
    assert_frame_eq(got[["store", "units", "r"]],
                    exp[["store", "units", "r"]], sort_by=["store", "units"])


def test_with_expanding_matches_pandas(shop, shop_pdf):
    got = shop.with_expanding("e", "sales", partition_by="store",
                              order_by=["units"], fn="sum").compute()
    exp = shop_pdf.sort_values("units").copy()
    exp["e"] = exp.groupby("store")["sales"].transform(
        lambda s: s.expanding().sum())
    assert_frame_eq(got[["store", "units", "e"]],
                    exp[["store", "units", "e"]], sort_by=["store", "units"])
