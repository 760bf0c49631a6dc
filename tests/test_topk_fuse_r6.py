"""Round-6: sort_values/.sort_index + head/tail fuse into distributed TopK.

The r5 presentation-order stamp made ``sort_values(...).head(n)`` execute a
full global sort (Exchange rangepartitioning + Sort) just to mint the stamp,
then limit — the commonest top-k idiom became O(n log n) with a full shuffle
(round-5 verdict, "What's wrong #1").  The fusion lowers the direct
sort→head to ``TakeOrderedAndProject(n, sort_keys)`` over the PRE-sort plan
and re-mints the stamp on the n output rows; tail is the reverse TopK (all
directions and NULL placements flipped) plus a tiny re-sort — no count
action at build time ("What's wrong #2").
"""
from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import assert_frame_eq


def _plan(df) -> str:
    return df.to_spark()._jdf.queryExecution().executedPlan().toString()


@pytest.fixture()
def dup_pdf():
    # duplicate sort keys + NaN keys: exercises tie stability and pandas'
    # nulls-last placement in both directions
    return pd.DataFrame({
        "k": [3.0, 1.0, None, 2.0, 1.0, 3.0, None, 2.0, 1.0, 4.0],
        "v": list(range(10)),
    })


def test_sort_head_fuses_to_topk(base, base_pdf):
    out = base.sort_values("y", ascending=False).head(7)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    # the whole point: no global range-shuffle sort feeding the limit
    assert "rangepartitioning" not in plan
    exp = base_pdf.sort_values("y", ascending=False).head(7)
    got = out.compute()
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def test_sort_ignore_index_head(base, base_pdf):
    out = base.sort_values("y", ascending=False, ignore_index=True).head(5)
    assert "rangepartitioning" not in _plan(out)
    exp = base_pdf.sort_values("y", ascending=False,
                               ignore_index=True).head(5)
    assert_frame_eq(out, exp, check_index=True)


def test_sort_tail_no_build_job(jobs, base, base_pdf):
    t, n = jobs(lambda: base.sort_values("x", ascending=False).tail(4))
    assert n == 0, "tail() ran an eager action at graph-build time"
    exp = base_pdf.sort_values("x", ascending=False).tail(4)
    pd.testing.assert_frame_equal(t.compute(), exp, check_dtype=False)
    plan = _plan(t)
    assert "TakeOrderedAndProject" in plan


def test_unsorted_tail_no_build_job(jobs, base, base_pdf):
    # the non-fused path (frame with rowid labels) reverse-TopKs on the
    # rowid — also no count action
    f = base.set_index("x").reset_index()  # plain derive, no fuse handle
    t, n = jobs(lambda: f.tail(6))
    assert n == 0
    pd.testing.assert_frame_equal(
        t.compute().reset_index(drop=True),
        base_pdf.tail(6).reset_index(drop=True), check_dtype=False)


def test_ties_and_nulls_head_tail(spark, dup_pdf):
    from pandas_expr_spark import from_pandas
    f = from_pandas(dup_pdf)
    for asc in (True, False):
        for napos in ("last", "first"):
            s = f.sort_values("k", ascending=asc, na_position=napos)
            exp = dup_pdf.sort_values("k", ascending=asc, na_position=napos,
                                      kind="stable")
            got_h = s.head(4).compute()
            pd.testing.assert_frame_equal(got_h, exp.head(4),
                                          check_dtype=False)
            got_t = s.tail(4).compute()
            pd.testing.assert_frame_equal(got_t, exp.tail(4),
                                          check_dtype=False)


def test_head_larger_than_frame(base, base_pdf):
    out = base.sort_values("y").head(1000)
    assert_frame_eq(out, base_pdf.sort_values("y").head(1000),
                    check_index=True)


def test_negative_n_fallback(base, base_pdf):
    out = base.sort_values("y", ascending=False).head(-97)
    exp = base_pdf.sort_values("y", ascending=False).head(-97)
    pd.testing.assert_frame_equal(out.compute(), exp, check_dtype=False)
    out = base.sort_values("y", ascending=False).tail(-95)
    exp = base_pdf.sort_values("y", ascending=False).tail(-95)
    pd.testing.assert_frame_equal(out.compute(), exp, check_dtype=False)


@pytest.mark.parametrize("sort", [False, True], ids=["plain", "sorted"])
def test_series_head_negative_n(base, base_pdf, sort):
    # pandas: all but the last |n| rows; Spark's limit refuses a negative n
    s, p = base["y"], base_pdf["y"]
    if sort:
        s, p = s.sort_values(ascending=False), p.sort_values(ascending=False)
    pd.testing.assert_series_equal(s.head(-1).compute(), p.head(-1),
                                   check_dtype=False, check_index_type=False)


def test_intervening_op_falls_back_correct(base, base_pdf):
    # a projection between sort and head drops the fuse handle — result
    # must still be right (full-sort path)
    s = base.sort_values("y", ascending=False)
    out = s[["x"]].head(3)
    exp = base_pdf.sort_values("y", ascending=False)[["x"]].head(3)
    pd.testing.assert_frame_equal(out.compute(), exp, check_dtype=False)


def test_inplace_mutation_clears_fuse(base, base_pdf):
    f = base.sort_values("y", ascending=False)
    f["w"] = f["x"] * 2
    got = f.head(3).compute()
    exp = base_pdf.sort_values("y", ascending=False)
    exp = exp.assign(w=exp["x"] * 2).head(3)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


def _assert_topk(out):
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan


def test_inplace_sort_keeps_fuse(base, base_pdf):
    # sort_values(inplace=True) rebinds the frame to the sort's plan and
    # node together, so the following head still lowers to a TopK
    f = base.copy()
    f.sort_values("y", ascending=False, inplace=True)
    out = f.head(3)
    _assert_topk(out)
    exp = base_pdf.sort_values("y", ascending=False).head(3)
    pd.testing.assert_frame_equal(out.compute(), exp, check_dtype=False)


@pytest.mark.parametrize("op", ["head", "tail"])
def test_series_sort_head_tail_fuse_to_topk(base, base_pdf, op):
    out = getattr(base["y"].sort_values(ascending=False), op)(5)
    _assert_topk(out)
    exp = getattr(base_pdf["y"].sort_values(ascending=False), op)(5)
    pd.testing.assert_series_equal(out.compute(), exp, check_dtype=False,
                                   check_index_type=False)


def test_series_sort_head_tail(base, base_pdf):
    s = base["y"].sort_values(ascending=False)
    got = s.head(5).compute()
    exp = base_pdf["y"].sort_values(ascending=False).head(5)
    pd.testing.assert_series_equal(got, exp, check_dtype=False,
                                   check_index_type=False)
    got = s.tail(5).compute()
    exp = base_pdf["y"].sort_values(ascending=False).tail(5)
    pd.testing.assert_series_equal(got, exp, check_dtype=False,
                                   check_index_type=False)


def test_sort_index_head(spark, base_pdf):
    from pandas_expr_spark import from_pandas
    f = from_pandas(base_pdf).set_index("x")
    out = f.sort_index(ascending=False).head(5)
    assert "rangepartitioning" not in _plan(out)
    exp = base_pdf.set_index("x").sort_index(ascending=False).head(5)
    pd.testing.assert_frame_equal(
        out.compute(), exp, check_dtype=False, check_index_type=False)


def test_head_result_feeds_positional_scan(base, base_pdf):
    # the re-minted stamp on the fused output must drive downstream
    # positional ops in PRESENTED order (cumsum after sort+head)
    out = base.sort_values("y", ascending=False).head(6)
    got = out["x"].cumsum().compute()
    exp = base_pdf.sort_values("y", ascending=False).head(6)["x"].cumsum()
    pd.testing.assert_series_equal(got, exp, check_dtype=False,
                                   check_index_type=False)


def test_multi_key_mixed_directions(spark):
    pdf = pd.DataFrame({
        "a": [1, 2, 1, 2, 1, 2, 1, 2],
        "b": [4.0, 3.0, 2.0, 1.0, 4.0, 3.0, 2.0, 1.0],
        "v": list(range(8)),
    })
    from pandas_expr_spark import from_pandas
    f = from_pandas(pdf)
    s = f.sort_values(["a", "b"], ascending=[True, False])
    exp = pdf.sort_values(["a", "b"], ascending=[True, False],
                          kind="stable")
    pd.testing.assert_frame_equal(s.head(5).compute(), exp.head(5),
                                  check_dtype=False)
    pd.testing.assert_frame_equal(s.tail(5).compute(), exp.tail(5),
                                  check_dtype=False)
