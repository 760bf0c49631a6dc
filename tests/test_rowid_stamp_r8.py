"""Round-8 stamp×rowid misalignment pins (VERDICT r7 ask #2).

A frame that carries the `_ORDER` presentation stamp (drop_duplicates →
reset_index(drop=True): hash-shuffle scrambles the physical layout, the
stamp carries survivor order) must anchor POSITIONS by the stamp, never
the physical layout.  Every case here diverged before the r8 fix — the
silent-wrong-data class.
"""
import numpy as np
import pandas as pd
import pytest

import pandas_expr_spark as pes

RNG = np.random.default_rng(7)
N = 80
BASE = pd.DataFrame({
    "g": RNG.integers(0, 40, N),
    "v": RNG.normal(size=N).round(3),
    "i": RNG.integers(-5, 5, N),
})
REF = BASE.drop_duplicates(subset=["g"]).reset_index(drop=True)
M = len(REF)


def stamped(base=BASE):
    return (pes.from_pandas(base)
            .drop_duplicates(subset=["g"]).reset_index(drop=True))


def eq_vals(got, exp):
    got, exp = list(got), list(exp)
    assert len(got) == len(exp), (len(got), len(exp))
    for a, b in zip(got, exp):
        if pd.isna(b):
            assert pd.isna(a), (a, b)
        elif isinstance(b, (int, float, np.floating)) and not isinstance(b, bool):
            assert float(a) == float(b) or abs(float(a) - float(b)) < 1e-9, (a, b)
        else:
            assert str(a) == str(b), (a, b)


def test_series_index_property():
    eq_vals(stamped()["v"].index.compute().tolist(), REF["v"].index.tolist())


def test_nlargest_labels():
    got = stamped().nlargest(5, "v").compute()
    exp = REF.nlargest(5, "v")
    eq_vals(got.index.tolist(), exp.index.tolist())
    eq_vals(got["v"].tolist(), exp["v"].tolist())


def test_frame_rank():
    got = stamped().rank().compute()
    exp = REF.rank()
    eq_vals(got.index.tolist(), exp.index.tolist())
    for c in exp.columns:
        eq_vals(got[c].tolist(), exp[c].tolist())


def test_frame_frame_positional_align():
    oth = pd.DataFrame({"v": np.arange(M) * 1.0, "i": np.ones(M, int)})
    got = (stamped()[["v", "i"]] + pes.from_pandas(oth)).compute()
    exp = REF[["v", "i"]] + oth
    eq_vals(got["v"].tolist(), exp["v"].tolist())


def test_loc_bool_list():
    mask = [bool(x) for x in (np.arange(M) % 3 == 0)]
    eq_vals(stamped().loc[mask].compute()["v"].tolist(),
            REF.loc[mask]["v"].tolist())


def test_assign_positional_list():
    zvals = list(range(100, 100 + M))
    eq_vals(stamped().assign(z=zvals).compute()["z"].tolist(),
            REF.assign(z=zvals)["z"].tolist())


def test_rolling_pairwise_cov():
    st = stamped()
    eq_vals(st["v"].rolling(3).cov(st["i"]).compute().tolist(),
            REF["v"].rolling(3).cov(REF["i"].astype(float)).tolist())


def test_expanding_pairwise_cov():
    st = stamped()
    eq_vals(st["v"].expanding(2).cov(st["i"]).compute().tolist(),
            REF["v"].expanding(2).cov(REF["i"].astype(float)).tolist())


def test_rolling_on_count_window_row_order():
    # pandas COUNT windows slide over ROW order even with on=; the on
    # column is excluded from aggregation, kept at its original slot
    got = stamped()[["v", "i"]].rolling(2, on="i").sum().compute()
    exp = REF[["v", "i"]].rolling(2, on="i").sum()
    assert list(got.columns) == list(exp.columns)
    eq_vals(got["v"].tolist(), exp["v"].tolist())
    eq_vals(got["i"].tolist(), exp["i"].tolist())
    eq_vals(got.index.tolist(), exp.index.tolist())


def test_rolling_on_plain_nonmonotonic():
    p = pd.DataFrame({"v": [1., 2., 3., 4.], "i": [3, 1, 4, 2]})
    got = pes.from_pandas(p).rolling(2, on="i").sum().compute()
    exp = p.rolling(2, on="i").sum()
    assert list(got.columns) == list(exp.columns)
    eq_vals(got["v"].tolist(), exp["v"].tolist())


def test_stamped_frame_rolling_agg_and_minmax():
    st = stamped()
    for op in ("sum", "min"):
        got = getattr(st[["v"]].rolling(3), op)().compute()
        exp = getattr(REF[["v"]].rolling(3), op)()
        eq_vals(got["v"].tolist(), exp["v"].tolist())
        eq_vals(got.index.tolist(), exp.index.tolist())


def test_explode_stamped():
    lb = BASE.copy()
    lb["L"] = [[1, 2]] * N
    refl = lb.drop_duplicates(subset=["g"]).reset_index(drop=True)
    got = (pes.from_pandas(lb).drop_duplicates(subset=["g"])
           .reset_index(drop=True).explode("L").compute())
    exp = refl.explode("L")
    eq_vals(got.index.tolist(), exp.index.tolist())
    eq_vals(got["v"].tolist(), exp["v"].tolist())


def test_assign_foreign_stamped_series():
    sv = stamped()["v"]
    host = pes.from_pandas(pd.DataFrame({"a": np.arange(M)}))
    eq_vals(host.assign(z=sv).compute()["z"].tolist(),
            pd.DataFrame({"a": np.arange(M)}).assign(z=REF["v"])["z"].tolist())


def test_where_stamped_other():
    selfpdf = pd.DataFrame({"v": np.zeros(M)})
    condpdf = pd.DataFrame({"v": (np.arange(M) % 2).astype(bool)})
    got = (pes.from_pandas(selfpdf)
           .where(pes.from_pandas(condpdf), stamped()[["v"]])
           .compute()["v"].tolist())
    exp = selfpdf.where(condpdf, REF[["v"]])["v"].tolist()
    eq_vals(got, exp)


def test_getitem_stamped_self_mask():
    st = stamped()
    got = st[st["i"] > 2].compute()
    exp = REF[REF["i"] > 2]
    eq_vals(got["v"].tolist(), exp["v"].tolist())
    eq_vals(got.index.tolist(), exp.index.tolist())


# ---------------------------------------------------------- r8 review pins
def test_assign_reordered_series_label_aligns():
    # a value series REORDERED after derivation label-aligns (pandas),
    # not position-aligns — the both-stamped fast path must not shadow it
    D = pd.DataFrame({"a": [3.0, 1.0, 2.0], "b": [1, 2, 3]})
    df = pes.from_pandas(D).sort_values("a", kind="stable")
    s2 = df["a"].sort_values(ascending=False, kind="stable")
    got = df.assign(c=s2).compute()
    pdf = D.sort_values("a", kind="stable")
    exp = pdf.assign(c=pdf["a"].sort_values(ascending=False, kind="stable"))
    assert got["c"].tolist() == exp["c"].tolist()
    assert got.index.tolist() == exp.index.tolist()


def test_bool_loc_and_assign_list_on_aligned_frame():
    # made_rowid_index frames (alignment-join outputs: rowid labels,
    # scrambled physical layout) position by LABEL order
    host = pes.from_pandas(pd.DataFrame({"a": [10, 20, 30, 40]}))
    foreign = pes.from_pandas(pd.DataFrame({"z": [1.0, 2.0, 3.0, 4.0]}))["z"]
    df2 = host.assign(b=foreign)
    exp = pd.DataFrame({"a": [10, 20, 30, 40]}).assign(b=[1.0, 2.0, 3.0, 4.0])
    mask = [True, False, True, False]
    got = df2.loc[mask].compute()
    assert got["a"].tolist() == exp.loc[mask]["a"].tolist()
    assert got.index.tolist() == exp.loc[mask].index.tolist()
    got2 = df2.assign(z2=[7, 8, 9, 10]).compute()
    assert got2["z2"].tolist() == [7, 8, 9, 10]


def test_series_rename_callable_relabels_index():
    fr = pes.from_pandas(pd.DataFrame({"k": ["a", "b"], "n": [1, 2]}))
    got = fr.set_index("k")["n"].rename(str.upper).compute()
    exp = pd.Series([1, 2], index=["a", "b"], name="n").rename(str.upper)
    assert got.index.tolist() == exp.index.tolist() == ["A", "B"]
    assert got.name == exp.name == "n"


def test_frame_compute_object_index_nan():
    fx = (pes.from_pandas(pd.DataFrame({"k": ["a", None], "v": [1, 2]}))
          .set_index("k").compute())
    assert not any(x is None for x in fx.index)


# ------------------------------------------- ops that skipped the stamp
def test_concat_axis1_positional_frame():
    oth = pd.DataFrame({"z": np.arange(M) * 10})
    got = pes.concat([stamped()[["v"]], pes.from_pandas(oth)],
                     axis=1).compute()
    exp = pd.concat([REF[["v"]], oth], axis=1)
    eq_vals(got["v"].tolist(), exp["v"].tolist())
    eq_vals(got["z"].tolist(), exp["z"].tolist())


def test_concat_keys():
    got = pes.concat([stamped()[["v"]], stamped()[["i"]]],
                     keys=["a", "b"]).compute()
    exp = pd.concat([REF[["v"]], REF[["i"]]], keys=["a", "b"])
    assert got.index.tolist() == exp.index.tolist()
    eq_vals(got["v"].tolist(), exp["v"].tolist())
    eq_vals(got["i"].tolist(), exp["i"].tolist())


def test_groupby_idxmax_labels():
    st = stamped()
    got = st.groupby("g").v.idxmax().compute()
    exp = REF.groupby("g").v.idxmax()
    eq_vals(got.sort_index().tolist(), exp.tolist())
    gotf = st.groupby("i")[["v"]].idxmax().compute().sort_index()
    expf = REF.groupby("i")[["v"]].idxmax()
    eq_vals(gotf["v"].tolist(), expf["v"].tolist())


def test_frame_ewm_and_expanding():
    st = stamped()[["v", "i"]]
    got = st.ewm(alpha=0.3).mean().compute()
    exp = REF[["v", "i"]].ewm(alpha=0.3).mean()
    eq_vals(got.index.tolist(), exp.index.tolist())
    eq_vals(got["v"].tolist(), exp["v"].tolist())
    got = st.expanding().sum().compute()
    exp = REF[["v", "i"]].expanding().sum()
    eq_vals(got.index.tolist(), exp.index.tolist())
    eq_vals(got["v"].tolist(), exp["v"].tolist())


def test_merge_asof_stamped_left():
    # t rises in row order, so the dedup survivors stay sorted on it
    based = BASE.assign(t=np.arange(N))
    left = stamped(based)[["t", "v"]]
    rpdf = pd.DataFrame({"t": np.arange(0, N, 3), "w": np.arange(0, N, 3) * 2})
    got = pes.merge_asof(left, pes.from_pandas(rpdf), on="t").compute()
    ref = based.drop_duplicates(subset=["g"]).reset_index(drop=True)
    exp = pd.merge_asof(ref[["t", "v"]], rpdf, on="t")
    eq_vals(got["t"].tolist(), exp["t"].tolist())
    eq_vals(got["v"].tolist(), exp["v"].tolist())
    eq_vals(got["w"].tolist(), exp["w"].tolist())
    assert got.index.tolist() == exp.index.tolist()


# ------------------------- positional ops: one kernel for Series and frame
# Every positional op runs on presented row order: the stamp when there is
# one, else the index, else file order.  Series and frame share one kernel;
# these pins run both kinds over four frame shapes.
_PP = pd.DataFrame({
    "k": RNG.permutation(30),
    "v": np.where(RNG.random(30) < 0.3, np.nan, RNG.normal(size=30).round(3)),
    "w": RNG.normal(size=30).round(3),
})

_SHAPES = {
    "file": (lambda: pes.from_pandas(_PP), lambda: _PP),
    "sorted": (lambda: pes.from_pandas(_PP).sort_values("k"),
               lambda: _PP.sort_values("k")),
    "sorted_reset": (
        lambda: pes.from_pandas(_PP).sort_values("k").reset_index(drop=True),
        lambda: _PP.sort_values("k").reset_index(drop=True)),
    "from_pandas_indexed": (lambda: pes.from_pandas(_PP.set_index("k")),
                            lambda: _PP.set_index("k")),
}

_POS_OPS = {
    "cumsum": lambda x: x.cumsum(),
    "ffill": lambda x: x.ffill(),
    "bfill": lambda x: x.bfill(),
    "interpolate": lambda x: x.interpolate(),
    "shift": lambda x: x.shift(1),
    "diff": lambda x: x.diff(),
    "rolling_mean": lambda x: x.rolling(3).mean(),
    "expanding_sum": lambda x: x.expanding().sum(),
    "ewm_mean": lambda x: x.ewm(alpha=.5).mean(),
}


@pytest.mark.parametrize("kind", ["series", "frame"])
@pytest.mark.parametrize("op", sorted(_POS_OPS))
@pytest.mark.parametrize("shape", sorted(_SHAPES))
def test_positional_presented_order(shape, op, kind):
    eng, ref = (f() for f in _SHAPES[shape])
    pick = (lambda d: d["v"]) if kind == "series" else (lambda d: d[["v", "w"]])
    got = _POS_OPS[op](pick(eng)).compute()
    exp = _POS_OPS[op](pick(ref))
    eq_vals(got.index.tolist(), exp.index.tolist())
    if kind == "series":
        assert got.name == exp.name
        eq_vals(got.tolist(), exp.tolist())
    else:
        assert list(got.columns) == list(exp.columns)
        for c in exp.columns:
            eq_vals(got[c].tolist(), exp[c].tolist())


def test_frame_shift_moves_string_column():
    p = pd.DataFrame({"s": list("abcde"), "v": [1.0, 2.0, None, 4.0, 5.0]})
    got = pes.from_pandas(p)[["s", "v"]].shift(1).compute()
    exp = p[["s", "v"]].shift(1)
    eq_vals(got["s"].tolist(), exp["s"].tolist())
    eq_vals(got["v"].tolist(), exp["v"].tolist())


def test_frame_pct_change_zero_divisor():
    p = pd.DataFrame({"a": [0.0, 1.0, 0.0, 0.0, -2.0], "b": [1.0, 0.0, 3.0, 0.0, 5.0]})
    got = pes.from_pandas(p).pct_change(fill_method=None).compute()
    exp = p.pct_change(fill_method=None)
    for c in exp.columns:
        eq_vals(got[c].tolist(), exp[c].tolist())


def test_frame_cumsum_bool_dtype():
    p = pd.DataFrame({"b": [True, False, True, True], "v": [1, 2, 3, 4]})
    got = pes.from_pandas(p).cumsum().compute()
    exp = p.cumsum()
    assert got["b"].dtype == exp["b"].dtype == np.int64
    assert got["b"].tolist() == exp["b"].tolist()


def test_frame_rolling_closed_left():
    p = pd.DataFrame({"v": np.arange(8.0), "w": np.arange(8.0) ** 2})
    for closed in ("left", "both", "neither"):
        got = pes.from_pandas(p).rolling(3, closed=closed).sum().compute()
        exp = p.rolling(3, closed=closed).sum()
        for c in exp.columns:
            eq_vals(got[c].tolist(), exp[c].tolist())


def test_frame_positional_fails_loudly():
    f = pes.from_pandas(pd.DataFrame({"s": list("abc"), "v": [1.0, 2.0, 3.0]}))
    with pytest.raises(TypeError):
        f.diff()
    with pytest.raises(TypeError):
        f.pct_change(fill_method=None)
    with pytest.raises(NotImplementedError):
        f.cumsum()


_FRAME_METHODS = {
    "rolling_median": lambda x: x.rolling(3).median(),
    "rolling_quantile": lambda x: x.rolling(3).quantile(0.25),
    "rolling_skew": lambda x: x.rolling(4).skew(),
    "rolling_kurt": lambda x: x.rolling(5).kurt(),
    "rolling_sem": lambda x: x.rolling(3).sem(),
    "rolling_apply": lambda x: x.rolling(3).apply(lambda a: a.max() - a.min()),
    "rolling_rank": lambda x: x.rolling(3).rank(),
    "ewm_var": lambda x: x.ewm(alpha=.5).var(),
    "ewm_std": lambda x: x.ewm(alpha=.5).std(),
    "expanding_var_ddof0": lambda x: x.expanding().var(ddof=0),
    "interpolate_both": lambda x: x.interpolate(limit_direction="both"),
}


@pytest.mark.parametrize("meth", sorted(_FRAME_METHODS))
def test_frame_positional_methods(meth):
    eng, ref = (f() for f in _SHAPES["sorted"])
    got = _FRAME_METHODS[meth](eng[["v", "w"]]).compute()
    exp = _FRAME_METHODS[meth](ref[["v", "w"]])
    eq_vals(got.index.tolist(), exp.index.tolist())
    for c in exp.columns:
        eq_vals(got[c].tolist(), exp[c].tolist())


@pytest.mark.parametrize("op", ["cumsum", "ffill", "rolling_sum"])
def test_sorted_reset_frame_build_jobs(jobs, op):
    f = pes.from_pandas(_PP).sort_values("k").reset_index(drop=True)
    run = {"cumsum": lambda: f.cumsum(), "ffill": lambda: f.ffill(),
           "rolling_sum": lambda: f.rolling(3).sum()}[op]
    out, n = jobs(run)
    assert n <= 4, n
    exp = {"cumsum": lambda d: d.cumsum(), "ffill": lambda d: d.ffill(),
           "rolling_sum": lambda d: d.rolling(3).sum()}[op](
        _PP.sort_values("k").reset_index(drop=True))
    got = out.compute()
    for c in exp.columns:
        eq_vals(got[c].tolist(), exp[c].tolist())
