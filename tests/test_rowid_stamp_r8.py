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


# ------------------- assign fuses a frame's own positional values
# df.assign(x=df.v.<op>()) computes x in one scan over df's own rows and
# writes it next to df's columns (no alignment join); every case must
# match pandas, index included, on every frame shape.
_FZ = pd.DataFrame({
    "k": RNG.permutation(40),
    "v": np.where(RNG.random(40) < 0.2, np.nan,
                  RNG.integers(-3, 4, 40).astype(float)),
    "w": RNG.normal(size=40).round(3),
})

_FUSE_SHAPES = {
    "file": (lambda: pes.from_pandas(_FZ), lambda: _FZ),
    "filtered": (lambda: (lambda f: f[f.w > -0.5])(pes.from_pandas(_FZ)),
                 lambda: _FZ[_FZ.w > -0.5]),
    "sorted": (lambda: pes.from_pandas(_FZ).sort_values("k"),
               lambda: _FZ.sort_values("k")),
    "sorted_reset": (
        lambda: pes.from_pandas(_FZ).sort_values("k").reset_index(drop=True),
        lambda: _FZ.sort_values("k").reset_index(drop=True)),
    "from_pandas_indexed": (lambda: pes.from_pandas(_FZ.set_index("k")),
                            lambda: _FZ.set_index("k")),
}

_FUSE_OPS = {
    "cumsum": lambda s: s.cumsum(),
    "cummax": lambda s: s.cummax(),
    "shift_fill": lambda s: s.shift(2, fill_value=0),
    "diff": lambda s: s.diff(),
    "pct_change": lambda s: s.pct_change(fill_method=None),
    "rolling_mean": lambda s: s.rolling(3).mean(),
    "rolling_std_minp": lambda s: s.rolling(4, min_periods=2).std(),
}


def _frames_eq(got, exp):
    eq_vals(got.index.tolist(), exp.index.tolist())
    assert list(got.columns) == list(exp.columns)
    for c in exp.columns:
        eq_vals(got[c].tolist(), exp[c].tolist())


def _is_fused(value) -> bool:
    # the value was computed inside assign, never lowered on its own
    from pandas_expr_spark._collection import _PendingSeries
    return isinstance(value, _PendingSeries) and "_sdf" not in vars(value)


@pytest.mark.parametrize("op", sorted(_FUSE_OPS))
@pytest.mark.parametrize("shape", sorted(_FUSE_SHAPES))
def test_assign_fused_positional(shape, op):
    eng, ref = (f() for f in _FUSE_SHAPES[shape])
    val = _FUSE_OPS[op](eng.v)
    got = eng.assign(r=val).compute()
    assert _is_fused(val)
    _frames_eq(got, ref.assign(r=_FUSE_OPS[op](ref.v)))


@pytest.mark.parametrize("shape", sorted(_FUSE_SHAPES))
def test_assign_fused_many_values(shape):
    eng, ref = (f() for f in _FUSE_SHAPES[shape])
    got = eng.assign(**{o: f(eng.v) for o, f in _FUSE_OPS.items()},
                     ws=eng.w.shift(-1)).compute()
    exp = ref.assign(**{o: f(ref.v) for o, f in _FUSE_OPS.items()},
                     ws=ref.w.shift(-1))
    _frames_eq(got, exp)


def test_assign_fused_value_also_standalone():
    f = pes.from_pandas(_FZ).sort_values("k")
    r = _FZ.sort_values("k")
    cs = f.v.cumsum()
    eq_vals(cs.compute().tolist(), r.v.cumsum().tolist())
    _frames_eq(f.assign(cs=cs).compute(), r.assign(cs=r.v.cumsum()))
    roll = f.v.rolling(3).sum()
    _frames_eq(f.assign(roll=roll).compute(),
               r.assign(roll=r.v.rolling(3).sum()))
    got = roll.compute()
    eq_vals(got.index.tolist(), r.index.tolist())
    eq_vals(got.tolist(), r.v.rolling(3).sum().tolist())


def test_assign_other_frame_positional_aligns_by_label():
    f = pes.from_pandas(_FZ)
    val = f.v.cumsum()
    got = f[f.k > 2].assign(cs=val).compute()
    assert not _is_fused(val)
    _frames_eq(got, _FZ[_FZ.k > 2].assign(cs=_FZ.v.cumsum()))


def test_assign_fused_reads_pre_assign_columns():
    for shape in ("file", "sorted"):
        eng, ref = (f() for f in _FUSE_SHAPES[shape])
        got = eng.assign(v=eng.v * 2, roll=eng.v.rolling(3).sum()).compute()
        _frames_eq(got, ref.assign(v=ref.v * 2, roll=ref.v.rolling(3).sum()))
        # a plain expression of the frame after an overwrite reads the
        # column as it was before the assign too, like pandas
        got = eng.assign(v=eng.v.cumsum(), w=eng.v * 2, z=1).compute()
        _frames_eq(got, ref.assign(v=ref.v.cumsum(), w=ref.v * 2, z=1))
        got = eng.assign(w=eng.w * 2, x=eng.w + 1).compute()
        _frames_eq(got, ref.assign(w=ref.w * 2, x=ref.w + 1))


@pytest.mark.parametrize("shape", ["file", "sorted"])
def test_setitem_fused_positional(shape):
    eng, ref = (f() for f in _FUSE_SHAPES[shape])
    ref = ref.copy()
    eng["cs"] = eng.v.cumsum()
    ref["cs"] = ref.v.cumsum()
    _frames_eq(eng.compute(), ref)
    # the frame keeps its presented order for the next positional op
    eng["prev"] = eng.cs.shift(1)
    ref["prev"] = ref.cs.shift(1)
    _frames_eq(eng.compute(), ref)


def test_assign_fused_build_jobs_sorted(jobs):
    s = pes.from_pandas(_FZ).sort_values("k")
    out, n = jobs(lambda: s.assign(cs=s.v.cumsum()))
    assert n <= 4, n      # 12 through the alignment join
    got, m = jobs(out.compute)
    assert n + m <= 10, (n, m)
    _frames_eq(got, _FZ.sort_values("k").assign(cs=_FZ.sort_values("k").v.cumsum()))


def test_assign_fused_build_jobs_file_order(jobs):
    f = pes.from_pandas(_FZ)
    out, n = jobs(lambda: f.assign(prev=f.v.shift(1),
                                   roll=f.v.rolling(3).sum()))
    assert n <= 2, n
    got, m = jobs(out.compute)
    assert n + m <= 11, (n, m)
    _frames_eq(got, _FZ.assign(prev=_FZ.v.shift(1),
                               roll=_FZ.v.rolling(3).sum()))


def test_standalone_positional_job_count(jobs):
    # outside assign a pending value lowers through its own kernel: the
    # jobs move from the call into compute(), their number stays
    s = pes.from_pandas(_FZ).sort_values("k")
    got, n = jobs(lambda: s.v.cumsum().compute())
    assert n <= 9, n
    eq_vals(got.tolist(), _FZ.sort_values("k").v.cumsum().tolist())


_WINDOWS = {
    "rolling": lambda d: d.rolling(2).sum(),
    "expanding": lambda d: d.expanding().sum(),
    "ewm": lambda d: d.ewm(alpha=.5).mean(),
}


@pytest.mark.parametrize("kind", sorted(_WINDOWS))
def test_frame_window_bool_and_string_columns(kind):
    p = pd.DataFrame({"b": [True, False, True, True, False],
                      "v": [1.0, 2.0, None, 4.0, 5.0],
                      "s": list("abcde")})
    f = pes.from_pandas(p)
    got = _WINDOWS[kind](f[["b", "v"]]).compute()
    exp = _WINDOWS[kind](p[["b", "v"]])
    assert got["b"].dtype == exp["b"].dtype == np.float64
    _frames_eq(got, exp)
    with pytest.raises(pd.errors.DataError):
        _WINDOWS[kind](p[["s", "v"]])
    with pytest.raises(pd.errors.DataError):
        _WINDOWS[kind](f[["s", "v"]])
