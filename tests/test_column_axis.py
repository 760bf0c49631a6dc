"""The column-axis record: pandas column labels that are not the Spark
column name (MultiIndex tuples, int labels) and the axis name live in one
immutable per-frame record that every derived frame carries, and
``compute()`` presents them.  Each case runs an op on pandas and on the
engine and compares labels, ``columns.names`` and values.  The guards at
the end keep the retired ad-hoc attributes out of the package and keep
``GroupBy`` objects immutable after construction."""
import ast
import pathlib

import numpy as np
import pandas as pd
import pytest

import pandas_expr_spark as pes


def _frames():
    f = pd.DataFrame({"k": ["a", "b", "a", "c", "b"],
                      "w": ["p", "q", "p", "q", "p"],
                      "v": [1.0, 2.0, 3.0, 4.0, 5.0],
                      "x": [1, 5, 7, 9, 11]})
    ft = pd.DataFrame({"ts": pd.date_range("2024-01-01", periods=6,
                                           freq="h"),
                       "v": [1.0, 4.0, 2.0, 8.0, 3.0, 5.0]})
    s = pd.DataFrame({"s": ["a-b", "c-d-e", "f", "g-h"]})
    return {"f": f, "ft": ft, "s": s}


@pytest.fixture(scope="module")
def frames(spark):
    pdfs = _frames()
    return pdfs, {k: pes.from_pandas(v) for k, v in pdfs.items()}


def _agg(f):
    return f.groupby("k").agg({"v": ["sum", "mean"]})


def _stale_groupby(f):
    g = f.groupby("k")[["v", "x"]]
    g.agg(["sum", "mean"])
    return g.max()


def _stale_resampler(f):
    r = f.resample("2h", on="ts")
    r.ohlc()
    return r.sum()


def _relabel(labels):
    def op(f):
        f = f[["v", "x"]].copy()
        f.columns = labels
        return f
    return op


def _pivot(lib, f):
    return lib.pivot_table(f, values="v", index="k", columns="w",
                           aggfunc="sum")


_MI = pd.MultiIndex.from_tuples([("m", "v"), ("n", "x")])


def _split(f):
    return f.s.str.split("-", expand=True)


# (id, source frame, engine op, pandas op); one op serves both sides
# where the engine spells the call as pandas does
CASES = [
    # MultiIndex tuples of an agg list spec survive the next op
    ("agg_head", "f", lambda f: _agg(f).head(2), None),
    ("agg_mask", "f", lambda f: (lambda r: r[r.v_sum > 3])(_agg(f)),
     lambda f: (lambda r: r[r[("v", "sum")] > 3])(_agg(f))),
    ("agg_sort_index", "f", lambda f: _agg(f).sort_index(), None),
    ("agg_reset_index", "f", lambda f: _agg(f).reset_index(), None),
    ("concat_keys_head", "f",
     lambda f: pes.concat([f, f], axis=1, keys=["l", "r"]).head(2),
     lambda f: pd.concat([f, f], axis=1, keys=["l", "r"]).head(2)),
    # one call's state does not leak into the next
    ("groupby_agg_then_max", "f", _stale_groupby, None),
    ("resample_ohlc_then_sum", "ft", _stale_resampler, None),
    # the axis name survives and is set by every op that defines it
    ("pivot_table_fillna", "f",
     lambda f: _pivot(pes, f).fillna(0).sort_index(),
     lambda f: _pivot(pd, f).fillna(0)),
    ("pivot_table_head", "f", lambda f: _pivot(pes, f).sort_index().head(2),
     lambda f: _pivot(pd, f).head(2)),
    ("groupby_unstack", "f",
     lambda f: f.groupby(["k", "w"]).v.sum().unstack().sort_index(), None),
    # the pivot rows come sorted by the index keys, like pandas
    ("pivot_table_rows_sorted", "f", lambda f: _pivot(pes, f).fillna(0),
     lambda f: _pivot(pd, f).fillna(0)),
    ("pivot_table_rows_sorted_head", "f", lambda f: _pivot(pes, f).head(2),
     lambda f: _pivot(pd, f).head(2)),
    ("groupby_unstack_rows_sorted", "f",
     lambda f: f.groupby(["k", "w"]).v.sum().unstack(), None),
    ("pivot_table_no_columns_rows_sorted", "f",
     lambda f: f.pivot_table(values="v", index="k", aggfunc="sum"), None),
    # int labels of expanded string ops survive the next op
    ("split_head", "s", lambda f: _split(f).head(2), None),
    ("split_sort_values", "s", lambda f: _split(f).sort_values("1"),
     lambda f: _split(f).sort_values(1)),
    ("extract_dropna", "s",
     lambda f: f.s.str.extract(r"(\w)-(\w)").dropna(), None),
    # the columns setter records labels instead of flattening them
    ("setter_multiindex", "f", _relabel(_MI), None),
    ("setter_ints", "f", _relabel([0, 1]), None),
    ("setter_multiindex_head", "f", lambda f: _relabel(_MI)(f).head(3),
     None),
]


@pytest.mark.parametrize("src,op,pd_op", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_column_axis_presented(frames, src, op, pd_op):
    pdfs, efs = frames
    want = (pd_op or op)(pdfs[src])
    got = op(efs[src]).compute()
    assert list(got.columns) == list(want.columns)
    assert list(got.columns.names) == list(want.columns.names)
    pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                  check_index_type=False,
                                  check_column_type=False,
                                  check_names=False, check_freq=False)


# a list aggfunc flattens pandas' (fn, value[, pivot]) labels to one level:
# compare the row order and the cells
@pytest.mark.parametrize("kw", [dict(columns="w", aggfunc=["sum"]),
                                dict(aggfunc=["sum", "mean"])],
                         ids=["columns", "no_columns"])
def test_pivot_table_list_aggfunc_rows_sorted(frames, kw):
    pdfs, efs = frames
    want = pd.pivot_table(pdfs["f"], values="v", index="k", **kw)
    got = efs["f"].pivot_table(values="v", index="k", **kw).compute()
    assert list(got.index) == list(want.index)
    np.testing.assert_array_equal(got.to_numpy(), want.to_numpy())


# with margins the int keys sort as numbers before the All row (the
# engine presents the labels as strings, pandas as objects)
@pytest.mark.parametrize("kw", [dict(), dict(columns="w")],
                         ids=["no_columns", "columns"])
def test_pivot_table_margins_int_keys_sorted(spark, kw):
    pdf = pd.DataFrame({"k": [10, 2, 10, 2, 3], "w": ["x", "y", "x", "x", "y"],
                        "v": [1.0, 2.0, 3.0, 4.0, 5.0]})
    want = pdf.pivot_table(values="v", index="k", aggfunc="sum",
                           margins=True, **kw)
    got = pes.from_pandas(pdf).pivot_table(
        values="v", index="k", aggfunc="sum", margins=True, **kw).compute()
    assert [str(x) for x in got.index] == [str(x) for x in want.index]
    np.testing.assert_array_equal(got.to_numpy(dtype=float),
                                  want.to_numpy(dtype=float))


# pandas cut returns an ordered categorical: astype(str) renders the
# out-of-range value as 'nan'
@pytest.mark.parametrize("op", [
    lambda s: s.head(4).astype(str),
    lambda s: s.sort_values().astype(str),
], ids=["head", "sort_values"])
def test_cut_null_renders_nan(frames, op):
    pdfs, efs = frames
    want = op(pd.cut(pdfs["f"].x, [2, 6, 10]))
    got = op(pes.cut(efs["f"].x, [2, 6, 10])).compute()
    assert got.tolist() == want.tolist()


def test_cut_presents_ordered_categorical(frames):
    pdfs, efs = frames
    want = pd.cut(pdfs["f"].x, [2, 6, 10])
    got = pes.cut(efs["f"].x, [2, 6, 10]).compute()
    assert got.dtype.ordered
    assert list(got.dtype.categories) == [str(c) for c in
                                          want.dtype.categories]
    assert got.astype(str).tolist() == want.astype(str).tolist()


def test_engine_columns_stay_flat(frames):
    _, efs = frames
    assert _agg(efs["f"]).columns == ["v_sum", "v_mean"]
    assert _split(efs["s"]).columns == ["0", "1", "2"]


# --------------------------------------------------------------------------
# guards
# --------------------------------------------------------------------------
PKG = pathlib.Path(pes.__file__).parent
RETIRED = {"_col_tuples", "_columns_name", "_int_label_cols", "_mi_tuples",
           "_null_str_repr"}


def test_no_ad_hoc_column_axis_attributes():
    hits = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.value if isinstance(node, ast.Constant)
                    else None)
            if name in RETIRED:
                hits.append(f"{path.relative_to(PKG)}:{node.lineno}: {name}")
    assert not hits, "column-axis metadata outside the record:\n" + \
        "\n".join(hits)


def _attribute_stores(fn):
    for node in ast.walk(fn):
        targets = (node.targets if isinstance(node, ast.Assign)
                   else [node.target] if isinstance(
                       node, (ast.AugAssign, ast.AnnAssign)) else [])
        for t in targets:
            for sub in ast.walk(t):
                if isinstance(sub, ast.Attribute) and \
                        isinstance(sub.ctx, ast.Store):
                    yield sub


def test_groupby_written_only_in_init():
    """No method of ``operators/groupby.py`` but ``__init__`` writes an
    attribute, and no module writes an attribute of an object it built
    with ``GroupBy(...)``/``Resampler(...)``."""
    hits = []
    path = PKG / "operators" / "groupby.py"
    tree = ast.parse(path.read_text())
    for fn in ast.walk(tree):
        if isinstance(fn, ast.FunctionDef) and fn.name != "__init__":
            hits += [f"groupby.py:{a.lineno}: {fn.name} writes .{a.attr}"
                     for a in _attribute_stores(fn)]
    for p in sorted(PKG.rglob("*.py")):
        for fn in ast.walk(ast.parse(p.read_text())):
            if not isinstance(fn, ast.FunctionDef):
                continue
            built = {t.id for n in ast.walk(fn) if isinstance(n, ast.Assign)
                     and isinstance(n.value, ast.Call)
                     and getattr(n.value.func, "id", None)
                     in ("GroupBy", "Resampler")
                     for t in n.targets if isinstance(t, ast.Name)}
            hits += [f"{p.relative_to(PKG)}:{a.lineno}: writes .{a.attr}"
                     for a in _attribute_stores(fn)
                     if isinstance(a.value, ast.Name)
                     and a.value.id in built]
    assert not hits, "GroupBy state written after construction:\n" + \
        "\n".join(hits)
