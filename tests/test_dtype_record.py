"""The dtype record: every pandas dtype Spark lacks (categorical, period,
tz-aware datetime, exploded object) is kept in one per-collection
mapping and presented by one ``compute()`` boundary.  Each case runs the
same op on pandas and on the engine and compares dtype and values."""
import ast
import pathlib

import pandas as pd
import pytest

import pandas_expr_spark as pes
from conftest import SF_DIR

CATS = ["c", "b", "a"]


def _frames():
    x = [3, 1, 2, 4]
    c = ["a", "c", "b", "a"]
    ts = pd.to_datetime(["2024-01-05 10:00", "2024-03-02 11:00",
                         "2024-02-10 12:00", "2024-01-20 13:00"])
    plain = pd.DataFrame({"x": x, "c": c, "ts": ts})
    cat = pd.DataFrame({"x": x, "k": [1, 2, 3, 4],
                        "c": pd.Categorical(c, categories=CATS)})
    ordc = pd.DataFrame({"x": x, "c": pd.Categorical(c, categories=CATS,
                                                     ordered=True)})
    lists = pd.DataFrame({"x": [1, 2], "l": [[1, 2], [3]]})
    return {"plain": plain, "cat": cat, "ordc": ordc, "lists": lists}


@pytest.fixture(scope="module")
def frames(spark):
    pdfs = _frames()
    return pdfs, {k: pes.from_pandas(v) for k, v in pdfs.items()}


def _cat_series(f):
    return f.c.astype(pd.CategoricalDtype(CATS))


def _tz_series(f):
    return f.ts.dt.tz_localize("UTC").dt.tz_convert("Europe/Berlin")


def _period_frame(f):
    return f.assign(p=f.ts.dt.to_period("M"))


def _period_mask(f):
    g = _period_frame(f)
    return g[g.x > 1].p


def _frame_setitem(f):
    f = f.copy()
    f["c"] = f.c.astype("category")
    return f


def _frame_cat_assign(f):
    return f.assign(c=_cat_series(f))


def _cat_mask(f):
    g = _frame_cat_assign(f)
    return g[g.x > 1]


# (id, source frame, op) — op takes a pandas or an engine frame alike
CASES = [
    # categorical kept through row selection
    ("series_cat_head", "plain", lambda f: _cat_series(f).head(3)),
    ("series_cat_sort_values", "plain",
     lambda f: _cat_series(f).sort_values()),
    ("series_cat_fillna", "plain",
     lambda f: _cat_series(f).where(f.x > 1).fillna("a")),
    ("series_cat_reset_index_drop", "plain",
     lambda f: _cat_series(f).reset_index(drop=True)),
    ("series_cat_to_frame", "plain", lambda f: _cat_series(f).to_frame()),
    ("frame_cat_setitem", "plain", _frame_setitem),
    ("frame_cat_assign_sort_values", "plain",
     lambda f: _frame_cat_assign(f).sort_values("x")),
    ("frame_cat_assign_mask", "plain", _cat_mask),
    ("frame_cat_assign_rename", "plain",
     lambda f: _frame_cat_assign(f).rename(columns={"c": "d"})),
    ("from_pandas_cat_head", "cat", lambda f: f[f.x > 1].head(2)),
    ("from_pandas_cat_tail", "cat", lambda f: f.tail(2)),
    ("from_pandas_cat_reset_index_drop", "cat",
     lambda f: f[f.x > 1].reset_index(drop=True)),
    ("from_pandas_cat_dropna", "cat", lambda f: f.dropna()),
    ("from_pandas_cat_iloc", "cat", lambda f: f.iloc[1:3]),
    ("from_pandas_cat_set_index", "cat", lambda f: f.set_index("c")),
    ("cat_merge", "cat",
     lambda f: f.merge(f[["k", "x"]].rename(columns={"x": "y"}), on="k")),
    ("cat_groupby_observed_false", "cat",
     lambda f: f[f.c != "b"][["c", "x"]].groupby("c", observed=False).sum()),
    ("from_pandas_ordered_frame", "ordc", lambda f: f),
    ("from_pandas_ordered_series", "ordc", lambda f: f.c),
    # stale entries
    ("cat_astype_str", "cat", lambda f: f.astype({"c": str})),
    ("cat_assign_overwrite", "cat", lambda f: f.assign(c=f.x)),
    # tz-aware datetimes
    ("frame_tz_assign", "plain", lambda f: f.assign(t=_tz_series(f))),
    ("series_tz_head", "plain", lambda f: _tz_series(f).head(3)),
    ("series_tz_sort_values", "plain",
     lambda f: _tz_series(f).sort_values()),
    ("series_tz_to_frame", "plain", lambda f: _tz_series(f).to_frame()),
    # period values
    ("series_period_head", "plain",
     lambda f: _period_frame(f).p.head(3)),
    ("series_period_sort_values", "plain",
     lambda f: _period_frame(f).p.sort_values()),
    ("series_period_to_frame", "plain",
     lambda f: f.ts.dt.to_period("M").to_frame()),
    ("series_period_mask", "plain", _period_mask),
    # exploded object columns
    ("frame_explode_head", "lists",
     lambda f: f.explode("l", ignore_index=True).head(3)),
    ("series_explode_head", "lists", lambda f: f.l.explode().head(3)),
    # shift moves values and keeps their dtype
    ("series_cat_shift", "plain", lambda f: _cat_series(f).shift(1)),
    ("series_tz_shift", "plain", lambda f: _tz_series(f).shift(1)),
    ("series_period_shift", "plain",
     lambda f: f.ts.dt.to_period("M").shift(1)),
    ("frame_cat_shift", "cat", lambda f: f.shift(1)),
    # unordered categorical sorts by category order
    ("series_unordered_cat_sort_values", "cat",
     lambda f: f.c.sort_values()),
]


def _same(got, want):
    if isinstance(want, pd.DataFrame):
        pd.testing.assert_frame_equal(got, want, check_index_type=False)
    else:
        pd.testing.assert_series_equal(got, want, check_index_type=False)


@pytest.mark.parametrize("src,op", [c[1:] for c in CASES],
                         ids=[c[0] for c in CASES])
def test_dtype_presented(frames, src, op):
    pdfs, efs = frames
    _same(op(efs[src]).compute(), op(pdfs[src]))


def test_concat_keeps_categorical(frames):
    pdfs, efs = frames
    got = pes.concat([efs["cat"], efs["cat"]]).compute()
    _same(got, pd.concat([pdfs["cat"], pdfs["cat"]]))


# reported dtypes
DTYPES = [
    ("frame_dtypes_cat", "cat", lambda f: f.dtypes),
    ("frame_dtypes_period", "plain", lambda f: _period_frame(f).dtypes),
    ("frame_dtypes_explode", "lists", lambda f: f.explode("l").dtypes),
    ("series_dtype_tz", "plain", lambda f: pd.Series([_tz_series(f).dtype])),
    ("series_dtype_period", "plain",
     lambda f: pd.Series([f.ts.dt.to_period("M").dtype])),
    ("series_dtype_ordered_cat", "ordc",
     lambda f: pd.Series([f.c.dtype.ordered, list(f.c.dtype.categories)])),
]


@pytest.mark.parametrize("src,op", [c[1:] for c in DTYPES],
                         ids=[c[0] for c in DTYPES])
def test_dtype_reported(frames, src, op):
    pdfs, efs = frames
    pd.testing.assert_series_equal(op(efs[src]), op(pdfs[src]))


def test_from_pandas_keeps_ordered_flag(frames):
    _, efs = frames
    assert efs["ordc"].c.cat.ordered
    assert efs["ordc"].c.cat.categories == CATS


# -- the index and value_counts carry the record ------------------------
INDEXES = [
    ("period_index", lambda f: _period_frame(f).set_index("p").index),
    ("categorical_index",
     lambda f: _frame_cat_assign(f).set_index("c").index),
    ("series_categorical_index",
     lambda f: _frame_cat_assign(f).set_index("c").x.index),
]


@pytest.mark.parametrize("op", [c[1] for c in INDEXES],
                         ids=[c[0] for c in INDEXES])
def test_index_keeps_dtype(frames, op):
    pdfs, efs = frames
    got, want = op(efs["plain"]).compute(), op(pdfs["plain"])
    assert got.dtype == want.dtype
    assert list(got) == list(want)


def test_categorical_value_counts_index(frames):
    pdfs, efs = frames
    got = _cat_series(efs["plain"]).value_counts().compute()
    want = _cat_series(pdfs["plain"]).value_counts()
    assert isinstance(got.index, pd.CategoricalIndex)
    assert list(got.index.categories) == list(want.index.categories)
    _same(got, want)


# -- rename, assign and categorical reductions --------------------------
@pytest.mark.parametrize("mapping", [{"x": "c", "c": "x"},
                                     {"x": "c", "c": "d"}],
                         ids=["swap", "chain"])
def test_rename_columns_swap_and_chain(frames, mapping):
    pdfs, efs = frames
    got = efs["cat"].rename(columns=mapping)
    want = pdfs["cat"].rename(columns=mapping)
    assert got.columns == list(want.columns)
    _same(got.compute(), want)


def test_assign_callable_does_not_see_overwritten_column(frames):
    pdfs, efs = frames

    def op(f):
        return f.assign(x=f.x * 2, w=lambda d: d.x, k=f.x + 1)
    _same(op(efs["cat"]).compute(), op(pdfs["cat"]))


@pytest.mark.parametrize("how", ["min", "max"])
def test_ordered_categorical_reduces_in_category_order(frames, how):
    pdfs, efs = frames
    assert getattr(efs["ordc"].c, how)().compute() == \
        getattr(pdfs["ordc"].c, how)()


@pytest.mark.parametrize("how", ["min", "max"])
def test_unordered_categorical_reduction_raises(frames, how):
    pdfs, efs = frames
    with pytest.raises(TypeError, match="Categorical is not ordered"):
        getattr(pdfs["cat"].c, how)()
    with pytest.raises(TypeError, match="Categorical is not ordered"):
        getattr(efs["cat"].c, how)()


# -- the Series boundary fires the jobs the frame boundary does ---------
def _orders():
    o = pes.read_parquet(f"{SF_DIR}/orders.parquet")
    return o[o.o_orderstatus == "F"][["o_orderkey", "o_orderdate",
                                      "o_totalprice"]]


@pytest.mark.parametrize("frame,want", [
    (_orders, 3),
    (lambda: _orders().sort_values(["o_orderdate", "o_orderkey"]), 5),
], ids=["file_order", "sort_values"])
def test_series_compute_jobs(jobs, frame, want):
    s = frame().o_totalprice
    out, n = jobs(s.compute)
    assert len(out) > 0
    assert n == want


# -- the record is the only dtype metadata ------------------------------
RETIRED = {"_cat_meta", "_is_categorical", "_cat_categories", "_cat_ordered",
           "_period_value_freq", "_index_period_freq", "_tz_value",
           "_object_cols"}


def _retired_names(tree):
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and node.attr in RETIRED:
            yield node.lineno, node.attr
        elif isinstance(node, ast.Name) and node.id in RETIRED:
            yield node.lineno, node.id
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                and node.value in RETIRED):
            yield node.lineno, node.value


def test_no_metadata_outside_the_dtype_record():
    pkg = pathlib.Path(pes.__file__).parent
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        hits += [f"{path.relative_to(pkg)}:{ln}: {name}"
                 for ln, name in _retired_names(tree)]
    assert not hits, "dtype metadata outside the record:\n" + "\n".join(hits)
