"""A lazy Scalar as an operand: one scalar-subquery Column.

Every Scalar operand reaches a plan through ``_collection._lit`` — the
Scalar's uncorrelated scalar subquery, or a literal for anything else — so
``df.v > df.v.mean()`` stays on ``df``'s own plan and every consumer that
takes a literal takes a Scalar too.  The pins compare against pandas; the
guards keep the retired plan-hint attributes out of the package and the
Spark job counts of the common idioms where they were under the broadcast
cross join."""
import ast
import pathlib

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

import pandas_expr_spark as pes


def _pdf():
    return pd.DataFrame({"v": [1.0, -2.0, np.nan, 4.0], "k": [1, 2, 3, 4]})


def _setitem(lib, df):
    df = df.copy()
    df["m"] = df.v.max()
    return df


def _sorted_assign(lib, df):
    s = df.sort_values("v")
    # `d` is the sort's frame under its node but over a new plan: its
    # head must not take the sort's TopK, which has no column w
    return s.assign(w=s.v * 2, n=lambda d: d.head(3).w.sum())


# (id, op(lib, frame)); each failed before a Scalar became a Column
PINS = [
    ("assign", lambda lib, df: df.assign(m=df.v.mean())),
    ("setitem", _setitem),
    ("series_where_other", lambda lib, df: df.v.where(df.v > 0, df.v.mean())),
    ("frame_where_other",
     lambda lib, df: df[["v"]].where(df[["v"]] > 0, df.v.mean())),
    ("between", lambda lib, df: df.v.between(df.v.min(), df.v.mean())),
    ("frame_fillna", lambda lib, df: df[["v"]].fillna(df.v.mean())),
    ("frame_clip", lambda lib, df: df.clip(lower=df.v.mean())),
    ("combined_mask", lambda lib, df: df[(df.v > df.v.mean()) & (df.k > 1)]),
    ("sorted_assign_callable", _sorted_assign),
]


@pytest.mark.parametrize("op", [lambda df: df.s + df.s.max(),
                                lambda df: df.s.max() + df.s],
                         ids=["series_plus_scalar", "scalar_plus_series"])
def test_string_scalar_concatenates(spark, op):
    pdf = pd.DataFrame({"s": ["a", "bc", "d", "b"]})
    _check(op(pes.from_pandas(pdf)).compute(), op(pdf))


def _check(got, want):
    if isinstance(want, pd.DataFrame):
        pd.testing.assert_frame_equal(got, want, check_dtype=False,
                                      check_index_type=False)
    else:
        pd.testing.assert_series_equal(got, want, check_dtype=False,
                                       check_index_type=False)


@pytest.mark.parametrize("op", [p[1] for p in PINS], ids=[p[0] for p in PINS])
def test_scalar_operand_matches_pandas(spark, op):
    pdf = _pdf()
    _check(op(pes, pes.from_pandas(pdf)).compute(), op(pd, pdf))


# -- the scalar stays an expression on the consumer's plan ------------------
def test_scalar_comparison_keeps_the_frame_plan(spark):
    df = pes.from_pandas(_pdf())
    assert (df.v > df.v.mean())._sdf is df._sdf
    assert (df.v.clip(lower=df.v.min() + 1))._sdf is df._sdf
    assert df.v.fillna(df.v.mean())._sdf is df._sdf


# a Scalar operand is a child of the consumer's node: walk, pprint and
# the token reach its reducer, and no truncated token stands in for it
TREE_USES = {
    "binop": lambda df, m: df.v - m,
    "frame_binop": lambda df, m: df[["v"]] * m,
    "frame_cmp": lambda df, m: df[["v"]] > m,
    "clip": lambda df, m: df.v.clip(lower=m),
    "frame_clip": lambda df, m: df.clip(upper=m),
    "between": lambda df, m: df.v.between(-1, m),
    "fillna": lambda df, m: df.v.fillna(m),
    "frame_fillna": lambda df, m: df[["v"]].fillna(m),
    "where": lambda df, m: df.v.where(df.v > 0, m),
    "frame_where": lambda df, m: df.where(df.v > 0, m),
    "frame_cond_where": lambda df, m: df[["v"]].where(df[["v"]] > 0, m),
    "assign": lambda df, m: df.assign(m=m),
    "assign_callable": lambda df, m: df.assign(m=lambda d: m),
}


@pytest.mark.parametrize("use", sorted(TREE_USES))
def test_scalar_operand_is_a_child_node(spark, use):
    df = pes.from_pandas(_pdf())
    m = df.v.mean()
    expr = TREE_USES[use](df, m).expr
    assert any(node is m.expr for node in expr.walk())
    assert "Scalar<" not in expr.tree_repr()


def test_assign_callable_returning_a_frame_raises(spark):
    df = pes.from_pandas(_pdf())
    with pytest.raises(TypeError, match="got a DataFrame"):
        df.assign(x=lambda d: d[["v", "k"]])


def test_frame_fillna_fills_values_only(spark):
    # a literal fill takes the same per-column rule as a Scalar fill; it
    # leaves a missing index label alone, as pandas does
    pdf = pd.DataFrame({"v": [1.0, np.nan, 3.0], "w": [np.nan, 2.0, 5.0]},
                       index=pd.Index([1.0, np.nan, 2.0], name="ix"))
    df = pes.from_pandas(pdf.reset_index()).set_index("ix")
    for value in (0, -1.5):
        _check(df.fillna(value).compute(), pdf.fillna(value))
    with pytest.raises(ValueError):
        df.fillna(None)


@pytest.mark.parametrize("op,want", [
    (lambda df: df[df.v > df.v.mean()], 5),
    (lambda df: df.v - df.v.mean(), 3),
], ids=["filter", "demean"])
def test_scalar_operand_jobs(spark, jobs, op, want):
    df = pes.from_pandas(pd.DataFrame({"v": np.arange(50.0),
                                       "k": np.arange(50) % 3}))
    out, n = jobs(lambda: op(df).compute())
    assert len(out) > 0
    assert n == want


RETIRED = {"_sort_fuse", "_mask_anchor", "_cmp_exprs", "_cmp_anchor"}


def test_no_plan_hint_attributes():
    pkg = pathlib.Path(pes.__file__).parent
    hits = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            name = (node.attr if isinstance(node, ast.Attribute) else
                    node.id if isinstance(node, ast.Name) else
                    node.value if isinstance(node, ast.Constant) else None)
            if name in RETIRED:
                hits.append(f"{path.relative_to(pkg)}:{node.lineno}: {name}")
    assert not hits, "plan hint outside the node:\n" + "\n".join(hits)


# -- property: every use of a Scalar operand matches pandas -----------------
_VALUES = st.sampled_from([np.nan, 0.0, -0.0, 0.25, -1.5, 2.0, 3.75, -7.25,
                           10.0])

USES = {
    "binop_right": lambda df, r: df.v - r,
    "binop_left": lambda df, r: r / (df.v + 100),
    "mask": lambda df, r: df[df.v > r],
    "where_other": lambda df, r: df.v.where(df.v > 0, r),
    "fillna": lambda df, r: df.v.fillna(r),
    "clip": lambda df, r: df.v.clip(lower=r),
    "between": lambda df, r: df.v.between(r - 1, r + 1),
    "assign": lambda df, r: df.assign(m=r),
}


@given(vals=st.lists(_VALUES, min_size=1, max_size=12),
       reducer=st.sampled_from(["mean", "sum", "min", "max", "median",
                                "std"]),
       use=st.sampled_from(sorted(USES)))
@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_scalar_operand_property(spark, vals, reducer, use):
    pdf = pd.DataFrame({"v": pd.array(vals, dtype="float64"),
                        "k": np.arange(len(vals)) % 3})
    df = pes.from_pandas(pdf)
    want = USES[use](pdf, getattr(pdf.v, reducer)())
    got = USES[use](df, getattr(df.v, reducer)()).compute()
    _check(got.sort_index(), want)
