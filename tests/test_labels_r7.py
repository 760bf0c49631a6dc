"""Round-7 positional-label parity pins (VERDICT r6 "Next round" #1).

Bare ``filter``/``dropna`` (and the wider label-preserving family) must
return pandas' ORIGINAL positional labels, not renumber 0..n-1.  The
engine mints labels IN-SCAN (parquet ``_metadata.row_index`` + footer
offsets; driver-side arange for from_pandas) and promotes them to the
rowid index at filter time — predicate pushdown intact (pinned in
test_plans).

Includes 24 randomized differential chains over the label-preserving op
family, seeded for reproducibility.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

import pandas_expr_spark as pes
from pandas_expr_spark import from_pandas

SF = "/root/testdata/sf0.001"


def _eq(got: pd.DataFrame, exp: pd.DataFrame):
    pd.testing.assert_frame_equal(
        got, exp, check_dtype=False, check_index_type=False,
        check_names=False, rtol=1e-9)


# ---------------------------------------------------------------- direct pins
def test_filter_keeps_labels_from_pandas(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4, 5], "b": list("vwxyz")})
    df = from_pandas(pdf)
    got = df[df.a > 2].compute()
    assert got.index.tolist() == [2, 3, 4]
    _eq(got, pdf[pdf.a > 2])


def test_filter_keeps_labels_read_parquet(spark):
    eng = pes.read_parquet(f"{SF}/nation.parquet")
    ref = pd.read_parquet(f"{SF}/nation.parquet")
    got = eng[eng.n_regionkey == 2].compute()
    exp = ref[ref.n_regionkey == 2]
    assert got.index.tolist() == exp.index.tolist()
    _eq(got, exp)


def test_dropna_keeps_labels(spark):
    pdf = pd.DataFrame({"a": [1.0, None, 3.0, None], "b": [1, 2, 3, 4]})
    got = from_pandas(pdf).dropna().compute()
    assert got.index.tolist() == pdf.dropna().index.tolist()


def test_series_mask_and_dropna_keep_labels(spark):
    sp = pd.Series([5.0, None, 3.0, 2.0])
    s = from_pandas(sp)
    assert s.dropna().compute().index.tolist() == [0, 2, 3]
    sp2 = pd.Series([5, 1, 4, 2])
    s2 = from_pandas(sp2)
    assert s2[s2 > 2].compute().index.tolist() == sp2[sp2 > 2].index.tolist()


def test_tail_and_sample_keep_labels(spark):
    pdf = pd.DataFrame({"a": range(10)})
    df = from_pandas(pdf)
    assert df.tail(3).compute().index.tolist() == [7, 8, 9]
    assert df.tail(-4).compute().index.tolist() == [4, 5, 6, 7, 8, 9]
    samp = df.sample(frac=0.5, random_state=7).compute()
    # labels are a subset of the originals, in ascending (original) order
    assert all(0 <= i <= 9 for i in samp.index)
    assert list(samp.index) == sorted(set(samp.index))


def test_filter_labels_loc_roundtrip(spark):
    # the VERDICT's user-visible symptom: df[mask].loc[k]
    pdf = pd.DataFrame({"a": [10, 20, 30, 40, 50]})
    df = from_pandas(pdf)
    flt = df[df.a > 20]
    row = flt.loc[3]          # eager pandas row, like pandas .loc[scalar]
    exp = pdf[pdf.a > 20].loc[3]
    assert row["a"] == exp["a"] == 40


def test_filters_arg_renumbers_like_pandas(spark):
    # pandas read_parquet(filters=...) renumbers 0..n-1 — so do we
    eng = pes.read_parquet(f"{SF}/nation.parquet",
                           filters=[("n_regionkey", "==", 2)])
    got = eng.compute()
    assert got.index.tolist() == list(range(len(got)))


def test_multifile_parquet_labels(spark, tmp_path):
    # multi-file scan: per-file footer offsets + _metadata.file_path map
    pdf = pd.DataFrame({"k": range(40), "v": np.arange(40) * 1.0})
    p = str(tmp_path / "mf.parquet")
    from pandas_expr_spark import get_spark
    get_spark().createDataFrame(pdf).repartition(4).write.parquet(p)
    ref = pd.read_parquet(p)
    eng = pes.read_parquet(p)
    got = eng[eng.k % 3 == 0].compute().sort_values("k")
    exp = ref[ref.k % 3 == 0].sort_values("k")
    assert got.index.tolist() == exp.index.tolist()
    assert got["v"].tolist() == exp["v"].tolist()


# ------------------------------------------------------- randomized chains
_OPS = [
    "filter", "dropna", "head", "tail", "project", "assign", "fillna",
    "sample",
]


def _random_chain(rng: np.random.RandomState, depth: int):
    """A random label-preserving op chain applied to (engine, pandas)."""
    steps = []
    for _ in range(depth):
        steps.append(_OPS[rng.randint(len(_OPS))])
    return steps


def _apply(step, eng, ref, rng):
    if step == "filter":
        thr = float(rng.randint(-2, 8))
        return eng[eng.x > thr], ref[ref.x > thr]
    if step == "dropna":
        return eng.dropna(), ref.dropna()
    if step == "head":
        n = int(rng.randint(3, 12))
        return eng.head(n), ref.head(n)
    if step == "tail":
        n = int(rng.randint(3, 12))
        return eng.tail(n), ref.tail(n)
    if step == "project":
        return eng[["x", "y"]], ref[["x", "y"]]
    if step == "assign":
        return (eng.assign(z2=lambda d: d.x * 2),
                ref.assign(z2=lambda d: d.x * 2))
    if step == "fillna":
        return eng.fillna(0.0), ref.fillna(0.0)
    if step == "sample":
        # deterministic subset stand-in: engine/pandas RNGs differ, so
        # sample via a filter on a hash-like deterministic predicate
        return eng[eng.x % 2 == 0], ref[ref.x % 2 == 0]
    raise AssertionError(step)


@pytest.mark.parametrize("seed", range(24))
def test_random_label_chain(spark, seed):
    rng = np.random.RandomState(1000 + seed)
    n = 30
    pdf = pd.DataFrame({
        "x": rng.randint(0, 10, n).astype("int64"),
        "y": np.where(rng.rand(n) < 0.2, np.nan, rng.randn(n).round(3)),
    })
    eng, ref = from_pandas(pdf), pdf
    for step in _random_chain(rng, depth=int(rng.randint(2, 5))):
        eng, ref = _apply(step, eng, ref, rng)
    got = eng.compute()
    assert got.index.tolist() == ref.index.tolist(), \
        f"label mismatch (seed {seed})"
    _eq(got.reset_index(drop=True), ref.reset_index(drop=True))


def test_query_keeps_labels(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4, 5]})
    got = from_pandas(pdf).query("a > 2").compute()
    assert got.index.tolist() == pdf.query("a > 2").index.tolist()


def test_iloc_slices_keep_labels(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3, 4, 5], "v": [5.0, 4, 3, 2, 1]})
    df = from_pandas(pdf)
    for sl in (slice(1, 4), slice(None, None, 2), slice(None, None, -1),
               slice(None, None, -2), slice(3, None)):
        got = df.iloc[sl].compute()
        exp = pdf.iloc[sl]
        assert got.index.tolist() == exp.index.tolist(), sl
        assert got["v"].tolist() == exp["v"].tolist(), sl
    # composed: filter promotion then positional slice
    f2 = df[df.a > 1]
    got = f2.iloc[1:3].compute()
    exp = pdf[pdf.a > 1].iloc[1:3]
    assert got.index.tolist() == exp.index.tolist()
