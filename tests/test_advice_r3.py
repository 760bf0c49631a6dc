"""Round-3 regression tests for the round-2 advisor findings.

Each test pins a verified-wrong behavior from ADVICE.md (round 2):
foreign-frame boolean masks, ewm null handling / partition invariance,
grouped rolling-apply center, null-key groups in mixed callable+JVM
aggregations, and the pandas ``raw=False`` rolling-apply default.
"""
from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pandas_expr_spark import from_pandas
from pandas_expr_spark.functions.timeseries import ewm_global


def _close(got, want):
    g = np.asarray(got, dtype="float64")
    w = np.asarray(want, dtype="float64")
    assert len(g) == len(w)
    assert np.allclose(g, w, rtol=1e-9, atol=1e-9, equal_nan=True)


class TestForeignFrameMask:
    def test_foreign_same_schema_mask_aligns(self, spark):
        # the r2-advice bug was a foreign mask SILENTLY returning the
        # FOREIGN frame's rows.  r3 closed it by raising; r4 implements
        # the actual pandas semantics: the mask aligns on the index
        # (positionally for default-index frames) and selects THIS
        # frame's rows.
        p1 = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 30.0, 20.0]})
        p2 = pd.DataFrame({"k": [7, 8, 9], "v": [5.0, 30.0, 20.0]})
        df1, df2 = from_pandas(p1), from_pandas(p2)
        out = df1[df2.v > 15].compute()
        exp = p1[p2.v > 15]
        assert sorted(out["k"].tolist()) == sorted(exp["k"].tolist())
        assert sorted(out["v"].tolist()) == sorted(exp["v"].tolist())

    def test_scalar_augmented_mask_still_works(self, spark):
        pdf = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 30.0, 20.0]})
        df = from_pandas(pdf)
        out = df[df.v > df.v.mean()].compute()
        assert sorted(out["v"].tolist()) == [30.0]

    def test_combined_same_frame_mask(self, spark):
        pdf = pd.DataFrame({"k": [1, 2, 3], "v": [10.0, 30.0, 20.0]})
        df = from_pandas(pdf)
        out = df[(df.v > 15) & (df.k < 3)].compute()
        assert sorted(out["v"].tolist()) == [30.0]


class TestEwmNulls:
    VALS = [1.0, 2.0, None, None, 5.0, 3.0, None, 7.0, 2.0, 9.0, None, 4.0]

    @pytest.mark.parametrize("nparts", [1, 3, 5])
    def test_partition_invariant_vs_pandas(self, spark, nparts):
        want = (pd.Series(self.VALS, dtype="float64")
                .ewm(alpha=0.5, adjust=True).mean().to_numpy())
        sdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(self.VALS)], "i long, x double")
        out = ewm_global(sdf, ["x"], "i", 0.5, num_partitions=nparts)
        got = [np.nan if r["x"] is None else r["x"]
               for r in out.orderBy("i").collect()]
        _close(got, want)

    def test_leading_nulls(self, spark):
        vals = [None, None, 1.0, None, 2.0]
        want = (pd.Series(vals, dtype="float64")
                .ewm(alpha=0.3, adjust=True).mean().to_numpy())
        sdf = spark.createDataFrame([(i, v) for i, v in enumerate(vals)],
                                    "i long, x double")
        out = ewm_global(sdf, ["x"], "i", 0.3, num_partitions=2)
        got = [np.nan if r["x"] is None else r["x"]
               for r in out.orderBy("i").collect()]
        _close(got, want)

    @pytest.mark.parametrize("nparts", [1, 4, 16])
    def test_adjust_false_partition_invariant(self, spark, nparts):
        want = (pd.Series(self.VALS, dtype="float64")
                .ewm(alpha=0.4, adjust=False).mean().to_numpy())
        sdf = spark.createDataFrame(
            [(i, v) for i, v in enumerate(self.VALS)], "i long, x double")
        out = ewm_global(sdf, ["x"], "i", 0.4, adjust=False,
                         num_partitions=nparts)
        got = [np.nan if r["x"] is None else r["x"]
               for r in out.orderBy("i").collect()]
        _close(got, want)

    def test_adjust_false_series_api(self, spark):
        pdf = pd.DataFrame({"i": range(30),
                            "x": [float(i % 7) if i % 5 else None
                                  for i in range(30)]})
        want = pdf.set_index("i")["x"].ewm(alpha=0.25,
                                           adjust=False).mean().to_numpy()
        got = (from_pandas(pdf).set_index("i")["x"]
               .ewm(alpha=0.25, adjust=False).mean()
               .compute().sort_index().to_numpy())
        _close(got, want)

    def test_multi_column_nulls(self, spark):
        pdfm = pd.DataFrame({"i": range(8),
                             "a": [1.0, None, 3.0, 2.0, None, 6.0, 1.0, None],
                             "b": [None, 5.0, 1.0, None, 2.0, 2.0, None, 8.0]})
        out = ewm_global(spark.createDataFrame(pdfm), ["a", "b"], "i", 0.4,
                         num_partitions=3)
        got = out.orderBy("i").toPandas()
        for c in ("a", "b"):
            _close(got[c].to_numpy(),
                   pdfm[c].ewm(alpha=0.4, adjust=True).mean().to_numpy())


class TestEwmRandomized:
    @pytest.mark.parametrize("seed,alpha,adjust",
                             [(1, 0.2, True), (2, 0.7, True),
                              (3, 0.2, False), (4, 0.7, False),
                              (5, 0.05, False)])
    def test_random_nan_patterns(self, spark, seed, alpha, adjust):
        rng = np.random.RandomState(seed)
        n = 200
        vals = rng.randn(n)
        mask = rng.rand(n) < 0.3
        data = [None if m else float(v) for v, m in zip(vals, mask)]
        want = (pd.Series(data, dtype="float64")
                .ewm(alpha=alpha, adjust=adjust).mean().to_numpy())
        sdf = spark.createDataFrame([(i, v) for i, v in enumerate(data)],
                                    "i long, x double")
        out = ewm_global(sdf, ["x"], "i", alpha, adjust=adjust,
                         num_partitions=7)
        got = [np.nan if r["x"] is None else r["x"]
               for r in out.orderBy("i").collect()]
        _close(got, want)

    @pytest.mark.parametrize("stat,adjust,ignore_na",
                             [("mean", True, True), ("mean", False, True),
                              ("var", True, False)])
    @pytest.mark.parametrize("nparts", [1, 3, 16])
    def test_one_scan_many_columns(self, spark, stat, adjust, ignore_na,
                                   nparts):
        # columns with different null patterns share one scan: each
        # keeps its own step count (ignore_na) and state components
        rng = np.random.RandomState(nparts)
        pdf = pd.DataFrame({"i": range(120), "a": rng.randn(120),
                            "b": rng.randn(120)})
        pdf.loc[rng.rand(120) < 0.3, "a"] = np.nan
        pdf.loc[:3, "b"] = np.nan
        out = ewm_global(spark.createDataFrame(pdf), ["a", "b"], "i", 0.3,
                         stat, adjust, ignore_na,
                         num_partitions=nparts).orderBy("i").toPandas()
        for c in ("a", "b"):
            e = pdf[c].ewm(alpha=0.3, adjust=adjust, ignore_na=ignore_na)
            _close(out[c], e.mean() if stat == "mean" else e.var())


class TestEwmSharedScan:
    """The global EWM runs on ``scan.py``'s two-phase scan: it pins its
    scanned table with the scan family's checkpoint (no cached plan is
    left behind), carries untouched columns through exactly, and runs
    one scan for all columns."""

    PDF = pd.DataFrame({"i": range(40),
                        "a": [float(i % 7) if i % 3 else None
                              for i in range(40)],
                        "b": [float(i * i % 11) for i in range(40)],
                        "c": [float(i % 4) for i in range(40)]})

    @pytest.mark.parametrize("op", [
        lambda df: df.ewm(alpha=0.3).mean(),
        lambda df: df.ewm(alpha=0.3, adjust=False).mean(),
        lambda df: df.ewm(alpha=0.3, ignore_na=True).mean(),
        lambda df: df.ewm(alpha=0.3).var(),
        lambda df: df.ewm(alpha=0.3).std(),
        lambda df: df.a.ewm(alpha=0.3).mean(),
        lambda df: df.reset_index().with_ewm("e", "a", order_by="i",
                                             alpha=0.3),
    ], ids=["mean", "mean_noadjust", "mean_ignore_na", "var", "std",
            "series_mean", "with_ewm"])
    def test_leaves_no_cached_plan(self, spark, op):
        spark.catalog.clearCache()
        op(from_pandas(self.PDF).set_index("i")).compute()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    BIG = 2 ** 53 + 1

    def _big_sdf(self, spark):
        return spark.createDataFrame(
            [(i, float(i % 5), self.BIG if i % 2 else None)
             for i in range(30)], "i long, x double, z long")

    def _assert_exact(self, rows):
        assert len(rows) == 30
        for r in rows:
            assert r["z"] == (self.BIG if r["i"] % 2 else None)

    def test_bigint_exact_through_with_ewm(self, spark):
        # read on the plan: compute() presents a nullable bigint as float64
        pdf = pd.DataFrame({
            "i": range(30), "x": [float(i % 5) for i in range(30)],
            "z": pd.array([self.BIG if i % 2 else None for i in range(30)],
                          dtype="Int64")})
        out = from_pandas(pdf).with_ewm("e", "x", order_by="i", alpha=0.4,
                                        num_partitions=3)
        self._assert_exact(out._sdf.select("i", "z").collect())

    @pytest.mark.parametrize("kw", [{}, {"adjust": False},
                                    {"ignore_na": True}, {"stat": "var"}],
                             ids=["mean", "noadjust", "ignore_na", "var"])
    def test_bigint_exact_through_kernel(self, spark, kw):
        out = ewm_global(self._big_sdf(spark), ["x"], "i", 0.4,
                         num_partitions=3, **kw)
        self._assert_exact(out.collect())

    def test_var_columns_share_one_scan(self, spark, jobs):
        def total(cols):
            df = from_pandas(self.PDF.fillna(0.0)).set_index("i")[cols]
            res, build = jobs(lambda: df.ewm(alpha=0.3).var())
            _, action = jobs(res.compute)
            return build + action
        assert total(["a", "b", "c"]) == total(["a"])

    def test_no_hand_written_scan(self):
        # the range partitioning, local pass and pinning belong to
        # scan.py; timeseries.py keeps only its grouped applyInPandas
        # and the one-group fold
        import ast
        import inspect

        from pandas_expr_spark.functions import timeseries
        banned = {"persist", "repartitionByRange", "mapInPandas",
                  "spark_partition_id"}
        called = {n.func.attr if isinstance(n.func, ast.Attribute)
                  else getattr(n.func, "id", None)
                  for n in ast.walk(ast.parse(inspect.getsource(timeseries)))
                  if isinstance(n, ast.Call)}
        assert not called & banned


class TestGroupedRollingApplyCenter:
    def test_center_matches_pandas(self, spark):
        pdf = pd.DataFrame({"g": [1, 1, 1, 1, 1, 2, 2, 2],
                            "i": [0, 1, 2, 3, 4, 0, 1, 2],
                            "v": [1.0, 2.0, 3.0, 4.0, 5.0,
                                  10.0, 20.0, 30.0]})
        want = (pdf.sort_values(["g", "i"]).groupby("g")["v"]
                .rolling(3, center=True).apply(lambda s: s.sum())
                .reset_index(drop=True).to_numpy())
        eng = (from_pandas(pdf).set_index("i").groupby("g")
               .rolling(3, center=True).apply(lambda s: s.sum()))
        got = eng.compute().sort_values(["g", "i"])["v"].to_numpy()
        _close(got, want)


class TestMixedAggNullKeys:
    def test_dropna_false_keeps_null_group(self, spark):
        pdf = pd.DataFrame({"k": [1.0, 1.0, None, None],
                            "v": [1.0, 2.0, 3.0, 4.0]})
        res = (from_pandas(pdf).groupby("k", dropna=False)
               .agg({"v": [lambda s: s.max() - s.min(), "sum"]}).compute())
        assert len(res) == 2
        # dict-of-list specs return pandas' MultiIndex columns since r5
        assert sorted(res[("v", "sum")].tolist()) == [3.0, 7.0]


class TestBruteForceSizeGuard:
    def test_refuses_above_bound(self, spark):
        from pandas_expr_spark.functions.similarity import brute_force_pairs
        sdf = spark.range(20).selectExpr(
            "id as vec_id", "array(cast(id as double), 1.0d) as embedding")
        with pytest.raises(ValueError, match="exceeds the O"):
            brute_force_pairs(sdf, max_vectors=10)
        # under the bound (and with the guard disabled) it still runs
        assert brute_force_pairs(sdf, cosine_threshold=0.99).count() >= 0
        assert brute_force_pairs(sdf, cosine_threshold=0.99,
                                 max_vectors=None).count() >= 0


class TestRollingApplyRawDefault:
    def test_series_center_raw_false(self, spark):
        pdf = pd.DataFrame({"i": range(10),
                            "v": [1.0, 3.0, 2.0, 5.0, 4.0,
                                  6.0, 0.0, 8.0, 7.0, 9.0]})
        # func uses Series methods — only works when raw defaults to False
        want = pdf.set_index("i")["v"].rolling(4, center=True).apply(
            lambda s: s.idxmax() - s.idxmin()).to_numpy()
        got = (from_pandas(pdf).set_index("i")["v"]
               .rolling(4, center=True)
               .apply(lambda s: s.idxmax() - s.idxmin())
               .compute().sort_index().to_numpy())
        _close(got, want)

    def test_series_even_window_center(self, spark):
        rng = np.random.RandomState(7)
        pdf = pd.DataFrame({"i": range(200), "v": rng.randn(200)})
        want = pdf["v"].rolling(6, center=True).apply(
            lambda s: s.max() - s.min(), raw=True).to_numpy()
        got = (from_pandas(pdf).set_index("i")["v"]
               .rolling(6, center=True)
               .apply(lambda s: s.max() - s.min(), raw=True)
               .compute().sort_index().to_numpy())
        _close(got, want)
