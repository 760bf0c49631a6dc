from __future__ import annotations

import itertools
import os
import sys

import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pandas_expr_spark import get_spark
    s = get_spark("pes-tests")
    yield s


_JOB_GROUPS = itertools.count()


@pytest.fixture()
def jobs(spark):
    """``jobs(fn) -> (fn(), n)``: run ``fn`` under its own Spark job group
    and count the jobs it fired, then restore the caller's group."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description",
            "spark.job.interruptOnCancel")

    def count(fn):
        prev = {k: sc.getLocalProperty(k) for k in keys}
        group = f"pes-jobs-{next(_JOB_GROUPS)}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            for k, v in prev.items():
                sc.setLocalProperty(k, v)
        # the status store is fed by the listener bus: drain it first
        sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))
    return count


@pytest.fixture()
def py4j_calls(spark):
    """``py4j_calls(fn) -> (fn(), n)``: run ``fn`` and count the Py4J
    round trips it asks the JVM for, then restore the original method.
    Deletes of garbage-collected Java objects are not counted: Python's
    collector sends them whenever it runs, not when ``fn`` asks."""
    from py4j.clientserver import ClientServerConnection
    orig = ClientServerConnection.send_command

    def count(fn):
        n = 0

        def send(self, command, *args, **kwargs):
            nonlocal n
            n += not command.startswith("m\nd\n")
            return orig(self, command, *args, **kwargs)
        ClientServerConnection.send_command = send
        try:
            out = fn()
        finally:
            ClientServerConnection.send_command = orig
        return out, n
    return count


@pytest.fixture()
def base_pdf():
    # FIXTURES.md F1 / reference tests/test_collection.py:16-25
    return pd.DataFrame({"x": range(100), "y": [float(i) * 10.0 for i in range(100)]})


@pytest.fixture()
def base(spark, base_pdf):
    from pandas_expr_spark import from_pandas
    return from_pandas(base_pdf)


@pytest.fixture()
def groupby_pdf():
    # FIXTURES.md F2 / reference tests/test_groupby.py:8-16
    return pd.DataFrame({
        "x": [i % 10 for i in range(100)],
        "y": list(range(100)),
        "z": [1] * 100,
    })


@pytest.fixture()
def gdf(spark, groupby_pdf):
    from pandas_expr_spark import from_pandas
    return from_pandas(groupby_pdf)


def assert_frame_eq(result, expected: pd.DataFrame, check_index: bool = False,
                    check_dtype: bool = False, sort_by=None):
    """Differential-test helper (dask assert_eq analogue, SURVEY §5)."""
    got = result.compute() if hasattr(result, "compute") else result
    if sort_by:
        got = got.sort_values(sort_by).reset_index(drop=True)
        expected = expected.sort_values(sort_by).reset_index(drop=True)
    elif not check_index:
        got = got.sort_values(list(got.columns)).reset_index(drop=True)
        expected = expected.sort_values(list(expected.columns)).reset_index(drop=True)
    pd.testing.assert_frame_equal(got, expected, check_dtype=check_dtype,
                                  check_index_type=False)


def assert_series_eq(result, expected: pd.Series, check_dtype: bool = False,
                     check_order: bool = False, check_name: bool = True):
    got = result.compute() if hasattr(result, "compute") else result
    if not check_order:
        got = got.sort_values().reset_index(drop=True)
        expected = expected.sort_values().reset_index(drop=True)
    pd.testing.assert_series_equal(got, expected, check_dtype=check_dtype,
                                   check_index_type=False, check_names=check_name)
