"""Physical-plan regression tests (SURVEY §5: plan tests replace the
reference's Expr-name equality).  These lock in the 100 TB scale properties:
pushdown reaches the parquet scan, projections prune the ReadSchema,
dimension joins broadcast, top-k compiles to TakeOrderedAndProject, and
nothing silently degrades to a nested-loop join."""

from __future__ import annotations

import contextlib
import io

import pytest

SF = "/root/testdata/sf0.001"


def plan_of(frame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        frame.explain(mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    import pandas_expr_spark as pes
    li = pes.read_parquet(f"{SF}/lineitem.parquet")
    q = li[li.l_quantity > 40][["l_orderkey", "l_extendedprice"]]
    p = plan_of(q)
    assert "PushedFilters" in p
    assert "GreaterThan(l_quantity,40" in p.replace(" ", "").replace(".0", "")


def test_projection_prunes_read_schema(spark):
    import pandas_expr_spark as pes
    li = pes.read_parquet(f"{SF}/lineitem.parquet")
    q = li[["l_orderkey", "l_extendedprice"]]
    p = plan_of(q)
    # 2-column projection must not scan all 11 lineitem columns
    import re
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m, p
    cols = [c.split(":")[0] for c in m.group(1).split(",") if c]
    # _tmp_metadata_row_index is the reader-GENERATED positional-label
    # source (Spark 4.1 _metadata.row_index) — synthesized in-memory by
    # the parquet reader, zero disk IO; it is not a data column read.
    cols = [c for c in cols if c != "_tmp_metadata_row_index"]
    assert set(cols) == {"l_orderkey", "l_extendedprice"}


def test_broadcast_hint_produces_broadcast_join(spark):
    import pandas_expr_spark as pes
    li = pes.read_parquet(f"{SF}/lineitem.parquet")
    part = pes.read_parquet(f"{SF}/part.parquet")
    j = li.merge(part, left_on="l_partkey", right_on="p_partkey",
                 broadcast=True)
    assert "BroadcastHashJoin" in plan_of(j, "simple")


def test_nlargest_is_take_ordered(spark):
    import pandas_expr_spark as pes
    o = pes.read_parquet(f"{SF}/orders.parquet")
    q = o.nlargest(10, "o_totalprice")
    assert "TakeOrderedAndProject" in plan_of(q, "simple")


def test_merge_asof_no_nested_loop(spark):
    import pandas_expr_spark as pes
    ev = pes.read_parquet(f"{SF}/events.parquet")
    left = ev[ev.event_type == "purchase"][["event_id", "user_id", "ts"]]
    right = ev[ev.event_type == "view"][["user_id", "ts", "value"]]
    out = pes.merge_asof(left, right, on="ts", by="user_id")
    p = plan_of(out, "simple")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "Window" in p


def test_groupby_partial_aggregation(spark):
    import pandas_expr_spark as pes
    li = pes.read_parquet(f"{SF}/lineitem.parquet")
    g = li.groupby("l_returnflag").agg(s=("l_quantity", "sum"))
    p = plan_of(g, "simple")
    # map-side partial + final hash aggregate around one exchange
    assert p.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in p


def test_semi_join_lowering(spark):
    import pandas_expr_spark as pes
    c = pes.read_parquet(f"{SF}/customer.parquet")
    o = pes.read_parquet(f"{SF}/orders.parquet")
    m = c.merge(o[["o_custkey"]], how="semi",
                left_on="c_custkey", right_on="o_custkey")
    assert "LeftSemi" in plan_of(m, "simple")


def test_text_ops_stay_jvm_side(spark):
    """No Python evaluation nodes in the text-analysis hot path.  (The array
    higher-order functions are CodegenFallback — still JVM expression eval,
    just outside whole-stage codegen — the scale-relevant property is the
    absence of a Python/Arrow worker boundary.)"""
    import io as _io, contextlib as _ctx
    from pandas_expr_spark.functions import text
    from pandas_expr_spark.sources.tables import load_table
    docs = load_table(spark, SF, "documents")
    q = docs.withColumn("q", text.quality_score("text")).select("doc_id", "q")
    buf = _io.StringIO()
    with _ctx.redirect_stdout(buf):
        q.explain("simple")
    s = buf.getvalue()
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s


def test_scan_sharing_single_relation(spark):
    import pandas_expr_spark as pes
    li1 = pes.read_parquet(f"{SF}/lineitem.parquet")
    li2 = pes.read_parquet(f"{SF}/lineitem.parquet")
    # engine-side scan CSE: the same path lowers to the SAME scan relation
    assert li1._sdf is li2._sdf


def test_merge_hint_pins_shuffle_hash_join(spark):
    """merge(hint=...) must reach Catalyst: the size-only estimator can flip
    the build side onto the fact table; the hint pins the strategy."""
    import pandas as pd
    import pandas_expr_spark as pes
    a = pes.from_pandas(pd.DataFrame({"k": range(100), "v": range(100)}))
    b = pes.from_pandas(pd.DataFrame({"k": range(50), "w": range(50)}))
    out = a.merge(b, on="k", hint="shuffle_hash")
    plan = out.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan, plan
    out2 = a.merge(b, on="k", hint="merge")
    plan2 = out2.to_spark()._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan2, plan2


def test_cumsum_no_global_window(spark):
    """Global cumsum must be the segment scan: a range-partition exchange +
    mapInPandas, with the ONLY window operating on the tiny per-partition
    summary table — never a WindowExec over the full input."""
    import pandas as pd
    import pandas_expr_spark as pes
    df = pes.from_pandas(pd.DataFrame({"k": range(200), "v": range(200)}))
    s = df.set_index("k")["v"].cumsum()
    plan = s._sdf._jdf.queryExecution().executedPlan().toString()
    # since r9 the fused local+summary mapInPandas pass is PINNED inside
    # the scan op's lazy localCheckpoint, so the visible plan reads from
    # the checkpointed RDD; the carry fold is a Window over the
    # #partitions marker rows (keyed by the pid column) — never a
    # WindowExec over the full input, and no second aggregate pass
    assert "rangepartitioning" in plan or "ExistingRDD" in plan, plan
    assert "HashAggregate" not in plan, plan  # r9: summary fold, no 2nd pass
    if "Window" in plan:
        win_idx = plan.index("Window")
        assert "__pes_pid__" in plan[win_idx:], plan


def test_shift_is_position_equi_join(spark):
    """shift lowers to an equi-join on the global position — no window, no
    nested loop."""
    import pandas as pd
    import pandas_expr_spark as pes
    df = pes.from_pandas(pd.DataFrame({"k": range(200), "v": range(200)}))
    s = df.set_index("k")["v"].shift(1)
    plan = s._sdf._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan, plan
    assert "Join" in plan, plan


def test_rolling_no_full_data_window(spark):
    import pandas as pd
    import pandas_expr_spark as pes
    df = pes.from_pandas(pd.DataFrame({"k": range(200), "v": range(200)}))
    s = df.set_index("k")["v"].rolling(7).sum()
    plan = s._sdf._jdf.queryExecution().executedPlan().toString()
    # see test_cumsum_no_global_window: the range exchange sits behind the
    # checkpoint boundary now
    assert "rangepartitioning" in plan or "ExistingRDD" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_fused_assign_no_alignment_join(spark):
    """A frame's own cumsum/shift/rolling values assigned to it come out
    of one scan over its rows: the only joins are on the scan's running
    position (never the rowid label of an alignment join), and the only
    windows are the scan's carry folds over the per-partition summary."""
    import pandas as pd
    import pandas_expr_spark as pes
    df = pes.from_pandas(pd.DataFrame({"k": range(200)[::-1],
                                       "v": range(200)})).sort_values("k")
    out = df.assign(cs=df.v.cumsum(), prev=df.v.shift(1),
                    roll=df.v.rolling(3).sum())
    lines = out._sdf._jdf.queryExecution().executedPlan().toString() \
        .splitlines()
    joins = [ln for ln in lines if "Join [" in ln]
    windows = [ln for ln in lines if "Window [" in ln]
    assert joins and windows, lines
    assert not any("__pes_rowid__" in ln for ln in joins), joins
    assert all("windowspecdefinition(__pes_pid__" in ln
               for ln in windows), windows


def test_visualize_dot_source(base):
    out = base[base.x > 10][["x"]]
    dot = out.expr.to_dot()
    assert dot.startswith("digraph plan")
    assert "filter" in dot and "->" in dot
    # collection-level entry point; without graphviz installed this is the
    # DOT source, with it a graphviz.Source — both stringify to DOT
    v = out.visualize()
    assert "digraph" in str(v)


def test_visualize_writes_dot_file(base, tmp_path):
    target = str(tmp_path / "plan")
    base.visualize(filename=target)
    import os
    assert os.path.exists(target + ".dot") or os.path.exists(target + ".png")
