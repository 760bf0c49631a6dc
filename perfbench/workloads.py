"""The three workloads: their operations (public engine API only), the
seeded parameters, and the DuckDB oracle each result is checked against.

An operation is a ``Query``: ``run(pes, d, p)`` builds the frame and ends
in its action (``compute()`` for ``interactive``, ``to_parquet`` for the
batch workloads); ``oracle(d, p)`` is the DuckDB SQL over the same files
(the corpus pipeline has none: its checks are in ``run.py``).
``facts`` names the fact tables an operation scans, for the rows-per-second
figure.
"""
from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd


@dataclass(frozen=True)
class Query:
    name: str
    cls: str                 # "ordered" / "unordered" / "batch"
    run: Callable            # (pes, data_dir, params) -> result
    oracle: Callable         # (data_dir, params) -> DuckDB SQL
    facts: tuple[str, ...]   # fact tables the op scans


def _p(d: str, t: str) -> str:
    path = os.path.join(d, f"{t}.parquet")
    return f"{path}/*.parquet" if os.path.isdir(path) else path


def _rp(pes, d, t):
    return pes.read_parquet(os.path.join(d, f"{t}.parquet"))


def _ts(year: int, month: int = 1) -> pd.Timestamp:
    return pd.Timestamp(year=year, month=month, day=1)


# ------------------------------------------------------------ interactive
def _filter_assign_agg(pes, d, p):
    li = _rp(pes, d, "lineitem")
    f = li[li.l_quantity > p["q"]]
    f = f.assign(qbucket=f.l_quantity // 10)
    return f.groupby(["l_returnflag", "qbucket"]).agg(
        n=("l_orderkey", "count"), qty=("l_quantity", "sum"),
        maxp=("l_extendedprice", "max"))


def _filter_assign_agg_sql(d, p):
    return f"""SELECT l_returnflag, floor(l_quantity / 10) AS qbucket,
        count(l_orderkey) AS n, sum(l_quantity) AS qty, max(l_extendedprice) AS maxp
        FROM '{_p(d, "lineitem")}' WHERE l_quantity > {p["q"]} GROUP BY ALL"""


def _merge_agg(pes, d, p):
    o, c = _rp(pes, d, "orders"), _rp(pes, d, "customer")
    o = o[(o.o_orderdate >= _ts(p["year"])) & (o.o_orderdate < _ts(p["year"] + 1))]
    m = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    return m.groupby("c_mktsegment").agg(n=("o_orderkey", "count"),
                                         maxp=("o_totalprice", "max"))


def _merge_agg_sql(d, p):
    return f"""SELECT c_mktsegment, count(o_orderkey) AS n, max(o_totalprice) AS maxp
        FROM '{_p(d, "orders")}' JOIN '{_p(d, "customer")}' ON o_custkey = c_custkey
        WHERE o_orderdate >= TIMESTAMP '{p["year"]}-01-01'
          AND o_orderdate < TIMESTAMP '{p["year"] + 1}-01-01' GROUP BY ALL"""


def _value_counts(pes, d, p):
    li = _rp(pes, d, "lineitem")
    return li[li.l_shipdate >= _ts(p["year"], p["month"])].l_returnflag.value_counts()


def _value_counts_sql(d, p):
    return f"""SELECT l_returnflag, count(*) AS "count" FROM '{_p(d, "lineitem")}'
        WHERE l_shipdate >= TIMESTAMP '{p["year"]}-{p["month"]:02d}-01' GROUP BY ALL"""


def _str_dt(pes, d, p):
    o = _rp(pes, d, "orders")
    o = o[o.o_orderpriority.str.startswith(p["prio"])]
    o = o.assign(yr=o.o_orderdate.dt.year)
    return o.groupby("yr").agg(n=("o_orderkey", "count"))


def _str_dt_sql(d, p):
    return f"""SELECT CAST(year(o_orderdate) AS INTEGER) AS yr, count(o_orderkey) AS n
        FROM '{_p(d, "orders")}' WHERE starts_with(o_orderpriority, '{p["prio"]}')
        GROUP BY ALL"""


def _tier_table(seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 3])
    return pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                         "tier": [f"T{i}" for i in rng.integers(0, 4, 25)]})


def _lookup_join(pes, d, p):
    c = _rp(pes, d, "customer")
    lk = pes.from_pandas(_tier_table(p["tiers"]))
    m = c[c.c_acctbal > p["bal"]].merge(lk, left_on="c_nationkey", right_on="n_nationkey")
    return m.groupby("tier").agg(n=("c_custkey", "count"), maxbal=("c_acctbal", "max"))


def _lookup_join_sql(d, p):
    rows = ", ".join(f"({k}, '{t}')" for k, t in
                     _tier_table(p["tiers"]).itertuples(index=False))
    return f"""SELECT tier, count(c_custkey) AS n, max(c_acctbal) AS maxbal
        FROM '{_p(d, "customer")}' JOIN (VALUES {rows}) lk(n_nationkey, tier)
        ON c_nationkey = lk.n_nationkey WHERE c_acctbal > {p["bal"]} GROUP BY ALL"""


def _sort_head(pes, d, p):
    li = _rp(pes, d, "lineitem")
    f = li[li.l_quantity >= p["q"]]
    s = f.sort_values(["l_extendedprice", "l_orderkey", "l_linenumber"],
                      ascending=[False, True, True])
    return s.head(p["n"])[["l_orderkey", "l_linenumber", "l_extendedprice"]]


def _sort_head_sql(d, p):
    return f"""SELECT l_orderkey, l_linenumber, l_extendedprice FROM '{_p(d, "lineitem")}'
        WHERE l_quantity >= {p["q"]}
        ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT {p["n"]}"""


def _drop_dup_first(pes, d, p):
    o = _rp(pes, d, "orders")
    o = o[o.o_orderpriority == p["prio_full"]]
    return o.drop_duplicates(subset=["o_custkey"], keep="first")[["o_orderkey", "o_custkey"]]


def _drop_dup_first_sql(d, p):
    return f"""SELECT o_orderkey, o_custkey FROM (
        SELECT *, row_number() OVER (PARTITION BY o_custkey ORDER BY file_row_number) AS rn
        FROM read_parquet('{_p(d, "orders")}', file_row_number = true)
        WHERE o_orderpriority = '{p["prio_full"]}') WHERE rn = 1 ORDER BY file_row_number"""


def _sorted_cumsum(pes, d, p):
    o = _rp(pes, d, "orders")
    o = o[o.o_orderstatus == p["status"]][["o_orderkey", "o_orderdate", "o_custkey"]]
    s = o.sort_values(["o_orderdate", "o_orderkey"])
    return s.assign(cs=s.o_custkey.cumsum()).tail(p["n"])


def _sorted_cumsum_sql(d, p):
    return f"""SELECT * FROM (SELECT * FROM (SELECT o_orderkey, o_orderdate, o_custkey,
        CAST(sum(o_custkey) OVER (ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS cs
        FROM '{_p(d, "orders")}' WHERE o_orderstatus = '{p["status"]}')
        ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT {p["n"]})
        ORDER BY o_orderdate, o_orderkey"""


def _shift_rolling(pes, d, p):
    # on the frame in file order, which is ts order (gen.py writes events
    # with strictly increasing ts); the sorted-frame path is sorted_cumsum's
    e = _rp(pes, d, "events")
    e = e[e.event_type == p["etype"]][["event_id", "ts", "value"]]
    return e.assign(prev=e.value.shift(1), roll=e.value.rolling(p["w"]).sum()).tail(p["n"])


def _shift_rolling_sql(d, p):
    return f"""SELECT * FROM (SELECT * FROM (SELECT event_id, ts, value,
        lag(value) OVER (ORDER BY ts) AS prev,
        CASE WHEN row_number() OVER (ORDER BY ts) >= {p["w"]} THEN
            sum(value) OVER (ORDER BY ts ROWS BETWEEN {p["w"] - 1} PRECEDING AND CURRENT ROW)
        END AS roll
        FROM '{_p(d, "events")}' WHERE event_type = '{p["etype"]}')
        ORDER BY ts DESC LIMIT {p["n"]}) ORDER BY ts"""


def _asof(pes, d, p):
    e = _rp(pes, d, "events")
    left = e[e.event_type == p["etype"]][["ts", "event_id"]]
    right = e[e.event_type == p["etype2"]][["ts", "value"]]
    return pes.merge_asof(left, right, on="ts")


def _asof_sql(d, p):
    ev = _p(d, "events")
    return f"""SELECT l.ts, l.event_id, r.value FROM
        (SELECT ts, event_id FROM '{ev}' WHERE event_type = '{p["etype"]}') l
        ASOF LEFT JOIN (SELECT ts, value FROM '{ev}' WHERE event_type = '{p["etype2"]}') r
        ON l.ts >= r.ts ORDER BY l.ts"""


def _resample(pes, d, p):
    e = _rp(pes, d, "events")
    e = e[e.event_type == p["etype"]][["ts", "value"]]
    return e.resample("1D", on="ts").sum()


def _resample_sql(d, p):
    return f"""SELECT date_trunc('day', ts) AS ts, sum(value) AS value
        FROM '{_p(d, "events")}' WHERE event_type = '{p["etype"]}'
        GROUP BY ALL ORDER BY ts"""


_ETYPES = ["click", "view", "cart", "buy", "search"]


def _draw_interactive(rng) -> dict:
    et = rng.choice(_ETYPES, size=2, replace=False)
    return {"q": int(rng.integers(5, 45)), "year": int(rng.integers(1992, 1998)),
            "month": int(rng.integers(1, 13)), "prio": str(rng.integers(1, 6)),
            "prio_full": str(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"])),
            "tiers": int(rng.integers(0, 2**31)), "bal": int(rng.integers(-500, 5000)),
            "n": int(rng.integers(20, 200)), "status": str(rng.choice(["F", "O", "P"])),
            "etype": str(et[0]), "etype2": str(et[1]), "w": int(rng.integers(3, 10))}


INTERACTIVE = [
    Query("filter_assign_agg", "unordered", _filter_assign_agg, _filter_assign_agg_sql,
          ("lineitem",)),
    Query("merge_agg", "unordered", _merge_agg, _merge_agg_sql, ("orders",)),
    Query("value_counts", "unordered", _value_counts, _value_counts_sql, ("lineitem",)),
    Query("str_dt", "unordered", _str_dt, _str_dt_sql, ("orders",)),
    Query("lookup_join", "unordered", _lookup_join, _lookup_join_sql, ()),
    Query("sort_head", "ordered", _sort_head, _sort_head_sql, ("lineitem",)),
    Query("drop_dup_first", "ordered", _drop_dup_first, _drop_dup_first_sql, ("orders",)),
    Query("sorted_cumsum", "ordered", _sorted_cumsum, _sorted_cumsum_sql, ("orders",)),
    Query("shift_rolling", "ordered", _shift_rolling, _shift_rolling_sql, ("events",)),
    Query("merge_asof", "ordered", _asof, _asof_sql, ("events",)),
    Query("resample", "ordered", _resample, _resample_sql, ("events",)),
]


# ------------------------------------------------------------ etl_batch
def _out(p, name):
    return os.path.join(p["out"], name)


def _pricing_summary(pes, d, p):
    li = _rp(pes, d, "lineitem")
    r = li[li.l_shipdate <= _ts(p["year"], p["month"])].groupby(
        ["l_returnflag", "l_linestatus"]).agg(
        sum_qty=("l_quantity", "sum"), n=("l_orderkey", "count"),
        max_price=("l_extendedprice", "max"), min_disc=("l_discount", "min"))
    r.reset_index().to_parquet(_out(p, "pricing_summary"))


def _pricing_summary_sql(d, p):
    return f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        count(l_orderkey) AS n, max(l_extendedprice) AS max_price,
        min(l_discount) AS min_disc FROM '{_p(d, "lineitem")}'
        WHERE l_shipdate <= TIMESTAMP '{p["year"]}-{p["month"]:02d}-01' GROUP BY ALL"""


def _shipping_priority(pes, d, p):
    c, o, li = (_rp(pes, d, t) for t in ("customer", "orders", "lineitem"))
    cut = _ts(p["year"], p["month"])
    m = (c[c.c_mktsegment == p["segment"]]
         .merge(o[o.o_orderdate < cut], left_on="c_custkey", right_on="o_custkey")
         .merge(li[li.l_shipdate > cut], left_on="o_orderkey", right_on="l_orderkey"))
    r = m.groupby("o_orderpriority").agg(n=("l_orderkey", "count"),
                                         qty=("l_quantity", "sum"))
    r.reset_index().to_parquet(_out(p, "shipping_priority"))


def _shipping_priority_sql(d, p):
    cut = f"TIMESTAMP '{p['year']}-{p['month']:02d}-01'"
    return f"""SELECT o_orderpriority, count(l_orderkey) AS n, sum(l_quantity) AS qty
        FROM '{_p(d, "customer")}' JOIN '{_p(d, "orders")}' ON c_custkey = o_custkey
        JOIN '{_p(d, "lineitem")}' ON o_orderkey = l_orderkey
        WHERE c_mktsegment = '{p["segment"]}' AND o_orderdate < {cut}
          AND l_shipdate > {cut} GROUP BY ALL"""


def _region_volume(pes, d, p):
    li, o, c, n, r = (_rp(pes, d, t) for t in
                      ("lineitem", "orders", "customer", "nation", "region"))
    o = o[(o.o_orderdate >= _ts(p["year"])) & (o.o_orderdate < _ts(p["year"] + 1))]
    m = (li.merge(o, left_on="l_orderkey", right_on="o_orderkey")
         .merge(c, left_on="o_custkey", right_on="c_custkey")
         .merge(n, left_on="c_nationkey", right_on="n_nationkey")
         .merge(r[r.r_name == p["region"]], left_on="n_regionkey", right_on="r_regionkey"))
    out = m.groupby("n_name").agg(n=("l_orderkey", "count"), qty=("l_quantity", "sum"))
    out.reset_index().to_parquet(_out(p, "region_volume"))


def _region_volume_sql(d, p):
    return f"""SELECT n_name, count(l_orderkey) AS n, sum(l_quantity) AS qty
        FROM '{_p(d, "lineitem")}' JOIN '{_p(d, "orders")}' ON l_orderkey = o_orderkey
        JOIN '{_p(d, "customer")}' ON o_custkey = c_custkey
        JOIN '{_p(d, "nation")}' ON c_nationkey = n_nationkey
        JOIN '{_p(d, "region")}' ON n_regionkey = r_regionkey
        WHERE r_name = '{p["region"]}' AND o_orderdate >= TIMESTAMP '{p["year"]}-01-01'
          AND o_orderdate < TIMESTAMP '{p["year"] + 1}-01-01' GROUP BY ALL"""


def _part_volume(pes, d, p):
    li, pt = _rp(pes, d, "lineitem"), _rp(pes, d, "part")
    m = li.merge(pt[pt.p_size <= p["size"]], left_on="l_partkey", right_on="p_partkey")
    out = m.groupby("p_type").agg(n=("l_orderkey", "count"), qty=("l_quantity", "sum"),
                                  max_price=("l_extendedprice", "max"))
    out.reset_index().to_parquet(_out(p, "part_volume"))


def _part_volume_sql(d, p):
    return f"""SELECT p_type, count(l_orderkey) AS n, sum(l_quantity) AS qty,
        max(l_extendedprice) AS max_price
        FROM '{_p(d, "lineitem")}' JOIN '{_p(d, "part")}' ON l_partkey = p_partkey
        WHERE p_size <= {p["size"]} GROUP BY ALL"""


def _enrich_write(pes, d, p):
    li, o = _rp(pes, d, "lineitem"), _rp(pes, d, "orders")
    m = li.merge(o[["o_orderkey", "o_orderdate", "o_orderpriority"]],
                 left_on="l_orderkey", right_on="o_orderkey")
    m = m.assign(net=m.l_extendedprice * (1 - m.l_discount),
                 ship_year=m.l_shipdate.dt.year)
    m.to_parquet(_out(p, "enrich_write"))


# the written table is checked through aggregates of it, so the oracle and
# the read-back run the same SQL over different relations
_ENRICH_AGG = """SELECT count(*) AS n, sum(l_quantity) AS qty,
    CAST(sum(ship_year) AS BIGINT) AS years, min(net) AS min_net, max(net) AS max_net,
    count(DISTINCT o_orderpriority) AS prios FROM {rel}"""


def _enrich_write_sql(d, p):
    rel = f"""(SELECT l_quantity, year(l_shipdate) AS ship_year,
        l_extendedprice * (1 - l_discount) AS net, o_orderpriority
        FROM '{_p(d, "lineitem")}' JOIN '{_p(d, "orders")}' ON l_orderkey = o_orderkey)"""
    return _ENRICH_AGG.format(rel=rel)


def readback_sql(q: Query, p: dict) -> str:
    """DuckDB SQL reading what a batch operation wrote, shaped like its oracle."""
    rel = f"read_parquet('{_out(p, q.name)}/*.parquet')"
    if q.name == "enrich_write":
        return _ENRICH_AGG.format(rel=rel)
    return f"SELECT * FROM {rel}"


def _draw_etl(rng) -> dict:
    return {"year": int(rng.integers(1993, 1998)), "month": int(rng.integers(1, 13)),
            "segment": str(rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"])),
            "region": str(rng.choice(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                      "MIDDLE EAST"])),
            "size": int(rng.integers(5, 45))}


ETL = [
    Query("pricing_summary", "batch", _pricing_summary, _pricing_summary_sql,
          ("lineitem",)),
    Query("shipping_priority", "batch", _shipping_priority, _shipping_priority_sql,
          ("lineitem", "orders")),
    Query("region_volume", "batch", _region_volume, _region_volume_sql,
          ("lineitem", "orders")),
    Query("part_volume", "batch", _part_volume, _part_volume_sql, ("lineitem",)),
    Query("enrich_write", "batch", _enrich_write, _enrich_write_sql,
          ("lineitem", "orders")),
]


# ------------------------------------------------------------ corpus_curation
JACCARD = 0.8


def _gopher_kept(sdf):
    from pandas_expr_spark.functions import curation
    from pyspark.sql import functions as F
    rules = curation.gopher_rules("text")
    return (sdf.select("doc_id", "text", rules[-1])
            .filter(F.col("passes_gopher")).drop("passes_gopher"))


def _verified_pairs(docs, cand):
    """Candidate pairs whose exact word-trigram Jaccard clears JACCARD."""
    from pandas_expr_spark.functions import text
    from pyspark.sql import functions as F
    # shingle only the docs that appear in a candidate pair
    ids = F.broadcast(cand.select(F.explode(F.array("id_a", "id_b")).alias("doc_id"))
                      .distinct())
    sh = (docs.join(ids, "doc_id", "left_semi")
          .select("doc_id", text.word_shingles("text", 3).alias("sh")))
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sb"))
    jac = (F.size(F.array_intersect("sa", "sb")).cast("double")
           / F.size(F.array_union("sa", "sb")))
    return (cand.join(a, "id_a").join(b, "id_b")
            .filter(jac >= JACCARD).select("id_a", "id_b"))


def curate(pes, d, p, probe: dict | None = None):
    """Quality filter -> exact dedup -> MinHash-LSH near dedup (Jaccard
    verify, duplicate clusters, keep the canonical doc) -> PII redaction ->
    write.  With ``probe`` a dict, also records the LSH candidate and
    verified pair counts in it (extra jobs; never in a timed run)."""
    from pandas_expr_spark.functions import components, dedup, text
    from pyspark.sql import functions as F
    docs = _rp(pes, d, "documents").to_spark()
    kept = dedup.exact_dedup(_gopher_kept(docs)).persist()
    try:
        cand = dedup.minhash_lsh_pairs(kept, num_perm=32, bands=8).persist()
        verified = _verified_pairs(kept, cand)
        clusters = components.dup_clusters(verified)
        drop = clusters.filter(~F.col("is_canonical")).select("doc_id")
        out = (kept.join(drop, "doc_id", "left_anti")
               .withColumn("text", text.redact_pii("text")))
        pes.from_spark(out).to_parquet(_out(p, "curated"))
        if probe is not None:
            probe["candidate_pairs"] = cand.count()
            probe["verified_pairs"] = verified.count()
        cand.unpersist()
    finally:
        kept.unpersist()
        dedup.release_caches()


def gopher_survivors_sql(d: str) -> str:
    """DuckDB count of documents passing the Gopher rules (same thresholds
    as ``functions.curation``)."""
    return rf"""WITH t AS (
        SELECT text, regexp_split_to_array(trim(text), '\s+') AS ws FROM '{_p(d, "documents")}'
    ), f AS (
        SELECT len(ws) AS n,
            CASE WHEN len(ws) > 0 THEN list_sum(list_transform(ws, x -> len(x)))::DOUBLE / len(ws)
                 ELSE 0.0 END AS mean_len,
            (len(text) - len(replace(text, '#', '')))
              + (len(text) - len(replace(text, '...', ''))) // 3 AS sym,
            CASE WHEN len(ws) > 0 THEN
                len(list_filter(ws, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(ws)
                 ELSE 0.0 END AS alpha,
            len(list_intersect(list_distinct(list_transform(ws, x -> lower(x))),
                ['the','be','to','of','and','that','have','with'])) AS stops
        FROM t)
    SELECT count(*) AS n FROM f WHERE n BETWEEN 50 AND 100000 AND mean_len BETWEEN 3.0 AND 10.0
        AND (CASE WHEN n > 0 THEN sym::DOUBLE / n ELSE 0.0 END) <= 0.1
        AND alpha >= 0.8 AND stops >= 2"""


def engine_survivors(pes, d) -> int:
    return _gopher_kept(_rp(pes, d, "documents").to_spark()).count()


CORPUS = [Query("curate", "batch", curate, None, ("documents",))]


def draw(workload: str, rng) -> dict:
    """The seeded parameters of one run of a workload."""
    if workload == "interactive":
        return _draw_interactive(rng)
    if workload == "etl_batch":
        return _draw_etl(rng)
    return {}
