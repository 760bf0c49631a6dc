"""Seeded input generator for the benchmark.

Everything the workloads read is made here from ``--seed``: a TPC-H-shaped
star schema plus an ``events`` table at a given scale factor (sf0.1:
600k lineitem) and a ``documents`` corpus,
and the isomorphic expansions built from that base:

* lineitem/orders x k: copy j shifts ``l_orderkey``/``o_orderkey`` by
  ``j * (max key + 1)``; dimension tables stay 1x, as dims do at scale.
* documents x k: copy j appends a per-copy letter code to every
  non-stop-word token (disjoint vocabulary per copy, so within-copy
  duplicate structure is preserved and cross-copy similarity is ~0) and
  shifts ``doc_id`` by ``j * base docs``.

The planted exact and near duplicates of the corpus are drawn from the
seed and returned as ground truth, so the checks know which ids the dedup
stages must remove.  Outputs are cached per (seed, shape) under the work
directory; a cache hit costs only the manifest read.
"""
from __future__ import annotations

import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

GEN_VERSION = 1

_EPOCH_1992 = np.datetime64("1992-01-01T00:00:00", "us")
_DAY_US = 86_400_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "cart", "buy", "search"]
TYPE_WORDS = (["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"],
              ["ANODIZED", "BURNISHED", "PLATED", "POLISHED", "BRUSHED"],
              ["TIN", "NICKEL", "BRASS", "STEEL", "COPPER"])
# the Gopher stop-word list: never suffixed, so every copy passes the same
# stop-word rule as its base document
STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]
CONTENT_WORDS = [
    "batch", "part", "spark", "line", "column", "order", "small", "sort",
    "fast", "value", "scan", "hash", "slow", "group", "agg", "filter",
    "query", "key", "window", "row", "table", "stream", "merge", "data",
    "join", "vector", "big", "customer", "index", "frame", "plan", "task",
    "shuffle", "stage", "cache", "lazy", "engine", "driver", "worker",
    "record", "schema", "parquet", "reader", "writer", "buffer", "memory",
    "metric", "trace", "span", "layer", "result", "oracle", "sample",
    "corpus", "token", "word", "filter", "score", "model", "train"]


def _dict_col(rng, values, n):
    idx = pa.array(rng.integers(0, len(values), n).astype(np.int32))
    return pa.DictionaryArray.from_arrays(idx, pa.array(values)).cast(pa.string())


def _fmt_col(prefix, keys, width):
    return pa.array([f"{prefix}{k:0{width}d}" for k in keys.tolist()])


def _ts(us_offsets):
    return pa.array(_EPOCH_1992 + us_offsets.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The TPC-H-shaped star schema plus ``events`` at scale factor ``sf``
    (row counts scale linearly; region and nation stay fixed)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part, n_ord, n_ev = (
        round(n * sf) for n in (150_000, 10_000, 200_000, 1_500_000, 1_000_000))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    ck = np.arange(1, n_cust + 1, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _fmt_col("Customer#", ck, 9),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _dict_col(rng, SEGMENTS, n_cust)})
    sk = np.arange(1, n_supp + 1, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _fmt_col("Supplier#", sk, 9),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(1, n_part + 1, dtype=np.int64)
    types = [" ".join(w) for w in zip(*[np.array(ws)[rng.integers(0, len(ws), n_part)]
                                        for ws in TYPE_WORDS])]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _dict_col(rng, CONTENT_WORDS, n_part),
        "p_brand": pa.array([f"Brand#{a}{b}" for a, b in zip(
            rng.integers(1, 6, n_part).tolist(), rng.integers(1, 6, n_part).tolist())]),
        "p_type": pa.array(types),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2100.0, n_part)})
    ok = np.arange(1, n_ord + 1, dtype=np.int64) * 4 - rng.integers(0, 4, n_ord)
    odate = rng.integers(0, 2400, n_ord) * _DAY_US
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, n_cust + 1, n_ord).astype(np.int64),
        "o_orderstatus": _dict_col(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 850.0, 450_000.0, n_ord),
        "o_orderdate": _ts(odate),
        "o_orderpriority": _dict_col(rng, PRIORITIES, n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_ord), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": ok[li_order],
        "l_partkey": rng.integers(1, n_part + 1, n_li).astype(np.int64),
        "l_suppkey": rng.integers(1, n_supp + 1, n_li).astype(np.int64),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _dict_col(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _dict_col(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(odate[li_order] + rng.integers(1, 122, n_li) * _DAY_US)})
    # strictly increasing timestamps: as-of joins and rolling windows over
    # ts are then deterministic (no ties)
    ev_ts = np.cumsum(rng.integers(1, 120, n_ev)) * 1_000_000 + 6 * 365 * _DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(n_ev // 20, 10), n_ev).astype(np.int64),
        "event_type": _dict_col(rng, EVENT_TYPES, n_ev),
        "value": rng.integers(0, 1000, n_ev).astype(np.float64),
        "props": _dict_col(rng, ['{"k": 1}', '{"k": 2}', '{}'], n_ev)})
    return t


def expanded_facts(seed: int, copies: int):
    """Yield (table, copy, arrow table) for the x``copies`` key-offset
    expansion of lineitem/orders; copy j of both tables shares
    one key offset, so every copy joins only within itself."""
    base = base_tables(seed)
    span = int(pc.max(base["orders"]["o_orderkey"]).as_py()) + 1
    for j in range(copies):
        for name, key in (("lineitem", "l_orderkey"), ("orders", "o_orderkey")):
            tb = base[name]
            col = pc.add(tb[key], pa.scalar(j * span, pa.int64()))
            yield name, j, tb.set_column(tb.schema.get_field_index(key), key, col)


# ------------------------------------------------------------------ corpus
def _doc_kind_words(rng, kind: str) -> list[str]:
    if kind == "good":
        n = int(rng.integers(60, 120))
    elif kind == "short":
        n = int(rng.integers(12, 45))
    else:
        n = int(rng.integers(55, 100))
    words = list(np.array(CONTENT_WORDS)[rng.integers(0, len(CONTENT_WORDS), n)])
    if kind != "nostop":
        for pos in rng.choice(n, size=max(n // 6, 3), replace=False):
            words[pos] = STOPWORDS[int(rng.integers(0, len(STOPWORDS)))]
    if kind == "symbol":
        for pos in rng.choice(n, size=n // 5, replace=False):
            words[pos] = "#"
    elif kind == "numeric":
        for pos in rng.choice(n, size=n // 3, replace=False):
            words[pos] = str(int(rng.integers(10, 99999)))
    return words


def base_corpus(seed: int, n_docs: int):
    """``n_docs`` generated documents (as token lists) plus the planted
    duplicates.  Returns (tokens, langs, sources, truth) where truth holds
    the planted exact/near duplicate positions (0-based, within the base)."""
    rng = np.random.default_rng([seed, 2])
    kinds = rng.choice(["good", "short", "symbol", "numeric", "nostop"],
                       size=n_docs, p=[0.75, 0.1, 0.05, 0.05, 0.05])
    docs = [_doc_kind_words(rng, k) for k in kinds]
    for i in rng.choice(n_docs, size=n_docs // 10, replace=False):
        pii = (f"mail{int(rng.integers(0, 10**6))}@example.org"
               if rng.random() < 0.5 else
               f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}")
        docs[i].insert(int(rng.integers(0, len(docs[i]))), pii)
    good = np.flatnonzero(kinds == "good")
    n_plant = max(n_docs // 50, 2)
    picks = rng.choice(good, size=2 * n_plant, replace=False)
    exact_src, near_src = picks[:n_plant], picks[n_plant:]
    exact_pos, near_pos = [], []
    for src in exact_src:
        exact_pos.append(len(docs))
        docs.append(list(docs[src]))
    for src in near_src:
        near_pos.append(len(docs))
        docs.append(list(docs[src]) + ["zzplant", "zzcopy"])
    n = len(docs)
    langs = rng.choice(["en", "de", "fr", "es", "zh"], size=n).tolist()
    sources = [f"src{i}" for i in rng.integers(0, 5, n).tolist()]
    truth = {"exact": [int(p) for p in exact_pos], "near": [int(p) for p in near_pos],
             "exact_src": [int(p) for p in exact_src],
             "near_src": [int(p) for p in near_src]}
    return docs, langs, sources, truth


def _copy_code(j: int) -> str:
    code = ""
    while True:
        code = chr(ord("a") + j % 26) + code
        j = j // 26 - 1
        if j < 0:
            return "x" + code


def corpus_copy(docs, j: int):
    """Texts of isomorphic copy j: content words get a per-copy suffix."""
    if j == 0:
        return [" ".join(d) for d in docs]
    sfx = _copy_code(j)
    stop = set(STOPWORDS)
    return [" ".join(w if (w in stop or not w.isalpha()) else w + sfx for w in d)
            for d in docs]


# ------------------------------------------------------------------ writers
def _write(tb: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(tb, path)


def _ready(dst: str) -> dict | None:
    try:
        with open(os.path.join(dst, "manifest.json")) as f:
            m = json.load(f)
    except (OSError, ValueError):
        return None
    return m if m.get("version") == GEN_VERSION else None


def _finish(dst: str, manifest: dict) -> dict:
    manifest["version"] = GEN_VERSION
    with open(os.path.join(dst, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def _fresh(dst: str) -> None:
    if os.path.isdir(dst):
        shutil.rmtree(dst)
    os.makedirs(dst)


def make_star(dst: str, seed: int, sf: float) -> dict:
    """Single-file star schema + events at scale factor ``sf``."""
    m = _ready(dst)
    if m is not None:
        return m
    _fresh(dst)
    rows = {}
    for name, tb in base_tables(seed, sf).items():
        _write(tb, os.path.join(dst, f"{name}.parquet"))
        rows[name] = tb.num_rows
    return _finish(dst, {"rows": rows})


def make_etl(dst: str, seed: int, copies: int) -> dict:
    """x``copies`` lineitem/orders (one file per copy, so scans split
    across cores) + 1x dimension tables."""
    m = _ready(dst)
    if m is not None:
        return m
    _fresh(dst)
    rows = {"lineitem": 0, "orders": 0}
    for name, j, tb in expanded_facts(seed, copies):
        _write(tb, os.path.join(dst, f"{name}.parquet", f"part-{j:05d}.parquet"))
        rows[name] += tb.num_rows
    for name, tb in base_tables(seed).items():
        if name not in rows and name != "events":
            _write(tb, os.path.join(dst, f"{name}.parquet"))
            rows[name] = tb.num_rows
    return _finish(dst, {"rows": rows})


def make_corpus(dst: str, seed: int, base_docs: int, copies: int) -> dict:
    """x``copies`` isomorphic documents corpus, one file per copy."""
    m = _ready(dst)
    if m is not None:
        return m
    _fresh(dst)
    docs, langs, sources, truth = base_corpus(seed, base_docs)
    n = len(docs)
    for j in range(copies):
        texts = corpus_copy(docs, j)
        tb = pa.table({
            "doc_id": np.arange(n, dtype=np.int64) + j * n,
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array(sources),
            "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
        _write(tb, os.path.join(dst, "documents.parquet", f"part-{j:05d}.parquet"))
    ids = {k: sorted(int(p + j * n) for j in range(copies) for p in v)
           for k, v in truth.items()}
    return _finish(dst, {"rows": {"documents": n * copies}, "planted": ids})


def generate(work: str, workload: str, seed: int, shape: dict) -> tuple[dict, float]:
    """Make (or reuse) the inputs of one workload; returns their manifest
    (with the input directory under "dir") and the seconds it took."""
    t0 = time.perf_counter()
    root = os.path.join(work, "data")
    if workload == "interactive":
        d = os.path.join(root, f"star-sf{shape['sf']}-s{seed}")
        m = make_star(d, seed, shape["sf"])
    elif workload == "etl_batch":
        d = os.path.join(root, f"etl-x{shape['copies']}-s{seed}")
        m = make_etl(d, seed, shape["copies"])
    elif workload == "corpus_curation":
        d = os.path.join(root, f"corpus-{shape['base_docs']}x{shape['copies']}-s{seed}")
        m = make_corpus(d, seed, shape["base_docs"], shape["copies"])
    else:
        raise ValueError(f"unknown workload {workload!r}")
    return dict(m, dir=d), time.perf_counter() - t0
