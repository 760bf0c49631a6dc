"""Round-7 randomized differential hunt: LABELS and ORDER through random
op pipelines, engine vs pandas — the r6 verdict's ask #4 targets plus the
new in-scan label machinery.

Unlike hunt_prop.py, the terminal compares BOTH values and the row-label
sequence (`.index.tolist()`), so silent label drift is a failure.

Targets: the sort node's TopK hint (read by head/tail only while the
frame still reads the sort's plan: mutation after sort, astype/rename/copy
of a sorted frame, groupby on a sorted frame), _ORDER arithmetic
(concat-of-concat, melt-of-sorted), label promotion/resurrection
(filter→reset→filter, dedup→binop, sample→filter), Series dedup order.

Run: python scripts/hunt_prop_r7.py [n_cases] [seed ...]
"""
from __future__ import annotations

import random
import sys
import traceback

sys.path.insert(0, "/root/repo")

import numpy as np
import pandas as pd

import pandas_expr_spark as pes


def rand_frame(rng: random.Random) -> pd.DataFrame:
    n = rng.randint(2, 14)
    return pd.DataFrame({
        "g": [rng.choice("abc") for _ in range(n)],
        "v": [np.nan if rng.random() < 0.18
              else round(rng.uniform(-9, 9), 3) for _ in range(n)],
        "i": [rng.randint(-5, 5) for _ in range(n)],
    })


def _is_eng(d):
    return not isinstance(d, (pd.DataFrame, pd.Series))


def _concat(parts, **kw):
    if _is_eng(parts[0]):
        return pes.concat(parts, **kw)
    return pd.concat(parts, **kw)


# ops chosen to stress label/order machinery; each must behave
# identically on engine and pandas objects
OPS = [
    ("filter_pos", lambda d, r: d[d["i"] > r.randint(-2, 2)]),
    ("dropna", lambda d, r: d.dropna()),
    ("head", lambda d, r: d.head(r.randint(2, 9))),
    ("tail", lambda d, r: d.tail(r.randint(2, 9))),
    ("sort_v", lambda d, r: d.sort_values("v", na_position="last", kind="stable")),
    ("sort_ig", lambda d, r: d.sort_values(
        ["i", "g"], ascending=[False, True], kind="stable")),
    ("sort_ignore", lambda d, r: d.sort_values("i", ignore_index=True, kind="stable")),
    ("reset_drop", lambda d, r: d.reset_index(drop=True)),
    ("dedup_g", lambda d, r: d.drop_duplicates(subset=["g"])),
    ("dedup_keep_last", lambda d, r: d.drop_duplicates(
        subset=["g"], keep="last")),
    ("assign", lambda d, r: d.assign(w=d["v"].fillna(0) * 2)),
    ("astype", lambda d, r: d.astype({"i": "float64"})),
    ("rename", lambda d, r: d.rename(columns={"v": "v"})),
    ("project", lambda d, r: d[["g", "v", "i"]]),
    ("copy", lambda d, r: d.copy()),
    ("concat_self", lambda d, r: _concat([d, d])),
    ("concat_ignore", lambda d, r: _concat([d, d], ignore_index=True)),
    ("fillna", lambda d, r: d.fillna(-1.0)),
    ("nlargest", lambda d, r: d.nlargest(3, "i")),
    ("filter_after", lambda d, r: d[d["g"] != "c"]),
    # r7 continuation: the query/iloc/where family
    ("query", lambda d, r: d.query("i >= 0")),
    ("iloc_slice", lambda d, r: d.iloc[1:9]),
    ("iloc_step", lambda d, r: d.iloc[::2]),
    ("iloc_rev", lambda d, r: d.iloc[::-1]),
    ("where", lambda d, r: d.assign(v=d["v"].where(d["i"] > 0))),
    ("set_reset", lambda d, r: d.set_index("g").reset_index()),
    ("rename_rt", lambda d, r: d.rename(columns={"v": "vv"})
                                .rename(columns={"vv": "v"})),
]

# terminal ops that exercise sort-fuse / groupby-on-fused states
TAIL_OPS = [
    ("none", None),
    ("sorted_head", lambda d, r: d.sort_values("v", kind="stable").head(3)),
    ("sorted_tail", lambda d, r: d.sort_values("i", kind="stable").tail(3)),
    ("grp_after", lambda d, r: d.assign(
        gs=d.groupby("g")["i"].cumsum())),
    ("melt_after", lambda d, r: d[["v", "i"]].melt()),
]


def as_cmp(d):
    out = d.compute() if hasattr(d, "compute") else d
    return out


def run_case(seed: int) -> tuple[str, str]:
    rng = random.Random(seed)
    pdf = rand_frame(rng)
    depth = rng.randint(2, 5)
    steps = [OPS[rng.randrange(len(OPS))] for _ in range(depth)]
    tail = TAIL_OPS[rng.randrange(len(TAIL_OPS))]
    trace = [s[0] for s in steps] + ([tail[0]] if tail[1] else [])
    try:
        eng, ref = pes.from_pandas(pdf), pdf
        for name, fn in steps:
            r1, r2 = random.Random(seed * 7 + 1), random.Random(seed * 7 + 1)
            eng, ref = fn(eng, r1), fn(ref, r2)
        if tail[1] is not None:
            r1, r2 = random.Random(seed + 3), random.Random(seed + 3)
            eng, ref = tail[1](eng, r1), tail[1](ref, r2)
        got, exp = as_cmp(eng), ref
    except Exception:
        return "ERR", "->".join(trace) + "\n" + traceback.format_exc()
    if len(got) != len(exp):
        return "FAIL", f"{'->'.join(trace)}: len {len(got)} vs {len(exp)}"
    gi = [str(x) for x in got.index.tolist()]
    ei = [str(x) for x in exp.index.tolist()]
    if gi != ei:
        return "FAIL", (f"{'->'.join(trace)}: LABELS {gi[:8]} vs {ei[:8]}")
    for c in exp.columns:
        gv = got[c].tolist()
        ev = exp[c].tolist()
        for a, b in zip(gv, ev):
            if pd.isna(a) and pd.isna(b):
                continue
            if isinstance(b, float):
                if not np.isclose(float(a), b, rtol=1e-9, atol=1e-12):
                    return "FAIL", f"{'->'.join(trace)}: {c} {a} vs {b}"
            elif str(a) != str(b):
                return "FAIL", f"{'->'.join(trace)}: {c} {a!r} vs {b!r}"
    return "OK", ""


def main():
    args = sys.argv[1:]
    if args and len(args) > 1:
        seeds = [int(a) for a in args]
    else:
        n = int(args[0]) if args else 200
        seeds = list(range(20000, 20000 + n))
    fails = 0
    for s in seeds:
        st, detail = run_case(s)
        if st != "OK":
            fails += 1
            print(f"{st} seed={s}: {detail}")
    print(f"{len(seeds)} cases, {fails} failures")
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
