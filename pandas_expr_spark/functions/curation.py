"""Corpus-curation operators for LLM training-data pipelines: rule-based
quality filtering (Gopher-style document rules), a logistic quality
scorer, and token-budget source mixing.

The reference engine (phofl/pandas-expr) stops at generic frame ops; these
extend the LLM battery (``text``/``dedup``/``splits``) with the curation
steps a 100 TB pretraining pipeline runs between "raw crawl" and
"training mix":

* **Rule filters** (`gopher_rules`) — the public document-level heuristics
  from the Gopher corpus paper (Rae et al. 2021, §A1.1): word-count
  bounds, mean-word-length bounds, symbol-to-word ratio, alphabetic-word
  fraction, stop-word evidence.  Pure JVM column expressions — a narrow
  map over the corpus, no shuffle, exactly reproducible in ANSI SQL.
* **Model-based scoring** (`quality_logit`) — a linear-in-features
  logistic scorer (the shape of fastText/CCNet-style quality classifiers)
  with fixed public-heuristic weights; swap the weight vector for a
  trained one without changing the plan.  Still a narrow JVM map.
* **Token-budget mixing** (`budget_sample`) — "take N tokens per source,
  deterministically".  The naive plan (per-source window cumsum) puts an
  entire source in ONE task — the classic skew killer when a source is
  10 TB.  Here: a two-phase hash-histogram plan (see the function
  docstring) whose only per-row work is a hash + broadcast-join lookup.

Everything is md5/deterministic — no RNG — so results are stable across
runs, cluster sizes, and engines (DuckDB-checkable bit-for-bit).
"""

from __future__ import annotations

from typing import Mapping

from pyspark.sql import Column, DataFrame as SparkDF, Window, functions as F

from pandas_expr_spark.functions import text as _text
from pandas_expr_spark.functions.splits import hash_bucket

__all__ = ["gopher_rules", "quality_logit", "budget_sample", "epoch_sample",
           "hashed_ngram_counts", "dsir_logweights", "dsir_select",
           "fit_logit", "logit_score",
           "length_outlier_bounds", "flag_length_outliers",
           "temperature_caps", "temperature_scale_for_budget",
           "temperature_mix"]


# Gopher §A1.1 thresholds (public paper values)
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_WORD_FRAC = 0.8
GOPHER_MIN_STOPWORD_HITS = 2

# the Gopher stop-word evidence list (paper uses a small English set)
_GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def _occurrences(c: Column, token: str) -> Column:
    """Count of a literal substring, JVM-side (no regex)."""
    return ((F.length(c) - F.length(F.replace(c, F.lit(token), F.lit(""))))
            / F.lit(len(token))).cast("long")


def gopher_rules(col: Column | str) -> list[Column]:
    """Gopher-style document quality flags as named columns:

    ``n_words``, ``mean_word_len``, and one boolean per rule
    (``r_word_count``, ``r_mean_len``, ``r_symbol``, ``r_alpha``,
    ``r_stopwords``) plus the conjunction ``passes_gopher``.

    All pure ``F.*`` expressions over ONE let-bound tokenization (the
    token array is computed once per row via the 1-element-transform
    let-binding trick, which projection collapse cannot inline — not once
    per referencing rule).
    A 100 TB corpus pays exactly one narrow map stage.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = _text.word_tokens(c)

    def _rules(t):
        n = F.size(t)
        total_len = F.aggregate(t, F.lit(0), lambda a, x: a + F.length(x))
        mean_len = F.when(n > 0, total_len / n).otherwise(F.lit(0.0))
        # symbols: '#' occurrences + '...' runs, per word
        sym = _occurrences(c, "#") + _occurrences(c, "...")
        sym_ratio = F.when(n > 0, sym / n).otherwise(F.lit(0.0))
        alpha_frac = F.when(
            n > 0,
            F.size(F.filter(t, lambda x: x.rlike("[A-Za-z]"))) / n
        ).otherwise(F.lit(0.0))
        stop_hits = F.size(F.array_intersect(
            F.transform(t, F.lower),
            F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])))
        return F.struct(
            n.cast("long").alias("n_words"),
            F.round(mean_len, 4).alias("mean_word_len"),
            n.between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS).alias("r_word_count"),
            mean_len.between(GOPHER_MIN_MEAN_WORD_LEN,
                             GOPHER_MAX_MEAN_WORD_LEN).alias("r_mean_len"),
            (sym_ratio <= GOPHER_MAX_SYMBOL_RATIO).alias("r_symbol"),
            (alpha_frac >= GOPHER_MIN_ALPHA_WORD_FRAC).alias("r_alpha"),
            (stop_hits >= GOPHER_MIN_STOPWORD_HITS).alias("r_stopwords"),
        )

    s = F.element_at(F.transform(F.array(toks), _rules), 1)
    fields = ["n_words", "mean_word_len", "r_word_count", "r_mean_len",
              "r_symbol", "r_alpha", "r_stopwords"]
    out = [s[f].alias(f) for f in fields]
    passes = (s["r_word_count"] & s["r_mean_len"] & s["r_symbol"]
              & s["r_alpha"] & s["r_stopwords"]).alias("passes_gopher")
    return out + [passes]


# fixed public-heuristic weights: reward stop-word density and 3-8 char
# mean word length; penalize punctuation/digit noise.  A trained
# fastText/CCNet-style classifier drops in by replacing these numbers —
# the plan shape (one narrow JVM map) is identical.
_LOGIT_WEIGHTS = {
    "bias": -1.0,
    "stopword_ratio": 6.0,
    "punct_ratio": -8.0,
    "digit_ratio": -4.0,
    "mean_len_centered": -0.5,   # |mean_word_len - 5.5|
    "log_len": 0.25,             # ln(1 + n_chars)
}


def quality_logit(col: Column | str,
                  weights: dict[str, float] | None = None) -> Column:
    """Logistic quality score in (0, 1): sigmoid of a linear model over
    JVM-extracted text features (stop-word ratio, punctuation ratio,
    digit ratio, centered mean word length, log length)."""
    c = F.col(col) if isinstance(col, str) else col
    w = weights or _LOGIT_WEIGHTS
    z = (F.lit(w["bias"])
         + F.lit(w["stopword_ratio"]) * _text.stopword_ratio(c)
         + F.lit(w["punct_ratio"]) * _text.punct_ratio(c)
         + F.lit(w["digit_ratio"]) * _text.digit_ratio(c)
         + F.lit(w["mean_len_centered"])
         * F.abs(_text.avg_token_len(c) - F.lit(5.5))
         + F.lit(w["log_len"]) * F.log1p(F.length(c)))
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))


def budget_sample(sdf: SparkDF, budget: int, token_col: Column | str,
                  source_col: str = "source", key_col: str = "doc_id",
                  salt: str = "", n_buckets: int = 1024) -> SparkDF:
    """Deterministic token-budget sampling per source: order each source's
    documents by md5(key), keep the prefix whose running token total stays
    ≤ ``budget``.  Greedy-prefix semantics — reproducible across runs and
    engines (the oracle is a SQL window cumsum).

    Scale design — the naive per-source window cumsum sorts EVERY row of a
    source in one task (a 10 TB source = one 10 TB task).  Instead:

    1. hash every row to one of ``n_buckets`` ordered buckets
       (first 8 md5 hex chars, like ``splits.hash_bucket``);
    2. aggregate a (source, bucket) token histogram — tiny (sources ×
       buckets rows), map-side combined;
    3. cumsum the histogram per source (window over the TINY table),
       giving each bucket's exclusive prefix total;
    4. every bucket whose inclusive total ≤ budget is taken whole
       (broadcast semi join — no sort of the big side at all);
    5. only the single boundary bucket per source (~1/n_buckets of the
       data) is sorted exactly: window cumsum within (source, bucket) by
       (md5, key), kept while prefix + running ≤ budget.

    The big table is touched by: one narrow hash projection, one partial
    aggregation, one broadcast join, and a window over 1/n_buckets of one
    bucket — no full sort, no skewed partition.
    """
    tok = F.col(token_col) if isinstance(token_col, str) else token_col
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(salt)))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
              % n_buckets)
    base = sdf.withColumn("__h__", h).withColumn("__b__", bucket) \
              .withColumn("__tok__", tok.cast("long"))

    hist = (base.groupBy(source_col, "__b__")
            .agg(F.sum("__tok__").alias("__btok__")))
    wh = (Window.partitionBy(source_col).orderBy("__b__")
          .rowsBetween(Window.unboundedPreceding, 0))
    hist = hist.withColumn("__cum__", F.sum("__btok__").over(wh)) \
               .withColumn("__prev__", F.col("__cum__") - F.col("__btok__"))
    # materialize the TINY histogram once — both the full-bucket and the
    # boundary branch broadcast from it; without this each branch re-runs
    # the full aggregation pass over the big table (verified in the plan)
    hist = hist.localCheckpoint(eager=False)

    full = hist.filter(F.col("__cum__") <= budget) \
               .select(source_col, "__b__")
    taken_full = base.join(F.broadcast(full), [source_col, "__b__"],
                           "left_semi")

    boundary = hist.filter((F.col("__cum__") > budget)
                           & (F.col("__prev__") < budget)) \
                   .select(source_col, "__b__",
                           (F.lit(budget) - F.col("__prev__"))
                           .alias("__room__"))
    wb = (Window.partitionBy(source_col, "__b__").orderBy("__h__", key_col)
          .rowsBetween(Window.unboundedPreceding, 0))
    taken_boundary = (base.join(F.broadcast(boundary),
                                [source_col, "__b__"])
                      .withColumn("__run__", F.sum("__tok__").over(wb))
                      .filter(F.col("__run__") <= F.col("__room__"))
                      .drop("__room__", "__run__"))

    return (taken_full.unionByName(taken_boundary)
            .drop("__h__", "__b__", "__tok__"))


def epoch_sample(sdf: SparkDF, factor: Column, key_col: str = "doc_id",
                 epoch_col: str = "epoch", salt: str = "") -> SparkDF:
    """Deterministic per-row replication by a fractional factor — the
    "N epochs of source X" mixing op of pretraining-data recipes
    (factor 2.3 → every row appears twice, plus a 30% deterministic
    subset a third time).

    ``factor`` is a per-row Column (typically a CASE over the source).
    Replica ``e < floor(f)`` is always kept; the boundary replica
    ``e = floor(f)`` survives iff the row's md5 bucket (salted with the
    replica number, so successive fractional draws are independent)
    falls under ``frac(f)``.  No RNG — the sample is reproducible across
    runs, engines and partitionings, and the same document always gets
    the same replicas (incremental reprocessing-safe).

    Scale: one narrow projection + one generator (``explode``) whose
    output is exactly the mixed dataset — no shuffle at all.  Keep the
    factor expression CHEAP: columns projected next to a generator are
    re-evaluated per exploded row (measured trap — see NOTES).
    """
    f = factor.cast("double")
    # sequence(0, n) is DESCENDING when n < 0 — clamp, then let the keep
    # filter drop the spurious epoch-0 row of factor-0 rows
    top = F.greatest(F.ceil(f).cast("long") - 1, F.lit(0))
    e = F.col(epoch_col)
    out = (sdf.withColumn("__f__", f)
           .withColumn(epoch_col, F.explode(F.sequence(F.lit(0), top)))
           .withColumn("__full__", F.floor(F.col("__f__")).cast("long")))
    frac_bucket = hash_bucket(
        F.concat(F.col(key_col).cast("string"), F.lit("#"),
                 e.cast("string")), salt=salt)
    keep = (e < F.col("__full__")) | (
        (e == F.col("__full__"))
        & (frac_bucket
           < (F.col("__f__") - F.col("__full__")) * F.lit(1_000_000)))
    return out.filter(keep).drop("__f__", "__full__")


def length_outlier_bounds(sdf: SparkDF, value_col: str = "n_chars",
                          by: str = "source", k: float = 1.5) -> SparkDF:
    """Per-group Tukey outlier bounds: ``[q1 - k*IQR, q3 + k*IQR]`` from
    EXACT quantiles (linear interpolation, percentile_cont semantics).
    One aggregation shuffle on the group key; the bounds table is
    group-cardinality-sized (broadcastable)."""
    pct = F.percentile(F.col(value_col), F.array(F.lit(0.25), F.lit(0.75)))
    return (sdf.groupBy(by)
            .agg(pct.alias("__q__"),
                 F.count(F.lit(1)).alias("n_rows"))
            .select(by, "n_rows",
                    (F.col("__q__")[0] - k * (F.col("__q__")[1] - F.col("__q__")[0])).alias("lo"),
                    (F.col("__q__")[1] + k * (F.col("__q__")[1] - F.col("__q__")[0])).alias("hi")))


def flag_length_outliers(sdf: SparkDF, value_col: str = "n_chars",
                         by: str = "source", k: float = 1.5) -> SparkDF:
    """Tag rows outside their group's Tukey fence (`is_len_outlier`).
    The bounds side is tiny → broadcast hash join, corpus not shuffled."""
    bounds = length_outlier_bounds(sdf, value_col, by, k)
    joined = sdf.join(F.broadcast(bounds.drop("n_rows")), on=by, how="left")
    flag = (F.col(value_col) < F.col("lo")) | (F.col(value_col) > F.col("hi"))
    return joined.withColumn("is_len_outlier", F.coalesce(flag, F.lit(False)))


def temperature_caps(counts: dict, alpha: float, scale: float) -> dict:
    """Per-source document quotas for temperature-flattened mixing
    (XLM-R / UniMax style): ``cap_i = min(n_i, round(scale * n_i**alpha))``.
    ``alpha < 1`` flattens the source distribution (upweights small
    sources relative to mega-sources); ``scale`` sets the absolute
    budget.  Pure driver arithmetic over the tiny source histogram —
    deterministic and reproducible in ANSI SQL (the gate's oracle
    recomputes the same formula with LEAST/ROUNDBANKERS)."""
    return {g: min(int(n), int(round(scale * float(n) ** alpha)))
            for g, n in counts.items()}


def temperature_scale_for_budget(counts: dict, alpha: float,
                                 budget: int) -> float:
    """Largest ``scale`` whose temperature caps sum to ≤ ``budget`` —
    bisection over the tiny histogram (driver-side; the capped sum is a
    step function, 60 iterations pin it well past float resolution)."""
    lo, hi = 0.0, max((budget / max(float(n) ** alpha, 1.0)
                       for n in counts.values()), default=1.0) + 1.0
    for _ in range(60):
        mid = (lo + hi) / 2
        took = sum(temperature_caps(counts, alpha, mid).values())
        if took <= budget:
            lo = mid
        else:
            hi = mid
    return lo


def temperature_mix(sdf: SparkDF, alpha: float = 0.5,
                    scale: float | None = None,
                    budget: int | None = None,
                    source_col: str = "source",
                    key_col: str = "doc_id") -> SparkDF:
    """Temperature-flattened source mixing: keep
    ``min(n_i, round(scale * n_i**alpha))`` docs per source, chosen by
    md5 hash order of the key (deterministic, engine-portable).

    Plan: ONE tiny source histogram (map-side combined, collected —
    sources are dozens, never data-sized), driver cap arithmetic, then
    the md5-prefix two-phase cap (``urls.cap_per_group``): whole hash
    buckets kept via broadcast semi join, one boundary-bucket window per
    source — no mega-source ever sorts in a single task.  Pass either
    ``scale`` directly (exactly SQL-reproducible) or ``budget`` (scale
    solved by driver bisection)."""
    if (scale is None) == (budget is None):
        raise ValueError("temperature_mix: pass exactly one of "
                         "scale= or budget=")
    from .urls import cap_per_group
    counts = {r[0]: r[1] for r in
              sdf.groupBy(source_col).count().collect()}
    if scale is None:
        scale = temperature_scale_for_budget(counts, alpha, budget)
    caps = temperature_caps(counts, alpha, scale)
    return cap_per_group(sdf, caps, source_col, key_col)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169).  Select raw-corpus documents whose hashed-n-gram
# distribution looks like a target corpus: fit bag-of-hashed-ngrams
# multinomials p (target) and q (raw), weight every raw doc by
# log w(x) = Σ_b c_b(x) · (log p_b − log q_b), then take the top-k
# (optionally with Gumbel noise — the paper's importance *resampling*).
# ---------------------------------------------------------------------------

def hashed_ngram_counts(sdf: SparkDF, text_col: str = "text",
                        id_col: str = "doc_id", buckets: int = 10_000,
                        bigrams: bool = True,
                        keep_col: str | None = None) -> SparkDF:
    """Per-document hashed n-gram feature counts: (id, bucket, count).

    Whitespace unigrams (+ word bigrams) hashed into ``buckets`` via the
    first 8 md5 hex chars — the same engine-portable hash as
    ``splits.hash_bucket``, so DuckDB reproduces the features exactly.
    One explode → one map-side-combined hash agg; the corpus text is
    touched once and never shuffled (only (id, bucket) pairs are).
    ``keep_col`` carries one per-document flag column through (grouped
    with ``first`` — constant per id)."""
    t = _text.word_tokens(text_col)
    grams = t
    if bigrams:
        sz = F.size(t)
        bi = F.transform(
            F.slice(t, F.lit(1), F.greatest(sz - 1, F.lit(0))),
            lambda x, i: F.concat(x, F.lit(" "),
                                  F.element_at(t, i + F.lit(2))))
        grams = F.concat(t, bi)
    extra = [F.col(keep_col)] if keep_col else []
    g = sdf.select(F.col(id_col), *extra, F.explode(grams).alias("__g__"))
    bucket = (F.conv(F.substring(F.md5(F.col("__g__")), 1, 8), 16, 10)
              .cast("bigint") % buckets)
    aggs = [F.count(F.lit(1)).alias("__cnt__")]
    if keep_col:
        aggs.append(F.first(keep_col).alias(keep_col))
    return (g.select(id_col, *extra, bucket.alias("__bkt__"))
            .groupBy(id_col, "__bkt__")
            .agg(*aggs))


def dsir_logweights(raw: SparkDF, target: SparkDF | None,
                    text_col: str = "text",
                    id_col: str = "doc_id", buckets: int = 10_000,
                    bigrams: bool = True, smoothing: float = 1.0,
                    target_filter: Column | None = None) -> SparkDF:
    """Per-raw-document DSIR importance log-weight → (id_col, logweight).

    Scale shape: both corpora reduce to bucket histograms (≤ ``buckets``
    rows — KBs, independent of corpus size); the log-likelihood-ratio
    table is built from their outer join and BROADCAST back onto the
    raw docs' (id, bucket) features; one groupBy(id) sum finishes.  The
    100 TB corpus is read once, shuffled only as (id, bucket) pairs.
    Deterministic — no RNG, exactly reproducible in ANSI SQL.

    When the target IS a subset of raw (the common curation case), pass
    ``target_filter=`` (a boolean Column over raw's columns) instead of
    ``target``: the corpus text is then featurized ONCE and both
    histograms derive from the same (id, bucket) table — halving the
    dominant cost."""
    if target_filter is not None:
        flagged = raw.withColumn("__tgt__", target_filter)
        feats = hashed_ngram_counts(flagged, text_col, id_col, buckets,
                                    bigrams, keep_col="__tgt__")
        feats = feats.localCheckpoint(eager=False)
        # ONE histogram pass (optimization r8): q (all docs) and p
        # (target docs) are the same groupBy with a conditional sum —
        # the old two-aggregate + full-outer-join shape paid a second
        # pass over `feats` and a tiny SortMergeJoin FullOuter (full
        # outer can never broadcast) for buckets the single aggregate
        # already has.  p ⊆ q (target ⊆ raw), so `when(tgt)` sums the
        # identical int64s and a target-less bucket yields NULL exactly
        # where the outer join did.
        hist = (feats.groupBy("__bkt__")
                .agg(F.sum("__cnt__").alias("__q__"),
                     F.sum(F.when(F.col("__tgt__"), F.col("__cnt__")))
                     .alias("__p__"))
                .localCheckpoint(eager=False))
    else:
        feats = hashed_ngram_counts(raw, text_col, id_col, buckets,
                                    bigrams)
        feats = feats.localCheckpoint(eager=False)  # q-hist + scoring
        tfeat = hashed_ngram_counts(target, text_col, id_col, buckets,
                                    bigrams)
        q_hist = feats.groupBy("__bkt__").agg(
            F.sum("__cnt__").alias("__q__"))
        p_hist = tfeat.groupBy("__bkt__").agg(
            F.sum("__cnt__").alias("__p__"))
        hist = (p_hist.join(q_hist, "__bkt__", "full_outer")
                .localCheckpoint(eager=False))
    # ZERO driver round trips (optimization r8): the histogram totals
    # enter the plan as a broadcast 1-row cross join instead of a
    # collect()ed literal — the whole log-weight computation is now one
    # lazy plan (at toy scale that deletes a dedicated Spark job; at
    # 100 TB it deletes a driver sync point).  IEEE-identical: the
    # totals are exact int64 sums (order-independent), and
    # bigint + double follows the same float64 widening the old
    # Python-side `pn + smoothing * buckets` literal did.
    totals = hist.agg(
        F.coalesce(F.sum("__q__"), F.lit(0)).alias("__qn__"),
        F.coalesce(F.sum("__p__"), F.lit(0)).alias("__pn__"))
    sm_b = float(smoothing * buckets)
    llr = (hist.crossJoin(F.broadcast(totals))
           .select("__bkt__",
                   (F.log((F.coalesce("__p__", F.lit(0)) + smoothing)
                          / (F.col("__pn__") + F.lit(sm_b)))
                    - F.log((F.coalesce("__q__", F.lit(0)) + smoothing)
                            / (F.col("__qn__") + F.lit(sm_b))))
                   .alias("__llr__")))
    scored = (feats.join(F.broadcast(llr), "__bkt__")
              .groupBy(id_col)
              .agg(F.sum(F.col("__cnt__") * F.col("__llr__"))
                   .alias("logweight")))
    return scored


def dsir_select(raw: SparkDF, target: SparkDF | None, k: int,
                text_col: str = "text", id_col: str = "doc_id",
                buckets: int = 10_000, bigrams: bool = True,
                smoothing: float = 1.0, seed: int | None = None,
                target_filter: Column | None = None) -> SparkDF:
    """Top-``k`` raw documents by DSIR weight, joined back to their rows
    (adds a ``logweight`` column).  ``seed=`` adds the paper's Gumbel
    perturbation — g = −ln(−ln(u)) with u drawn deterministically from
    md5(id ‖ seed), so resampling is reproducible across runs, cluster
    sizes, and engines.  The top-k lowers to TakeOrderedAndProject (no
    global sort); the winner set (k rows) broadcast-joins back."""
    w = dsir_logweights(raw, target, text_col, id_col, buckets, bigrams,
                        smoothing, target_filter=target_filter)
    key = F.col("logweight")
    if seed is not None:
        h = F.md5(F.concat(F.col(id_col).cast("string"),
                           F.lit(f"|dsir{seed}")))
        u = ((F.conv(F.substring(h, 1, 8), 16, 10).cast("double")
              + F.lit(0.5)) / F.lit(float(1 << 32)))
        key = key + (-F.log(-F.log(u)))
    top = (w.withColumn("__key__", key)
           .orderBy(F.col("__key__").desc(), F.col(id_col))
           .limit(k)
           .select(id_col, "logweight"))
    return raw.join(F.broadcast(top), id_col)


# ---------------------------------------------------------------------------
# Distributed logistic-regression training — turns quality_logit's fixed
# public-heuristic weights into a TRAINED scorer (the fastText/CCNet
# quality-classifier shape) without leaving Spark.
# ---------------------------------------------------------------------------

def fit_logit(sdf: SparkDF, label_col: str, feature_cols: list[str],
              lr: float = 0.5, iters: int = 50,
              l2: float = 0.0) -> dict[str, float]:
    """Batch-gradient logistic regression, fully distributed: per
    iteration the CURRENT weights enter as literals, the gradient is ONE
    hash aggregation of len(features)+1 cells (map-side combined — KBs
    regardless of corpus size), and the driver takes the step.  The
    input is materialized once up front so ``iters`` iterations don't
    re-execute the upstream plan.

    Features should be roughly unit-scale (standardize upstream).
    Returns {"bias": b, feature: w, ...} — plug into a sigmoid scorer or
    ``quality_logit(weights=)`` when the features match."""
    import math
    par = sdf.sparkSession.sparkContext.defaultParallelism
    proj = sdf.select(F.col(label_col).cast("double").alias("__y__"),
                      *[F.col(c).cast("double").alias(f"__f{i}__")
                        for i, c in enumerate(feature_cols)])
    if proj.rdd.getNumPartitions() < par:
        proj = proj.repartition(par)
    # LAZY checkpoint (optimization r8): the first iteration's gradient
    # aggregate is the materializing action (a full scan), so the input
    # is still cached once before the loop — one job saved vs eager.
    proj = proj.localCheckpoint(eager=False)
    k = len(feature_cols)
    w = [0.0] * k
    b = 0.0
    for _ in range(iters):
        z = F.lit(b)
        for i in range(k):
            z = z + F.lit(w[i]) * F.col(f"__f{i}__")
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        err = p - F.col("__y__")
        row = proj.agg(
            F.avg(err).alias("g_b"),
            *[F.avg(err * F.col(f"__f{i}__")).alias(f"g_{i}")
              for i in range(k)]).collect()[0]
        b -= lr * float(row["g_b"])
        for i in range(k):
            w[i] -= lr * (float(row[f"g_{i}"]) + l2 * w[i])
    out = {"bias": b}
    out.update({c: w[i] for i, c in enumerate(feature_cols)})
    return out


def logit_score(weights: Mapping[str, float],
                feature_cols: list[str] | None = None) -> Column:
    """Sigmoid scorer Column from ``fit_logit`` weights — a narrow JVM
    map over the feature columns."""
    cols = feature_cols or [c for c in weights if c != "bias"]
    z = F.lit(float(weights["bias"]))
    for c in cols:
        z = z + F.lit(float(weights[c])) * F.col(c).cast("double")
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
