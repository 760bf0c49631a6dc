"""Text-analysis operators for large-scale training-data pipelines.

All hot-path expressions are built from ``pyspark.sql.functions`` — JVM-side,
inside whole-stage codegen, no Python roundtrip — so they scale linearly over
a 100 TB documents corpus (shuffle-free: every op here is a narrow map).

Each operator returns Column expressions / DataFrames and has an ANSI-SQL
equivalent (used by ``__spark_entry__.oracle_sql``) so results are
oracle-checkable against DuckDB.
"""

from __future__ import annotations

import string

from pyspark.sql import Column, DataFrame as SparkDF, Window, functions as F

__all__ = ["line_dedup", "token_count", "word_tokens", "char_ngrams", "word_shingles",
           "punct_ratio", "digit_ratio", "stopword_ratio", "avg_token_len",
           "quality_score", "lang_id", "lang_score", "fingerprint",
           "bpe_ish_token_count", "repetition_ratio", "zipf_fit"]

_WS = r"\s+"

# Tiny per-language marker lexicons for the n-gram/stopword language-ID
# heuristic.  (Real pipelines plug in fastText/CLD3; the operator contract —
# a deterministic text→lang Column — is what matters here.)
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "y"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}

_STOPWORDS = ["the", "a", "of", "to", "and", "is", "in", "it", "that", "for"]


def word_tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string> (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), _WS)


def token_count(col: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(word_tokens(col))


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish token estimate: count word-piece-like units with a regex that
    splits words, digit runs, and punctuation separately (a cheap, fully
    JVM-side proxy for a real BPE vocab; ~chars/4 heuristics are cruder)."""
    c = F.col(col) if isinstance(col, str) else col
    # tokens = maximal runs of letters (≤4 chars each counts 1; longer words
    # count ceil(len/4)) + digit runs + punctuation marks
    letters = F.regexp_replace(c, r"[^A-Za-z]+", " ")
    word_chars = F.length(F.regexp_replace(letters, _WS, ""))
    digits = F.length(F.regexp_replace(c, r"[^0-9]+", ""))
    puncts = F.length(F.regexp_replace(c, r"[A-Za-z0-9\s]+", ""))
    return (F.ceil(word_chars / F.lit(4.0)) + digits + puncts).cast("long")


def char_ngrams(col: Column | str, n: int = 3) -> Column:
    """Character n-gram (shingle) array — via sequence+substring, JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (n - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.substring(c, 1, 0).cast("string") +
                       c.substr(i, F.lit(n)))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct), JVM-side."""
    toks = word_tokens(col)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    return F.array_distinct(sh)


# exactly the character set of Java regex [A-Za-z0-9\s] (\s is ASCII-only)
_ALNUM_WS = string.ascii_letters + string.digits + " \t\n\x0b\f\r"


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-alphanumeric, non-space characters.

    ``translate`` (per-char map) instead of a per-char regexp_replace —
    same char set as ``[A-Za-z0-9\\s]`` but ~30% faster measured at sf0.1.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    p = F.length(F.translate(c, _ALNUM_WS, ""))
    return F.when(n > 0, p / n).otherwise(F.lit(0.0))


def digit_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    d = F.length(c) - F.length(F.regexp_replace(c, r"[0-9]", ""))
    return F.when(n > 0, d / n).otherwise(F.lit(0.0))


def stopword_ratio(col: Column | str, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are stopwords — array ops, JVM-side.

    The token array is let-bound through a 1-element transform so the
    ``split`` runs once per row, not once per reference (projection collapse
    inlines an expression at every reference, here 3×).
    """
    sw = stopwords or _STOPWORDS
    toks = word_tokens(col)

    def _ratio(t):
        hits = F.size(F.filter(t, lambda x: F.lower(x).isin(sw)))
        return F.when(F.size(t) > 0, hits / F.size(t)).otherwise(F.lit(0.0))

    return F.element_at(F.transform(F.array(toks), _ratio), 1)


def avg_token_len(col: Column | str) -> Column:
    toks = word_tokens(col)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Composite document-quality score in [0, 1]:

      0.25·len_ok + 0.25·(1 − punct_ratio·4 clipped) + 0.25·tok_len_ok
      + 0.25·(1 − stopword_excess)

    Deterministic, fully JVM-side; mirrors the length/punct/stopword-ratio
    heuristics of C4/Gopher-style quality filters.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    len_ok = F.when((n >= 100) & (n <= 10000), F.lit(1.0)).otherwise(
        F.when(n < 100, n / F.lit(100.0)).otherwise(F.lit(0.5)))
    p = punct_ratio(c)
    punct_ok = F.greatest(F.lit(0.0), F.lit(1.0) - p * 4)

    # token-derived terms share one let-bound split: a 1-element transform
    # keeps projection collapse from inlining the split per reference
    def _tok_terms(t):
        total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
        atl = F.when(F.size(t) > 0, total / F.size(t)).otherwise(F.lit(0.0))
        tok_ok = F.when((atl >= 3) & (atl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
        hits = F.size(F.filter(t, lambda x: F.lower(x).isin(_STOPWORDS)))
        sw = F.when(F.size(t) > 0, hits / F.size(t)).otherwise(F.lit(0.0))
        sw_ok = F.when(sw <= 0.4, F.lit(1.0)).otherwise(
            F.greatest(F.lit(0.0), F.lit(1.0) - (sw - 0.4)))
        return F.lit(0.25) * tok_ok + F.lit(0.25) * sw_ok

    tok_part = F.element_at(F.transform(F.array(word_tokens(c)), _tok_terms), 1)
    return F.lit(0.25) * len_ok + F.lit(0.25) * punct_ok + tok_part


def lang_score(col: Column | str, lang: str,
               markers: dict[str, list[str]] | None = None) -> Column:
    """Marker-token count for one language (JVM-side array ops)."""
    words = (markers or _LANG_MARKERS)[lang]
    toks = F.transform(word_tokens(col), F.lower)
    return F.size(F.filter(toks, lambda t: t.isin(words)))


def lang_id(col: Column | str, markers: dict[str, list[str]] | None = None) -> Column:
    """Marker-lexicon language ID: argmax of per-language marker-token counts,
    'unk' when no marker hits.  Tie-break: alphabetically first language.

    Semantics are a pure CASE cascade over the scores, so the identical logic
    is expressible in ANSI SQL (used by the DuckDB oracle):

        CASE WHEN greatest(s_a, s_b, ...) = 0 THEN 'unk'
             WHEN s_a >= s_b AND s_a >= s_c ... THEN 'a'
             WHEN s_b >= s_c ... THEN 'b' ... END
    """
    m = markers or _LANG_MARKERS
    langs = sorted(m)
    toks = F.transform(word_tokens(col), F.lower)

    # Double let-binding (1-element transforms, which projection collapse
    # cannot inline per reference): the token array is bound so the
    # split runs once per row (not once per language), and the score array is
    # bound so each per-language filter runs once (not once per cascade
    # reference).
    def _pick(t):
        score_arr = F.array(*[
            F.size(F.filter(t, lambda x: x.isin(m[lang]))) for lang in langs])

        def _cascade(s):
            scores = {lang: F.element_at(s, i + 1)
                      for i, lang in enumerate(langs)}
            result = F.when(
                F.greatest(*[scores[l] for l in langs]) == 0, F.lit("unk"))
            for i, lang in enumerate(langs[:-1]):
                cond = None
                for other in langs[i + 1:]:
                    c = scores[lang] >= scores[other]
                    cond = c if cond is None else (cond & c)
                result = result.when(cond, F.lit(lang))
            return result.otherwise(F.lit(langs[-1]))

        return F.element_at(F.transform(F.array(score_arr), _cascade), 1)

    return F.element_at(F.transform(F.array(toks), _pick), 1)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of whitespace-normalized lowercase text.
    Identical hex in DuckDB (``md5(lower(regexp_replace(trim(text), '\\s+',
    ' ', 'g')))``) → exact-dup grouping key that is oracle-checkable."""
    c = F.col(col) if isinstance(col, str) else col
    normalized = F.regexp_replace(F.lower(F.trim(c)), _WS, " ")
    return F.md5(F.encode(normalized, "UTF-8"))


def repetition_ratio(col: Column | str, n: int = 3) -> Column:
    """Within-document repetition (Gopher-style quality signal): fraction
    of duplicated word n-grams, ``1 - distinct/total``.  Pure JVM array
    expression — narrow map, no shuffle; heavily templated/spammy docs
    score high and are the standard pretraining filter target.

    Shingles are 64-bit ``xxhash64`` values of the n token strings, not
    concatenated strings: higher-order functions evaluate interpreted, and
    the slice+concat_ws shingle allocates per element — the hash variant
    measured 7.6× faster at sf0.1 with bit-identical distinct counts
    (collision odds ~d²/2⁶⁵ per doc — never at corpus doc lengths).  The
    token array is let-bound so it evaluates once per row."""
    toks = word_tokens(col)

    def inner(tb):
        total = F.greatest(F.size(tb) - (n - 1), F.lit(1))
        idx = F.sequence(F.lit(0), F.greatest(F.size(tb) - n, F.lit(0)))
        sh = F.transform(idx, lambda i: F.xxhash64(
            *[F.try_element_at(tb, (i + j + 1).cast("int"))
              for j in range(n)]))
        return (F.lit(1.0)
                - F.size(F.array_distinct(sh)).cast("double")
                / total.cast("double"))

    return F.element_at(F.transform(F.array(toks), inner), 1)

# ------------------------------------------------------------------- PII
# Patterns restricted to the regex subset valid in BOTH Java regex (Spark,
# executes JVM-side in whole-stage codegen) and RE2 (DuckDB oracle): no
# lookarounds, no backrefs.  Real pipelines extend this table; the operator
# contract — deterministic text→redacted-text / text→count Columns, narrow
# map, no shuffle — is what scales to 100 TB.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b",
}

# Redaction order: email first (an ipv4/phone pattern could otherwise match
# digit runs inside a numeric e-mail domain), then the digit patterns from
# most to least specific.
_PII_ORDER = ["email", "ssn", "ipv4", "phone"]


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII kind (``PII_PATTERNS`` key) — JVM regexp_count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PII_PATTERNS[kind]))


def redact_pii(col: Column | str, kinds: list[str] | None = None,
               token: str = "[PII]") -> Column:
    """Replace every PII match with ``token``.  Chained JVM
    ``regexp_replace`` — one narrow map over the corpus, no Python, no
    shuffle; safe to run inline in any ingest pipeline."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in (kinds if kinds is not None else _PII_ORDER):
        c = F.regexp_replace(c, PII_PATTERNS[kind], token)
    return c


__all__ += ["PII_PATTERNS", "pii_count", "redact_pii"]


def unigram_logprob(docs: SparkDF, text_col: str = "text",
                    id_col: str = "doc_id",
                    smoothing: float = 0.5) -> SparkDF:
    """Corpus-derived unigram language-model score per document — the
    shape of KenLM/CCNet perplexity quality filters, with the simplest
    real model (add-k smoothed unigrams) instead of a stubbed external
    LM.

    Two passes, both distributed:

    1. corpus unigram counts: one explode → hash-agg shuffle (map-side
       combined); the vocabulary table is (token, count) — small relative
       to the corpus, joined back BROADCAST when it fits (Spark decides
       via AQE thresholds; at web scale bucket it instead);
    2. per-doc mean log-prob: explode again → join token probabilities →
       one groupBy(doc) average.  Unseen tokens take the smoothed floor
       ``k / (N + k·(V+1))``.

    Returns (id_col, n_tokens, avg_logprob) — lower = more surprising
    under the corpus distribution (spam/gibberish shows up at both
    extremes).  Deterministic — exactly SQL-checkable."""
    toks = docs.select(F.col(id_col),
                       F.explode(word_tokens(text_col)).alias("__t__"))
    vocab = toks.groupBy("__t__").agg(F.count(F.lit(1)).alias("__c__"))
    # Corpus totals stay IN the plan as a 1-row broadcast (optimization
    # r8) instead of a driver collect: the old shape paid a separate
    # Spark job — a full extra tokenize+agg corpus pass — to fetch
    # (N, V) before the scoring plan could be built.  The smoothing
    # denominator is the same two IEEE ops (one multiply, one add) on
    # the same exact inputs, so probabilities are bit-identical;
    # Catalyst reuses the vocab aggregation's exchange between the
    # totals branch and the probs branch.
    stats = vocab.agg(
        (F.sum("__c__").cast("double")
         + F.lit(smoothing) * (F.count(F.lit(1)) + F.lit(1)))
        .alias("__denom__"))
    probs = (vocab.crossJoin(F.broadcast(stats))
             .select("__t__",
                     ((F.col("__c__") + F.lit(smoothing))
                      / F.col("__denom__")).alias("__p__")))
    scored = (toks.join(probs, "__t__", "left")
              .crossJoin(F.broadcast(stats))
              .withColumn("__lp__", F.log(F.coalesce(
                  F.col("__p__"),
                  F.lit(smoothing) / F.col("__denom__")))))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.avg("__lp__").alias("avg_logprob")))



def tfidf_terms(docs: SparkDF, text_col: str = "text",
                id_col: str = "doc_id") -> SparkDF:
    """Per-document TF-IDF term scores — the classic sparse document
    representation, fully distributed:

    * TF: explode → (doc, term) counts (one hash-agg shuffle);
    * DF: distinct (doc, term) → per-term document frequency (second
      agg over the already-shuffled pairs);
    * IDF = ln((N+1)/(df+1)) + 1 (smoothed, sklearn-style); the IDF
      table is vocabulary-sized — broadcast-joined back.

    Returns (id_col, term, tf, tfidf).  Deterministic and exactly
    SQL-reproducible."""
    pairs = docs.select(F.col(id_col),
                        F.explode(word_tokens(text_col)).alias("term"))
    tf = pairs.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # N+1 enters the plan as a 1-row broadcast cross join (optimization
    # r8) — the old driver-side distinct().count() paid a separate job
    # (an extra scan + distinct shuffle) before the plan could be built.
    # Same float64 division on the same exact integer, identical scores.
    nd = (docs.select(id_col).distinct()
          .agg((F.count(F.lit(1)) + F.lit(1)).cast("double")
               .alias("__n1__")))
    df_tbl = (tf.groupBy("term")
              .agg(F.count(F.lit(1)).alias("__df__")))
    idf = (df_tbl.crossJoin(F.broadcast(nd))
           .select("term", (F.log(F.col("__n1__")
                                  / (F.col("__df__") + 1)) + 1.0)
                   .alias("__idf__")))
    return (tf.join(idf, "term")
            .select(id_col, "term", "tf",
                    (F.col("tf") * F.col("__idf__")).alias("tfidf")))


def bm25_scores(docs: SparkDF, query_terms: list[str],
                text_col: str = "text", id_col: str = "doc_id",
                k1: float = 1.2, b: float = 0.75) -> SparkDF:
    """Okapi BM25 document scores for a fixed query — the lexical
    retrieval ranking that pairs with the ANN embedding path for hybrid
    search over a corpus.

    Plan: per-doc term frequencies for the QUERY TERMS ONLY (an
    ``array_intersect``-style filtered explode — the corpus is never
    shuffled on its full vocabulary), corpus stats (N, avg doc length)
    from one tiny agg, per-term document frequencies from one agg over
    the filtered pairs, IDF broadcast back.  Standard Robertson IDF
    ``ln(1 + (N-df+0.5)/(df+0.5))``."""
    toks = docs.select(F.col(id_col),
                       word_tokens(text_col).alias("__ts__"))
    toks = toks.withColumn("__dl__", F.size("__ts__"))
    # Corpus stats (N, avgdl) stay IN the plan as a 1-row broadcast
    # (optimization r8) instead of a driver collect — the old shape paid
    # a separate corpus-pass job before building the scoring plan.  The
    # per-term/per-doc arithmetic performs the identical IEEE ops on the
    # identical values, so scores are bit-exact.
    stats = toks.agg(F.count(F.lit(1)).cast("double").alias("__N__"),
                     F.avg("__dl__").alias("__avgdl__"))
    qlit = F.array(*[F.lit(t) for t in query_terms])
    pairs = (toks.select(id_col, "__dl__",
                         F.explode(F.array_intersect("__ts__", qlit))
                         .alias("term"),
                         F.col("__ts__"))
             .withColumn("tf", F.size(F.filter(
                 "__ts__", lambda x: x == F.col("term"))))
             .drop("__ts__"))
    dfreq = pairs.groupBy("term").agg(
        F.count(F.lit(1)).alias("__df__"))
    idf = (dfreq.crossJoin(F.broadcast(stats))
           .select("term", "__avgdl__", F.log(
               F.lit(1.0) + (F.col("__N__") - F.col("__df__") + 0.5)
               / (F.col("__df__") + 0.5)).alias("__idf__")))
    scored = (pairs.join(F.broadcast(idf), "term")
              .withColumn("__s__", F.col("__idf__") * F.col("tf")
                          * (k1 + 1) / (F.col("tf") + k1 * (
                              1 - b + b * F.col("__dl__")
                              / F.col("__avgdl__")))))
    return (scored.groupBy(id_col)
            .agg(F.sum("__s__").alias("bm25"),
                 F.count(F.lit(1)).alias("n_matched")))


def line_dedup(docs: SparkDF, text_col: str = "text", id_col: str = "doc_id",
               sep: str = "\n", min_dup_docs: int = 2,
               min_len: int = 0) -> SparkDF:
    """Corpus-level line/segment deduplication (CCNet / RefinedWeb
    boilerplate removal): drop every line that occurs verbatim in
    ``min_dup_docs`` or more *distinct* documents, preserving the order of
    the surviving lines.

    Returns ``[id_col, n_seg, n_kept, kept_text]`` — one row per input doc
    (docs whose every line was boilerplate keep a row with ``n_kept = 0``
    and an empty ``kept_text``).

    Plan shape (the one you'd run at 100 TB):
    ``posexplode(split)`` → one hash-shuffle groupBy on the line text for
    corpus document-frequencies (map-side partial agg) → equi-join back →
    per-doc groupBy with an order-restoring ``sort_array(collect_list)``.
    Two shuffles total, both on bounded keys: the line text (≤ line length)
    and the doc id.  No window functions, no driver collection.  At real
    scale, group on ``xxhash64(line)`` instead of the raw text to cut
    shuffle width — identical semantics up to 64-bit collisions; the raw
    text key here keeps the gate *exactly* oracle-checkable.

    Lines shorter than ``min_len`` characters are always kept (CCNet keeps
    very short lines — headers, list bullets — out of the dup statistics).
    """
    segs = (docs.select(F.col(id_col),
                        F.posexplode(F.split(F.col(text_col), sep, -1))
                        .alias("__pos__", "__seg__")))
    # optimization r9 (guide §2.3/§3.1): only lines duplicated across
    # ≥ min_dup_docs documents can flip a keep verdict, so the join-back
    # attaches the FILTERED frequency table (boilerplate lines only —
    # typically a small fraction of the distinct-line set) with a LEFT
    # join: a miss means nd < min_dup_docs, i.e. keep.  The small side
    # broadcasts when it fits (the exploded corpus then never shuffles
    # for this join); a boilerplate-heavy corpus falls back to a shuffle
    # join that still moves strictly fewer bytes than the unfiltered
    # table did.  Result identity: joined rows have nd ≥ min_dup_docs
    # (keep only if short), missed rows have nd < min_dup_docs (keep).
    dup = (segs.groupBy("__seg__")
           .agg(F.count_distinct(F.col(id_col)).alias("__nd__"))
           .filter(F.col("__nd__") >= F.lit(min_dup_docs)))
    keep = (F.col("__nd__").isNull()
            | (F.length("__seg__") < F.lit(min_len)))
    flagged = (segs.join(dup, "__seg__", "left")
               .select(id_col, "__pos__", "__seg__", keep.alias("__keep__")))
    rows = F.sort_array(F.collect_list(
        F.struct("__pos__", "__seg__", "__keep__")))
    kept = F.filter(rows, lambda x: x["__keep__"])
    return (flagged.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_seg"),
                 F.sum(F.col("__keep__").cast("long")).alias("n_kept"),
                 F.array_join(F.transform(kept, lambda x: x["__seg__"]),
                              sep).alias("kept_text")))


def zipf_fit(sdf: SparkDF, text_col: str = "text", top_n: int = 100) -> SparkDF:
    """Zipf-law fit over the corpus token-frequency distribution: the
    least-squares slope of ``ln(freq)`` on ``ln(rank)`` for the top
    ``top_n`` tokens (natural corpora: slope ≈ -1; synthetic/templated
    corpora diverge — a cheap corpus-health probe).

    Plan shape: one corpus tokenize+count shuffle; the rank window runs
    over AT MOST ``top_n`` pre-aggregated rows (TakeOrderedAndProject →
    tiny window), then one single-row closed-form regression aggregate.
    Returns one row: (n_tokens_ranked, zipf_slope, zipf_r2)."""
    tok = F.explode(word_tokens(F.lower(F.col(text_col)))).alias("token")
    counts = (sdf.select(tok).filter(F.col("token") != "")
              .groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    top = counts.orderBy(F.desc("freq"), F.asc("token")).limit(top_n)
    w = Window.orderBy(F.desc("freq"), F.asc("token"))
    ranked = top.select(F.row_number().over(w).alias("rank"), "freq")
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    agg = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"), F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"), F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"))
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = n * F.col("syy") - F.col("sy") * F.col("sy")
    # ANSI guard BEFORE dividing: n<2 → no slope; constant freqs → no R²
    slope = F.when(varx != 0, cov / varx)
    r2 = F.when((varx != 0) & (vary != 0), (cov * cov) / (varx * vary))
    return agg.select(
        F.col("n").alias("n_tokens_ranked"),
        slope.alias("zipf_slope"),
        r2.alias("zipf_r2"))


def bigram_logprob(docs: SparkDF, text_col: str = "text",
                   id_col: str = "doc_id",
                   smoothing: float = 0.5) -> SparkDF:
    """Corpus-derived BIGRAM language-model score per document — the
    order-2 sibling of ``unigram_logprob`` (KenLM/CCNet-style perplexity
    quality filtering with a real, exactly-reproducible model).

    ``log P(doc) / n_bigrams`` with add-k smoothed conditionals
    ``P(w2|w1) = (c(w1,w2) + k) / (c(w1) + k·(V+1))`` where ``c`` are
    corpus counts and ``V`` the unigram vocabulary size.

    Distributed shape: ONE corpus pass builds both count tables (the
    bigram table via slice+arrays_zip — no posexplode re-evaluation),
    then the per-doc pass joins them back (broadcast under AQE when they
    fit; bucket them at web scale) and takes one groupBy(doc) average.
    Deterministic — exactly SQL-checkable."""
    toks = docs.select(F.col(id_col), word_tokens(text_col).alias("__w__"))
    zipped = F.expr("arrays_zip(slice(__w__, 1, size(__w__) - 1), "
                    "slice(__w__, 2, size(__w__) - 1))")
    pairs = (toks.filter(F.size("__w__") >= 2)
             .select(F.col(id_col), F.explode(zipped).alias("p"))
             .select(id_col, F.col("p.`0`").alias("__a__"),
                     F.col("p.`1`").alias("__b__")))
    uni = (toks.select(F.explode("__w__").alias("__a__"))
           .groupBy("__a__").agg(F.count(F.lit(1)).alias("__c1__")))
    bi = (pairs.groupBy("__a__", "__b__")
          .agg(F.count(F.lit(1)).alias("__c2__")))
    k = float(smoothing)
    # vocabulary size V enters the plan as a 1-row broadcast cross join
    # instead of a driver-side uni.count() literal (optimization r8): the
    # old shape paid a SEPARATE job — a full extra tokenize+agg corpus
    # pass — before the scoring plan could even be built.  The smoothing
    # denominator k·(V+1) is the same single double multiply either way,
    # so scores are bit-identical; Catalyst reuses the uni aggregation's
    # exchange between the count branch and the join branch.
    vocab = uni.agg(F.count(F.lit(1)).alias("__V__"))
    scored = (pairs.join(bi, ["__a__", "__b__"], "left")
              .join(uni, "__a__", "left")
              .crossJoin(F.broadcast(vocab))
              .withColumn("__lp__", F.log(
                  (F.coalesce(F.col("__c2__"), F.lit(0)) + F.lit(k))
                  / (F.coalesce(F.col("__c1__"), F.lit(0))
                     + F.lit(k) * (F.col("__V__") + F.lit(1))))))
    return (scored.groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.avg("__lp__").alias("avg_logprob")))
