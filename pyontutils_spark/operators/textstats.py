"""Text analysis operators: language-ID, quality scoring, token counting,
document fingerprinting.  All pure column expressions with documented
formulas so the DuckDB oracle can reproduce results exactly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import h32, tokens_col

# Fixed stopword marker sets for the language-ID heuristic.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "with", "for", "a"],
    "de": ["der", "die", "das", "und", "ist", "mit", "von", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "avec"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "con", "por"],
}


def token_count(text_col) -> Column:
    """Whitespace-ish token count (size of the deterministic token set)."""
    return F.size(tokens_col(text_col))


def word_token_count(text_col) -> Column:
    """BPE-ish subword proxy: alnum runs + standalone punctuation marks
    both count (regexp token model)."""
    return F.size(F.filter(
        F.split(F.regexp_replace(
            F.lower(text_col), r"([^a-z0-9\s])", r" $1 "), r"\s+"),
        lambda t: t != ""))


def _stopword_hits(text_col, words: list[str]) -> Column:
    toks = tokens_col(text_col)
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def lang_scores(text_col) -> dict[str, Column]:
    n = F.greatest(token_count(text_col), F.lit(1))
    return {lang: _stopword_hits(text_col, ws) / n
            for lang, ws in STOPWORDS.items()}


def lang_id(text_col) -> Column:
    """Argmax of stopword-hit ratio; 'und' (undetermined) when every
    ratio is zero.  Ties break in fixed key order en>de>fr>es."""
    scores = lang_scores(text_col)
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    for lang in ("es", "fr", "de", "en"):  # reverse priority: later wins ties
        s = scores[lang]
        cond = s >= best_score
        # strictly-greater-than-zero requirement for a claim
        best_lang = F.when((s > 0) & cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return best_lang


def quality_features(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio features + a composite
    quality score in [0,1].  Formula (documented for the oracle):
      len_score  = least(n_tokens/100, 1.0)
      punct_ratio = punct_chars / chars
      stop_ratio = en-stopword hits / tokens
      score = 0.5*len_score + 0.3*least(stop_ratio*5,1) +
              0.2*(1 - least(punct_ratio*10,1))
    """
    t = F.col(text_col)
    n_tokens = token_count(t)
    n_chars = F.length(t)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    stop_ratio = _stopword_hits(t, STOPWORDS["en"]) / \
        F.greatest(n_tokens, F.lit(1))
    len_score = F.least(n_tokens / F.lit(100.0), F.lit(1.0))
    punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
    score = (F.lit(0.5) * len_score
             + F.lit(0.3) * F.least(stop_ratio * 5, F.lit(1.0))
             + F.lit(0.2) * (F.lit(1.0) - F.least(punct_ratio * 10,
                                                  F.lit(1.0))))
    return (docs
            .withColumn("n_tokens", n_tokens)
            .withColumn("n_chars_measured", n_chars)
            .withColumn("punct_ratio", punct_ratio)
            .withColumn("stopword_ratio", stop_ratio)
            .withColumn("quality_score", F.round(score, 6)))


def fingerprint(text_col, n: int = 8) -> Column:
    """Winnowing-style document fingerprint: min h32 over character
    n-gram shingles of the lowercased text (deterministic; equal for
    equal texts, robust to trailing differences)."""
    t = F.lower(text_col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - n + 1, F.lit(1)))
    return F.array_min(F.transform(idx, lambda i: h32(t.substr(i, F.lit(n)))))


def gopher_quality_flags(docs: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text",
                         min_tokens: int = 5, max_tokens: int = 100_000,
                         min_mean_word_len: float = 3.0,
                         max_mean_word_len: float = 10.0,
                         max_bigram_share: float = 0.30) -> DataFrame:
    """Gopher-style document quality rules (the rule family of the
    Gopher/MassiveText filtering pipeline, applied as pure relational
    ops): per document —

    - ``n_tokens`` within [min_tokens, max_tokens]
    - mean word length within [min, max]
    - top-2-gram repetition share <= max_bigram_share (boilerplate /
      degenerate repetition detector)

    Returns (id, n_tokens, mean_word_len_e4, top_bigram_share_e4,
    keep) with ratios as integer 1e4-scaled values (cross-engine
    hashable).  Plan shape: ONE narrow projection, zero shuffles —
    every statistic is a function of the doc's own token array, so the
    top-bigram count is computed per row (array_sort the bigram array,
    then a single higher-order ``aggregate`` pass tracking the longest
    equal-run) instead of exploding ~150 rows/doc into a corpus-wide
    (id, bigram) groupBy.  The explode shape shuffled ~100 bytes/token
    twice and spilled at the 2M-doc soak; the per-row pass measured
    4-12x faster there, value-equal on 200k docs (BASELINE.md), and
    keeps the quality gate embarrassingly parallel at any corpus size.

    The token array is LET-BOUND once per row via
    ``transform(array(tokens), ts -> stats)[1]``: every inner
    reference to ``ts`` is then a lambda-variable lookup.  Referencing
    a tokenizer ALIAS by column name is not safe here — Catalyst can
    inline the alias into each ``element_at`` inside the bigram
    lambda, re-running the full-text regex split once per ELEMENT
    (O(n_tokens^2) per doc; observed as a 32-core multi-minute stall
    in the 2M-doc funnel soak)."""

    def per_row(ts):
        n = F.size(ts)
        # total: docs with <2 tokens get an empty bigram array
        # (element_at(ts, i+1) would throw under ANSI if evaluated)
        bg_sorted = F.when(
            n >= 2,
            F.array_sort(F.transform(F.sequence(F.lit(1), n - 1),
                                     _bigram_at_var(ts)))
        ).otherwise(F.array().cast("array<string>"))
        run_zero = F.struct(F.lit("").alias("prev"),
                            F.lit(0).cast("long").alias("run"),
                            F.lit(0).cast("long").alias("best"))

        def run_step(acc, x):
            run = (F.when(x == acc["prev"], acc["run"] + 1)
                   .otherwise(F.lit(1).cast("long")))
            return F.struct(x.alias("prev"), run.alias("run"),
                            F.greatest(acc["best"], run).alias("best"))

        maxc = F.aggregate(bg_sorted, run_zero, run_step,
                           lambda acc: acc["best"])
        return F.struct(
            n.alias("n_tokens"),
            F.round(F.aggregate(ts, F.lit(0).cast("long"),
                                lambda a, t: a + F.length(t))
                    / F.greatest(n, F.lit(1)) * 10_000)
            .cast("long").alias("mean_word_len_e4"),
            F.when(n >= 2,
                   F.round(maxc / (n - 1) * 10_000).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("top_bigram_share_e4"))

    stats = F.element_at(
        F.transform(F.array(tokens_col(F.col(text_col))), per_row), 1)
    out = (docs.select(F.col(id_col).alias("id"), stats.alias("_s"))
           .select("id",
                   F.col("_s.n_tokens").alias("n_tokens"),
                   F.col("_s.mean_word_len_e4").alias("mean_word_len_e4"),
                   F.col("_s.top_bigram_share_e4")
                   .alias("top_bigram_share_e4")))
    keep = ((F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("mean_word_len_e4") >= int(min_mean_word_len * 10_000))
            & (F.col("mean_word_len_e4") <= int(max_mean_word_len * 10_000))
            & (F.col("top_bigram_share_e4")
               <= int(max_bigram_share * 10_000)))
    return out.withColumn("keep", keep)


def _bigram_at_var(ts):
    # the i-th bigram of a lambda-bound array Column (see
    # gopher_quality_flags: the let-binding keeps tokenization O(n));
    # a closure factory because pyspark inspects lambda arity
    def f(i):
        return F.concat_ws(" ", F.element_at(ts, i),
                           F.element_at(ts, i + 1))
    return f
