"""Text analysis for training-data curation: language-ID, quality scoring,
token counting, document fingerprinting. All pure ``F.*`` column
expressions (JVM, codegen; no UDFs) so the same formulas replay in the
DuckDB oracle."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny stopword inventories for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "por", "con", "los"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "dans", "est"],
    "de": ["der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "ein"],
}

# a BPE-ish tokenizer regex: words, numbers, or single non-space symbols
TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(text_col: Column) -> Column:
    return F.regexp_count(text_col, F.lit(TOKEN_RE)).cast("long")


def _stopword_hits(words: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.filter(words, lambda w: F.array_contains(sw, F.lower(w))))


def lang_scores(text_col: Column) -> dict[str, Column]:
    words = F.split(F.trim(F.lower(text_col)), "\\s+")
    n = F.greatest(F.size(words), F.lit(1))
    return {lang: (_stopword_hits(words, lang) / n) for lang in STOPWORDS}


def lang_id(text_col: Column) -> Column:
    """Predicted language = argmax stopword ratio; 'und' if all zero.
    Deterministic tiebreak: language name order en < es < fr < de by score
    then alphabetical."""
    scores = lang_scores(text_col)
    pairs = F.array(
        *[
            F.struct(scores[lang].alias("score"), F.lit(lang).alias("lang"))
            for lang in sorted(STOPWORDS)
        ]
    )
    best = F.array_max(pairs)
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def quality_features(df: DataFrame) -> DataFrame:
    """Per-doc quality signals over ``(doc_id, text)``: lengths, token
    count, word stats, stopword / punctuation / digit ratios, and a
    composite [0,1] quality score."""
    t = F.col("text")
    words = F.split(F.trim(t), "\\s+")
    n_words = F.greatest(F.size(words), F.lit(1))
    mean_wlen = F.aggregate(
        words, F.lit(0).cast("double"), lambda acc, w: acc + F.length(w)
    ) / n_words
    n_chars = F.greatest(F.length(t), F.lit(1))
    punct_ratio = F.regexp_count(t, F.lit(r"[^\w\s]")) / n_chars
    digit_ratio = F.regexp_count(t, F.lit(r"[0-9]")) / n_chars
    sw_ratio = _stopword_hits(words, "en") / n_words
    # composite: long enough, word lengths sane, some stopwords, low symbol noise
    score = (
        F.least(n_words / F.lit(100.0), F.lit(1.0)) * 0.25
        + F.when((mean_wlen >= 3) & (mean_wlen <= 10), 0.25).otherwise(0.0)
        + F.least(sw_ratio * F.lit(5.0), F.lit(1.0)) * 0.25
        + F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio * 5 - digit_ratio * 2) * 0.25
    )
    return df.select(
        F.col("doc_id").alias("id"),
        F.length(t).cast("long").alias("n_chars"),
        F.size(words).cast("long").alias("n_words"),
        token_count(t).alias("n_tokens"),
        F.round(mean_wlen, 6).alias("mean_word_len"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(digit_ratio, 6).alias("digit_ratio"),
        F.round(score, 6).alias("quality_score"),
        lang_id(t).alias("pred_lang"),
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Normalized content fingerprint of ``(doc_id, text)``: lowercase,
    collapse whitespace, strip non-alphanumerics, md5 — robust to
    formatting-only edits."""
    norm = F.regexp_replace(
        F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9\s]", ""), r"\s+", " "
    )
    return df.select(
        F.col("doc_id").alias("id"), F.md5(F.trim(norm)).alias("fingerprint")
    )
