"""Text analysis column functions — language ID, quality scoring, token
counting, shingling. All pure ``pyspark.sql.functions`` Column expressions
(JVM-side, whole-stage codegen); no Python in the hot path.

These power operators/textstats.py and the dedup shingle pipeline. Each
formula is also reproducible in ANSI SQL (the DuckDB oracles mirror them).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small multilingual stopword marker lists for the n-gram-free language
# heuristic (deterministic; the synthetic `documents` table uses en-like
# word salads, so the heuristic is exercised, not accurate NLP).
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "fr": ("le", "la", "les", "et", "est", "un", "une"),
    "es": ("el", "la", "los", "las", "y", "es", "un"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization -> array<string> (empty strings dropped)."""
    return F.filter(F.split(text, r"\s+"), lambda t: F.length(t) > 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-approximating token count: word-piece regex splits on word
    boundaries, digits, and punctuation runs — a cheap proxy for LLM token
    budgeting at corpus scale."""
    return F.size(
        F.filter(
            F.split(text, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
            lambda t: F.length(F.trim(t)) > 0,
        )
    )


def word_ngrams(text: Column, n: int = 3) -> Column:
    """array<string> of word n-grams joined by single spaces."""
    toks = tokens(F.lower(text))
    cnt = F.size(toks)
    return F.when(cnt < n, F.array(F.array_join(toks, " "))).otherwise(
        F.transform(
            F.sequence(F.lit(0), cnt - F.lit(n)),
            lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
        )
    )


def stopword_ratio(text: Column, stopwords: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    toks = tokens(F.lower(text))
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda t: t.isin(*stopwords)))
    return F.when(n > 0, hits.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    stripped = F.regexp_replace(text, r"[^\p{L}\p{N}\s]", "")
    n = F.length(text)
    return F.when(
        n > 0, (n - F.length(stripped)).cast("double") / n.cast("double")
    ).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    n = F.size(toks)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(n > 0, total.cast("double") / n.cast("double")).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality heuristic: rewards mid-length documents,
    moderate word length, some stopwords, low punctuation noise. The exact
    formula is arbitrary but fixed (mirrored in the DuckDB oracle)."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(64.0), F.lit(1.0))
    mwl = mean_word_length(text)
    word_score = F.when((mwl >= 3.0) & (mwl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_score = F.least(stopword_ratio(text) * F.lit(4.0), F.lit(1.0))
    punct_score = F.lit(1.0) - F.least(punct_ratio(text) * F.lit(2.0), F.lit(1.0))
    return F.round(
        (len_score + word_score + stop_score + punct_score) / F.lit(4.0), 6
    )


def lang_scores(text: Column) -> list[tuple[str, Column]]:
    """(lang, marker-hit-ratio) per candidate language."""
    toks = tokens(F.lower(text))
    n = F.greatest(F.size(toks), F.lit(1)).cast("double")

    def in_markers(markers):
        return lambda t: t.isin(*markers)

    out = []
    for lang, markers in LANG_MARKERS.items():
        hits = F.size(F.filter(toks, in_markers(markers)))
        out.append((lang, hits.cast("double") / n))
    return out


def lang_id(text: Column) -> Column:
    """argmax language by marker ratio; 'und' when all scores are 0.
    Deterministic tie-break: first language in LANG_MARKERS order wins."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0.0)
    # iterate in declaration order with strict '>' so the FIRST language
    # achieving the max wins ties
    for lang, score in scores:
        cond = score > best_score
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, score).otherwise(best_score)
    return best_lang
