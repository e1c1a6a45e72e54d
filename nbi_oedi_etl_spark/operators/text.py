"""Text-analysis operators for training-data pipelines (SURVEY.md §2.12).

All hot-path expressions are built-in pyspark.sql.functions (JVM,
whole-stage codegen) — no Python UDFs. Designed to run as a single
narrow-map stage over a 100 TB documents table: no shuffle, no state,
perfectly partition-parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lexicons for the n-gram/stopword language-ID
# heuristic. Deliberately small and deterministic (the point is the operator
# shape, not linguistic accuracy).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "de": ("der", "und", "die", "das", "ist"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
}

_WS = r"\s+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of trimmed text → array<string>."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(c), _WS)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """doc stats: token count, char length, mean token length."""
    t = F.col(text_col)
    n_tok = token_count(t)
    return df.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length(t).alias("n_chars_actual"),
        F.round(
            (F.length(F.regexp_replace(t, _WS, "")) * F.lit(1.0)) / n_tok, 6
        ).alias("mean_token_len"),
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, alpha ratio, stopword ratio, and a
    composite score. Mirrors classic pretraining-quality filters (C4-style
    length/punct/stopword gates)."""
    t = F.col(text_col)
    n_char = F.length(t)
    alpha = F.length(F.regexp_replace(t, "[^a-z]", ""))
    toks = tokens(t)
    n_tok = F.size(toks)
    stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_STOPWORDS["en"])))
    # Round only FINAL outputs, always from the raw ratios: rounding a
    # rounded value puts the input on a systematic .5 tie where engines'
    # rounding semantics diverge (cross-engine determinism, workload.py).
    alpha_ratio = alpha * F.lit(1.0) / n_char
    stop_ratio = stop * F.lit(1.0) / n_tok
    return df.select(
        "doc_id",
        n_char.alias("n_chars_actual"),
        n_tok.alias("n_tokens"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio * F.lit(0.5) + stop_ratio * F.lit(0.5), 6).alias("quality_score"),
    )


def with_lang_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-lexicon language ID: count hits per language, argmax with a
    deterministic tie-break (lexicon order en > de > es > fr)."""
    toks = tokens(F.col(text_col))

    def _hits(words: tuple[str, ...]) -> Column:
        # NOTE: pyspark higher-order lambdas must take exactly the arity of
        # the HOF — a default-arg closure param would be counted as a lambda
        # variable, so bind via an outer function instead.
        return F.size(F.filter(toks, lambda x: x.isin(*words)))

    hit_cols = {lang: _hits(words) for lang, words in LANG_STOPWORDS.items()}
    langs = list(LANG_STOPWORDS)
    # argmax with first-wins tie-break: lang L wins if its hits are strictly
    # greater than every earlier lang's and >= every later lang's.
    guess = F.lit(langs[-1])
    for lang in reversed(langs[:-1]):
        later = [hit_cols[l2] for l2 in langs[langs.index(lang) + 1 :]]
        cond = None
        for h in later:
            c = hit_cols[lang] >= h
            cond = c if cond is None else (cond & c)
        guess = F.when(cond, F.lit(lang)).otherwise(guess)
    out = df.select(
        "doc_id",
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in langs],
        guess.alias("lang_guess"),
    )
    return out


# Conservative regex subset (char classes, {m,n}, \b) that parses
# identically under Java regex (Spark) and RE2 (DuckDB/Go) — the scrub must
# be reproducible outside the engine.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\b555-[0-9]{4}\b"


def scrub_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction: replace emails / phone-shaped tokens with typed
    placeholders, keeping per-doc match counts for audit.

    Pure narrow map (regexp_replace / regexp_count are codegen'd JVM
    expressions): no shuffle, scales linearly with the corpus like every
    text op in this module. Counts are computed on the ORIGINAL text so
    the audit trail survives the redaction."""
    t = F.col(text_col)
    scrubbed = F.regexp_replace(
        F.regexp_replace(t, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return df.select(
        "doc_id",
        F.regexp_count(t, F.lit(EMAIL_RE)).alias("n_emails"),
        F.regexp_count(t, F.lit(PHONE_RE)).alias("n_phones"),
        scrubbed.alias("text_scrubbed"),
    )


# Gopher-style gate thresholds (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1) — bounds on
# word count, mean word length, symbol ratio, and stopword presence.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_WORD_LEN = 3.0
GOPHER_MAX_MEAN_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1


def gopher_quality_flags(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher/C4-style pretraining quality gate: per-doc boolean flags for
    each rule plus the composite keep/drop decision.

    All ratios are single integer-division expressions (deterministic
    double ops, no rounding before the threshold compare), so the flags
    are bit-identical across engines. Narrow map, no shuffle."""
    t = F.col(text_col)
    toks = tokens(t)
    n_words = F.size(toks)
    mean_wlen = F.length(F.regexp_replace(t, _WS, "")) * F.lit(1.0) / n_words
    symbols = F.length(F.regexp_replace(t, r"[A-Za-z0-9\s]", ""))
    symbol_ratio = symbols * F.lit(1.0) / F.length(t)
    has_stop = F.size(F.filter(toks, lambda x: x.isin(*LANG_STOPWORDS["en"]))) > 0
    words_ok = (n_words >= GOPHER_MIN_WORDS) & (n_words <= GOPHER_MAX_WORDS)
    wlen_ok = (mean_wlen >= GOPHER_MIN_MEAN_WORD_LEN) & (
        mean_wlen <= GOPHER_MAX_MEAN_WORD_LEN
    )
    symbols_ok = symbol_ratio < GOPHER_MAX_SYMBOL_RATIO
    return df.select(
        "doc_id",
        n_words.alias("n_words"),
        words_ok.alias("words_ok"),
        wlen_ok.alias("mean_word_len_ok"),
        symbols_ok.alias("symbol_ratio_ok"),
        has_stop.alias("has_stopword"),
        (words_ok & wlen_ok & symbols_ok & has_stop).alias("keep"),
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowercased text.

    Stable content identity for dedup joins; md5 (not xxhash) so external
    systems (and the DuckDB oracle) can reproduce it."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), _WS, " ")
    return df.select("doc_id", F.md5(norm).alias("fingerprint"))
