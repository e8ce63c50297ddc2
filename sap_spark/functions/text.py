"""Text-analysis functions for training-data pipelines.

All kernels are native pyspark.sql.functions expressions (JVM-side,
whole-stage codegen) — no Python in the hot path. These extend the engine
beyond the reference's surface (the reference has no text ops) per the
training-data-pipeline requirement.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language marker lexicons for the n-gram/stopword heuristic
# language ID. Deliberately tiny and deterministic: the goal is a cheap,
# dependency-free signal (fasttext-style models don't ship in this image).
_LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "les", "et", "est", "pas", "pour", "que", "une", "dans"],
    "es": ["el", "la", "los", "de", "que", "es", "en", "un", "por", "con"],
    "it": ["il", "la", "di", "che", "è", "per", "un", "non", "con", "del"],
    "pt": ["o", "a", "de", "que", "em", "um", "para", "com", "não", "os"],
}

_EN_STOPWORDS = _LANG_MARKERS["en"] + [
    "a", "an", "as", "at", "be", "by", "on", "or", "are", "this", "with", "from"
]

# Java's \s == [ \t\n\x0B\f\r] exactly; RE2 (DuckDB) drops \x0B from \s.
# Spelling the class out keeps Spark behavior bit-identical while making
# the DuckDB oracle mirrors (__spark_entry__.py) agree on \x0B-bearing text.
WS_CLASS = r" \t\n\x0B\f\r"


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text."""
    return F.split(F.trim(F.lower(text)), rf"[{WS_CLASS}]+")


def token_count(text: Column) -> Column:
    """Whitespace token count (BPE-ish subword estimate is token_count_bpe)."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(tokens(text)))


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation runs
    via a GPT-style pre-tokenizer regex. A real tokenizer is a model file;
    this regex matches its pre-split behavior, which is the right
    cost-estimate granularity for data pipelines."""
    pieces = F.regexp_extract_all(
        text, F.lit(rf"[A-Za-z]+|[0-9]|[^A-Za-z0-9{WS_CLASS}]"), 0
    )
    # long words split into ~4-char subwords on average
    return F.aggregate(
        pieces,
        F.lit(0),
        lambda acc, p: acc
        + F.when(F.length(p) <= 4, 1).otherwise(F.ceil(F.length(p) / 4).cast("int")),
    )


def alpha_ratio(text: Column) -> Column:
    """Fraction of alphabetic characters."""
    alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    return F.when(F.length(text) > 0, alpha / F.length(text)).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return F.when(F.length(text) > 0, punct / F.length(text)).otherwise(F.lit(0.0))


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    """Fraction of tokens that are (English) stopwords — a classic
    fluency/quality signal: natural prose ≈ 0.3-0.5, keyword spam ≈ 0."""
    sw = F.array(*[F.lit(w) for w in (stopwords or _EN_STOPWORDS)])
    toks = tokens(text)
    n_sw = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, n_sw / F.size(toks)).otherwise(F.lit(0.0))


def mean_word_length(text: Column) -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Composite [0,1] quality score from length / punctuation / stopword /
    word-shape signals (Gopher/C4-style heuristic filters, composed from
    the individual ratios so each is independently reusable)."""
    n_toks = token_count(text)
    len_ok = F.when((n_toks >= 10) & (n_toks <= 100_000), 1.0).otherwise(0.2)
    mwl = mean_word_length(text)
    shape_ok = F.when((mwl >= 2.0) & (mwl <= 12.0), 1.0).otherwise(0.3)
    punct_ok = F.when(punct_ratio(text) <= 0.3, 1.0).otherwise(0.4)
    alpha_ok = F.when(alpha_ratio(text) >= 0.55, 1.0).otherwise(0.5)
    sw = stopword_ratio(text)
    sw_ok = F.when(sw >= 0.05, 1.0).otherwise(0.6)
    return F.round(len_ok * shape_ok * punct_ok * alpha_ok * sw_ok, 6)


def lang_id(text: Column) -> Column:
    """Marker-lexicon language ID: argmax over per-language marker-token
    hit counts; 'und' (undetermined) when nothing matches."""
    toks = tokens(text)
    scores = []
    for lang, markers in _LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(w) for w in markers])
        score = F.size(F.filter(toks, lambda t: F.array_contains(marker_arr, t)))
        scores.append(F.struct(score.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def normalize_text(text: Column) -> Column:
    """Dedup normalization: lowercase, strip punctuation, collapse runs of
    whitespace — the canonical form for exact/fingerprint dedup."""
    t = F.lower(text)
    t = F.regexp_replace(t, rf"[^a-z0-9{WS_CLASS}]", " ")
    t = F.trim(F.regexp_replace(t, rf"[{WS_CLASS}]+", " "))
    return t


def fingerprint(text: Column) -> Column:
    """Document fingerprint: 64-bit hash of the normalized text (whole-doc
    rolling-hash equivalent; near-dup fingerprints are in similarity.py)."""
    return F.xxhash64(normalize_text(text))
