"""Text-analysis operators for large-scale training-data pipelines:
language-ID, quality scoring, token counting, document fingerprinting.

All are pure Catalyst expressions (JVM-side, codegen'd, no Python) so
they hold up at 100 TB; every one has an exact DuckDB-SQL oracle in
``__spark_entry__.oracle_sql`` (md5 is used for fingerprints because it
is bit-identical across engines).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# a BPE-ish token pattern: letter runs, single digits, single punctuation
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# tiny per-language stopword inventories for the n-gram/stopword heuristic
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est", "que", "dans"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "nicht", "mit", "von"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es", "que", "en"],
}


def normalize_text(col) -> Column:
    """Lowercase, collapse whitespace, trim — the canonical form used by
    dedup and fingerprinting."""
    return F.trim(F.regexp_replace(F.lower(F.col(col) if isinstance(col, str) else col), r"\s+", " "))


def tokens(col) -> Column:
    """Whitespace tokens of the normalized text (empty text → empty
    array). Materialize this ONCE as a column when several downstream
    scores consume it — the score functions accept ``toks=`` so the
    normalize+split work isn't re-inlined per consumer (Catalyst does
    not CSE across these expressions)."""
    t = normalize_text(col)
    return F.when(F.length(t) == 0, F.array().cast("array<string>")).otherwise(F.split(t, " "))


def ws_token_count(col) -> Column:
    """Whitespace token count; empty/blank text counts 0."""
    t = normalize_text(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, " "))).cast("int")


def bpe_ish_token_count(col) -> Column:
    """Count of BPE-ish regex tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.coalesce(F.regexp_count(c, F.lit(BPE_ISH_PATTERN)), F.lit(0)).cast("int")


def punct_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n_punct = F.regexp_count(c, F.lit(r"[^A-Za-z0-9\s]"))
    return (n_punct.cast("double") / F.greatest(F.length(c), F.lit(1))).alias("punct_ratio")


def stopword_ratio(col, lang: str = "en", toks: Column | None = None) -> Column:
    """Fraction of whitespace tokens that are (lang) stopwords."""
    tk = tokens(col) if toks is None else toks
    stop = F.array(*[F.lit(w) for w in LANG_STOPWORDS[lang]])
    n_stop = F.size(F.filter(tk, lambda x: F.array_contains(stop, x)))
    return F.when(F.size(tk) == 0, F.lit(0.0)).otherwise(n_stop.cast("double") / F.size(tk))


def quality_score(col, toks: Column | None = None) -> Column:
    """Composite quality heuristic in [0,1]: length band + punctuation
    sanity + stopword presence (a cheap C4-style filter)."""
    c = F.col(col) if isinstance(col, str) else col
    length_ok = F.when((F.length(c) >= 20) & (F.length(c) <= 20000), 1.0).otherwise(0.0)
    punct_ok = F.when(punct_ratio(col) <= 0.2, 1.0).otherwise(0.0)
    stop_ok = F.when(stopword_ratio(col, toks=toks) >= 0.05, 1.0).otherwise(0.0)
    return (length_ok + punct_ok + stop_ok) / F.lit(3.0)


def lang_id(col, toks: Column | None = None) -> Column:
    """Pick the language whose stopword inventory scores highest
    (deterministic tiebreak: language code order); 'und' when no
    stopword hits at all.

    Selection is an array_max over (score, -lang_index) structs — each
    per-language score is evaluated exactly once (the previous nested
    when(score == best) chain re-evaluated every score per level)."""
    langs = sorted(LANG_STOPWORDS)
    entries = F.array(
        *[
            F.struct(
                stopword_ratio(col, lang, toks=toks).alias("s"),
                F.lit(-i).alias("ni"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    best = F.array_max(entries)
    name = F.element_at(F.array(*[F.lit(lg) for lg in langs]), (-best["ni"] + 1).cast("int"))
    return F.when(best["s"] > 0, name).otherwise(F.lit("und"))


def fingerprint_md5(col) -> Column:
    """Document fingerprint: md5 of the normalized text (bit-identical
    in DuckDB → exact oracle); the first 15 hex chars as int64 give a
    numeric fingerprint for bucketing."""
    return F.md5(normalize_text(col))


def fingerprint_int(col) -> Column:
    return F.conv(F.substring(fingerprint_md5(col), 1, 15), 16, 10).cast("bigint")
