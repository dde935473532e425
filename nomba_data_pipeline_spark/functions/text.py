"""Text-analysis column expressions for the documents table.

Language-ID, quality scoring, token counting and fingerprinting — the
text side of a training-data pipeline. All pure `pyspark.sql.functions`
expressions (JVM, codegen'd); each has an exactly-equivalent DuckDB SQL
rendering used by the correctness oracle.

No analogue in the reference (its row transforms are CDC plumbing,
reference mongo_loader.py:83-198); this is the scale-extension surface
required by BASELINE.json's north star.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"

# tiny deterministic stopword marker sets per language (heuristic lang-id)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "les", "des", "et"),
    "de": ("der", "die", "das", "und", "nicht"),
}

STOPWORDS = ("the", "a", "an", "of", "and", "to", "in", "is", "it")


def _marker_regex(words: tuple[str, ...]) -> str:
    return r"\b(" + "|".join(words) + r")\b"


def token_count(col: Column | str) -> Column:
    """Whitespace/alnum token count via regexp (BPE-ish lower bound)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(TOKEN_RE)).cast("long")


def token_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all(lower({expr}), '{TOKEN_RE}')) AS BIGINT)"


def lang_score(col: Column | str, lang: str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(_marker_regex(LANG_MARKERS[lang])))


def lang_id(col: Column | str) -> Column:
    """Argmax of per-language marker-word counts; 'und' when all zero.

    Ties break in fixed LANG_MARKERS insertion order (en > es > fr > de)
    because the strict '>' comparison keeps the earlier language.
    """
    c = F.col(col) if isinstance(col, str) else col
    scores = [(lang, lang_score(c, lang)) for lang in LANG_MARKERS]
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang, score in scores:
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def lang_id_sql(expr: str) -> str:
    """DuckDB rendering of :func:`lang_id` (same strict-> tie policy)."""
    score = {
        lang: f"len(regexp_extract_all(lower({expr}), '{_marker_regex(m)}'))"
        for lang, m in LANG_MARKERS.items()
    }
    best_lang, best_score = "'und'", "0"
    for lang, s in score.items():
        best_lang = f"CASE WHEN {s} > {best_score} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"CASE WHEN {s} > {best_score} THEN {s} ELSE {best_score} END"
    return best_lang


def stopword_count(col: Column | str) -> Column:
    """English-stopword occurrence count (the quality_score ingredient,
    exposed for integer-threshold filter rules)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(F.lower(c), F.lit(_marker_regex(STOPWORDS))).cast("long")


def stopword_count_sql(expr: str) -> str:
    return (
        f"CAST(len(regexp_extract_all(lower({expr}),"
        f" '{_marker_regex(STOPWORDS)}')) AS BIGINT)"
    )


def alpha_count(col: Column | str) -> Column:
    """ASCII-letter character count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit("[A-Za-z]")).cast("long")


def alpha_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '[A-Za-z]')) AS BIGINT)"


def quality_score(col: Column | str) -> Column:
    """Heuristic quality in [0,1]: length band + stopword ratio + alpha ratio.

    score = 0.4*len_ok + 0.3*min(1, 5*stopword_ratio) + 0.3*alpha_ratio
    where len_ok = 1 if 20 <= n_tokens <= 10000 else 0. Rounded to 6 dp
    so the float arithmetic hash-matches the DuckDB oracle.
    """
    c = F.col(col) if isinstance(col, str) else col
    n_tok = token_count(c).cast("double")
    n_stop = stopword_count(c).cast("double")
    n_alpha = alpha_count(c).cast("double")
    n_chars = F.length(c).cast("double")
    len_ok = F.when((n_tok >= 20) & (n_tok <= 10000), F.lit(1.0)).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_tok > 0, n_stop / n_tok).otherwise(F.lit(0.0))
    alpha_ratio = F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(0.0))
    score = 0.4 * len_ok + 0.3 * F.least(F.lit(1.0), 5.0 * stop_ratio) + 0.3 * alpha_ratio
    return F.round(score, 6)


def quality_score_sql(expr: str) -> str:
    n_tok = f"CAST(len(regexp_extract_all(lower({expr}), '{TOKEN_RE}')) AS DOUBLE)"
    n_stop = f"CAST({stopword_count_sql(expr)} AS DOUBLE)"
    n_alpha = f"CAST({alpha_count_sql(expr)} AS DOUBLE)"
    n_chars = f"CAST(length({expr}) AS DOUBLE)"
    len_ok = f"CASE WHEN {n_tok} >= 20 AND {n_tok} <= 10000 THEN 1.0 ELSE 0.0 END"
    stop_ratio = f"CASE WHEN {n_tok} > 0 THEN {n_stop} / {n_tok} ELSE 0.0 END"
    alpha_ratio = f"CASE WHEN {n_chars} > 0 THEN {n_alpha} / {n_chars} ELSE 0.0 END"
    return (
        f"round(0.4 * ({len_ok}) + 0.3 * least(1.0, 5.0 * ({stop_ratio}))"
        f" + 0.3 * ({alpha_ratio}), 6)"
    )


def normalized_text(col: Column | str) -> Column:
    """Canonical form for fingerprinting: lowercase, strip non-alnum,
    collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    cleaned = F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " ")
    return F.trim(F.regexp_replace(cleaned, " +", " "))


def normalized_text_sql(expr: str) -> str:
    cleaned = f"regexp_replace(lower({expr}), '[^a-z0-9 ]', ' ', 'g')"
    return f"trim(regexp_replace({cleaned}, ' +', ' ', 'g'))"


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text."""
    return F.md5(normalized_text(col))


def fingerprint_sql(expr: str) -> str:
    return f"md5({normalized_text_sql(expr)})"


# PII scrubbing — pretraining-prep redaction. Patterns use [0-9] (not
# \d) and plain classes so the SAME string is valid Java regex (Spark)
# and RE2 (DuckDB oracle). Order matters: emails first (their local
# part contains digit runs a phone pattern could eat), then IPs (dotted
# quads would otherwise part-match as phones), then phones.
# The phone pattern is an alternation of three explicitly phone-shaped
# forms — +international, (area)-prefixed, and 3-3-4 separated runs —
# NOT a bare "8+ digits with separators" class: that form also matched
# ISO dates ('2024-01-01'), year ranges and ISBNs, silently mangling
# every document containing a date in a corpus-prep redaction pass.
# Bare unseparated digit runs (5551234567) are deliberately NOT treated
# as phones: they are indistinguishable from ids/quantities. Patterns
# must stay lookahead-free — DuckDB's RE2 oracle has no lookahead.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    (
        "phone",
        r"(\+[0-9][0-9() .-]{6,}[0-9])"
        r"|(\([0-9]{2,4}\)[ .-]?[0-9][0-9 .-]{4,}[0-9])"
        r"|([0-9]{3}[ .-][0-9]{3}[ .-][0-9]{4})",
        "<PHONE>",
    ),
)


def pii_redact(col: Column | str) -> Column:
    """Chained global regexp_replace over PII_PATTERNS (JVM, codegen —
    redaction is a map-only pass, no Python in the hot path)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, token in PII_PATTERNS:
        c = F.regexp_replace(c, pat, token)
    return c


def pii_redact_sql(expr: str) -> str:
    out = expr
    for _, pat, token in PII_PATTERNS:
        out = f"regexp_replace({out}, '{pat}', '{token}', 'g')"
    return out


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII kind (pre-redaction audit metric)."""
    c = F.col(col) if isinstance(col, str) else col
    pat = dict((k, p) for k, p, _ in PII_PATTERNS)[kind]
    return F.regexp_count(c, F.lit(pat)).cast("long")


def pii_count_sql(expr: str, kind: str) -> str:
    pat = dict((k, p) for k, p, _ in PII_PATTERNS)[kind]
    return f"CAST(len(regexp_extract_all({expr}, '{pat}')) AS BIGINT)"


def tokens(col: Column | str) -> Column:
    """Array of lowercase whitespace tokens (for shingling)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(normalized_text(c), " ")


def tokens_sql(expr: str) -> str:
    return f"string_split({normalized_text_sql(expr)}, ' ')"
