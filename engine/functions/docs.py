"""Document text-analysis column builders — training-data-pipeline ops.

All builders are pure `pyspark.sql.functions` expressions (JVM-side,
whole-stage codegen; no Python in the hot path) and are written to be
expressible 1:1 in ANSI/DuckDB SQL so every query has an oracle.

Reference lineage: these generalize the reference's per-item text
post-processing and scoring (text_extractor.py:286-346 normalization;
text_extractor.py:203-212 confidence scoring; image_validator.py:96-117
threshold gates) into the document-quality operators a 100 TB training
corpus pipeline needs (language-ID, quality score, token counts,
fingerprints).

Scale notes: every operator here is a narrow per-row projection — no
shuffle, fully pipelined into the parquet scan with column pruning
(only `text` + keys are read).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# BPE-ish token pattern: alpha runs | digit runs | single non-space symbol.
# Identical semantics in Java regex (Spark) and RE2 (DuckDB).
BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deliberately tiny and overlapping-free enough to be a
# deterministic argmax; tie-break = language code ascending.
LANG_MARKERS: dict[str, list[str]] = {
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "en": ["the", "a", "of", "and", "is", "to"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "les", "de", "et", "est", "une"],
}

# English stopwords for the quality-score stopword-ratio component.
QUALITY_STOPWORDS = ["the", "a", "of", "and", "is", "to", "in", "it"]


def ws_tokens(text: Column) -> Column:
    """Whitespace tokenization; empty/blank text → empty array."""
    trimmed = F.trim(text)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def n_tokens_ws(text: Column) -> Column:
    return F.size(ws_tokens(text))


def n_tokens_bpe(text: Column) -> Column:
    """Count of BPE-ish regex tokens (alpha runs / digit runs / symbols)."""
    return F.size(F.regexp_extract_all(text, F.lit(BPE_PATTERN), F.lit(0)))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, whitespace
    runs collapsed to single spaces, trimmed."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def content_fingerprint(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of the normalized text."""
    return F.md5(normalize_text(text))




def rolling_fingerprint_over_norm(norm_col: str, k: int = 8) -> Column:
    """Rolling-hash document fingerprint: the minimum hash over all
    k-char windows of an ALREADY-NORMALIZED text column (a 1-hash
    MinHash over char k-grams — robust to local edits, unlike the
    exact fingerprint). Null when shorter than k chars.

    PERF CONTRACT: pass a materialized column (`withColumn(norm_col,
    normalize_text(...))` first), never an expression — an inlined
    normalization would re-run lower/trim/regexp_replace once per
    window inside the lambda (O(n²) per document; measured 15 s for
    5k docs vs <1 s materialized)."""
    return F.expr(
        f"CASE WHEN length({norm_col}) >= {k} THEN "
        f"array_min(transform(sequence(1, length({norm_col}) - {k - 1}), "
        f"i -> md5(substr({norm_col}, i, {k})))) END"
    )


def punct_ratio(text: Column) -> Column:
    """Non-alphanumeric-non-space chars / NON-SPACE chars (0 when
    empty) — whitespace is excluded from the denominator so the ratio
    measures punctuation density of the visible content."""
    n = F.length(text)
    n_punct = n - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", ""))
    n_space = n - F.length(F.regexp_replace(text, r"\s", ""))
    return F.when(n > 0, n_punct / (n - n_space + F.lit(1e-12))).otherwise(0.0)


def stopword_ratio(text: Column, stopwords: list[str] | None = None) -> Column:
    toks = ws_tokens(F.lower(text))
    sw = stopwords or QUALITY_STOPWORDS
    hits = F.size(F.filter(toks, lambda t: t.isin(sw)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(0.0)


def mean_word_len(text: Column) -> Column:
    toks = ws_tokens(text)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t).cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(0.0)


def quality_score(text: Column) -> Column:
    """Composite document-quality score in [0, 1]:
    0.4·min(tokens/100, 1) + 0.3·(1 − punct_ratio) + 0.3·min(5·stopword_ratio, 1).
    (Length / punctuation / stopword components, mirroring the
    reference's threshold-gate family F5/F6 + confidence scoring A6.)

    NULL text counts as zero-length (score 0.3, same as empty string):
    without the coalesce, ANSI size(NULL)=NULL made F.least skip the
    null and give a contentless document FULL length credit — 0.7,
    binned 'high'."""
    len_c = F.least(
        F.coalesce(n_tokens_ws(text), F.lit(0)) / F.lit(100.0), F.lit(1.0)
    )
    punct_c = F.lit(1.0) - F.least(punct_ratio(text), F.lit(1.0))
    sw_c = F.least(stopword_ratio(text) * 5.0, F.lit(1.0))
    return 0.4 * len_c + 0.3 * punct_c + 0.3 * sw_c


def langid_scores(text: Column) -> list[tuple[str, Column]]:
    toks = ws_tokens(F.lower(text))
    return [
        (lang, F.size(F.filter(toks, lambda t: t.isin(markers))))
        for lang, markers in sorted(LANG_MARKERS.items())
    ]


def langid_predict(text: Column) -> Column:
    """Stopword-marker language ID: argmax of marker hits; ties broken
    by language code ascending; 'und' (undetermined) when all zero."""
    scores = langid_scores(text)
    best_score = F.greatest(*[s for _, s in scores])
    pred = F.lit("und")
    # iterate reversed so earlier (alphabetically smaller) langs win ties
    for lang, s in reversed(scores):
        pred = F.when(s == best_score, F.lit(lang)).otherwise(pred)
    return F.when(best_score > 0, pred).otherwise(F.lit("und"))


# PII patterns for the redaction pass (doc_pii_redact). Deliberately
# lookaround-free so one pattern string has identical semantics in
# Java regex (Spark) and RE2 (DuckDB oracle). The real-pipeline
# analog: Presidio/scrubadub-style regex recognizers; the Spark-side
# cost model is the point here — counting + redaction is a narrow
# JVM-side projection (no UDF, no shuffle, text read once per doc).
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def pii_counts(text: Column) -> list[tuple[str, Column]]:
    """(kind, match-count) per PII class, counted BEFORE redaction."""
    return [
        (kind, F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))))
        for kind, pat in (
            ("emails", PII_EMAIL), ("phones", PII_PHONE), ("ips", PII_IPV4),
        )
    ]


def pii_redact(text: Column) -> Column:
    """Replace every PII span with a typed placeholder. Email first:
    its pattern can contain digit runs that the looser phone/IP
    patterns would otherwise see after partial rewrites."""
    out = F.regexp_replace(text, PII_EMAIL, "[EMAIL]")
    out = F.regexp_replace(out, PII_PHONE, "[PHONE]")
    return F.regexp_replace(out, PII_IPV4, "[IP]")
