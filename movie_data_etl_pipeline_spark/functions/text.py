"""Column-level text expressions (north-star text-analysis surface;
SURVEY.md §2.9). Everything here is built from ``pyspark.sql.functions``
primitives so it stays inside whole-stage codegen — no Python UDFs in
the hot path.

The reference has no text functions (its only scalar is ROUND,
``/root/reference/sql/03_views.sql:34``); this module is the extension
surface a training-data pipeline needs: tokenization, shingling,
quality metrics, language-ID heuristics, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small English stopword list for quality scoring — public knowledge
# (the classic most-frequent-function-words set).
STOPWORDS = (
    "the a an and or but if of to in on at by for with is are was were be "
    "been it this that these those as from not no so than then there"
).split()


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization; empty strings removed."""
    return F.filter(F.split(F.col(text) if isinstance(text, str) else text, r"\s+"), lambda t: t != "")


def bpe_ish_tokens(text: Column | str) -> Column:
    """A BPE-ish pre-tokenizer split: runs of letters, runs of digits, or
    single other non-space characters each become a token — the regex
    pre-tokenization shape used ahead of byte-pair merges."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_extract_all(c, F.lit(r"([A-Za-z]+|[0-9]+|[^\sA-Za-z0-9])"), 1)


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


def shingles(text: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as strings, built by ``zip_with`` over
    shifted slices of the token array.

    Why not ``transform(sequence(...), i -> slice(t, i, n))``: an outer
    expression referenced *inside* a higher-order-function lambda is
    re-evaluated per element (Catalyst substitutes, it doesn't bind), so
    the tokenizing split would run O(len) times per row — measured ~10×
    slowdown on the dedup pipeline. ``zip_with`` arguments are evaluated
    once per row and the lambda works on the bound arrays, keeping the
    whole expression O(len). Null padding from the shorter slice marks
    incomplete windows; they're filtered at the end (documents shorter
    than ``n`` tokens therefore yield an empty array)."""
    t = tokens(text)
    out = t
    for i in range(1, n):
        shifted = F.slice(t, i + 1, F.greatest(F.size(t) - i, F.lit(0)))
        out = F.zip_with(
            out,
            shifted,
            lambda a, b: F.when(
                a.isNull() | b.isNull(), F.lit(None).cast("string")
            ).otherwise(F.concat_ws(" ", a, b)),
        )
    return F.filter(out, lambda x: x.isNotNull())


def type_token_ratio(text: Column | str) -> Column:
    """Lexical diversity: distinct tokens / tokens."""
    t = tokens(text)
    return F.size(F.array_distinct(t)) / F.size(t)


def stopword_ratio(text: Column | str) -> Column:
    """Fraction of tokens that are (lowercased) English stopwords."""
    t = tokens(text)
    sw = F.array(*[F.lit(s) for s in STOPWORDS])
    return F.size(F.filter(t, lambda x: F.array_contains(sw, F.lower(x)))) / F.size(t)


def punct_ratio(text: Column | str) -> Column:
    """Non-alphanumeric, non-space characters / all characters."""
    c = F.col(text) if isinstance(text, str) else text
    stripped = F.regexp_replace(c, r"[A-Za-z0-9\s]", "")
    return F.length(stripped) / F.length(c)


def quality_score(text: Column | str) -> Column:
    """Composite heuristic quality score in [0, 1]: rewards mid-range
    mean token length and lexical diversity, penalizes punctuation
    soup. Deliberately simple and deterministic — a stand-in for the
    fastText-style quality classifiers used in web-corpus curation."""
    t = tokens(text)
    mean_len = F.aggregate(t, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)) / F.size(t)
    len_term = F.lit(1.0) - F.least(F.abs(mean_len - 5.0) / 5.0, F.lit(1.0))
    ttr = type_token_ratio(text)
    punct = punct_ratio(text)
    score = 0.4 * len_term + 0.4 * ttr + 0.2 * (1.0 - F.least(punct * 5.0, F.lit(1.0)))
    return F.round(score, 6)


# Language-ID: marker-regex heuristic. Real language ID is an n-gram
# model; the deterministic, oracle-checkable core is "score by presence
# of language-characteristic character classes / marker words".
_LANG_MARKERS: list[tuple[str, str]] = [
    ("zh", r"[一-鿿]"),
    ("de", r"[äöüßÄÖÜ]|\b(der|die|das|und|nicht|ist)\b"),
    ("fr", r"[àâçéèêëîïôùûœ]|\b(le|la|les|est|dans|pour)\b"),
    ("es", r"[áéíóúñ¿¡]|\b(el|los|las|es|para|como)\b"),
]


def lang_id(text: Column | str) -> Column:
    """First-match marker-based language guess; defaults to ``en``."""
    c = F.col(text) if isinstance(text, str) else text
    expr: Column = F.lit("en")
    for code, pattern in reversed(_LANG_MARKERS):
        expr = F.when(c.rlike(pattern), F.lit(code)).otherwise(expr)
    return expr


def fingerprint(text: Column | str) -> Column:
    """Canonical content fingerprint: md5 of the lowercase,
    whitespace-normalized text. Used as the exact-dedup key — two
    documents differing only in case/spacing collide on purpose."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.trim(F.regexp_replace(F.lower(c), r"\s+", " ")))

