"""Text analysis Column builders (token counting, shingles, quality,
language ID) — JVM built-ins only in the fixture-facing paths.

:func:`tokens` is THE corpus tokenizer: every Spark-side query and
shared corpus artifact that splits document text into words goes
through it (``tests/test_textops.py`` enforces that no other module
splits on a single space), so the word, shingle and set measures all
describe the same tokens as their ``string_split(text, ' ')`` oracles.

The language-ID heuristic is a real stopword/character n-gram scorer
meant for natural text; the driver fixture documents are synthetic
word-salad with a 31-word English vocabulary, so correctness queries
use corpus statistics instead and the heuristic is unit-tested on
multilingual samples (tests/test_textops.py).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(text: Column | str) -> Column:
    """Single-space tokenization. DuckDB: ``string_split(text, ' ')``."""
    return F.split(text, " ")


def distinct_tokens(text: Column | str) -> Column:
    return F.array_distinct(tokens(text))


def shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles of a token array (MinHash/fingerprint input)
    — works on any array expression, not just plain column refs
    (built with the typed higher-order API instead of F.expr strings).

    DuckDB equivalent (1-based, end-inclusive slices):
    ``list_transform(range(1, len(toks)-n+2), i -> array_to_string(toks[i:i+n-1], ' '))``.
    """
    # sequence(0, size-n) enumerates shingle starts; empty when size < n.
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    empty = F.array().cast("array<string>")
    return F.when(F.size(toks) < n, empty).otherwise(grams)


def count_matching(toks: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens in ``words`` — higher-order filter, no UDF,
    accepts arbitrary array expressions.
    DuckDB: ``len(list_filter(toks, t -> t IN (...)))``."""
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


# Stopword tables for the language-ID heuristic (operators path).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it", "was", "for"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "den", "von"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "des", "que", "pour"),
    "es": ("el", "la", "los", "las", "es", "un", "una", "que", "por", "con"),
    "zh": ("的", "是", "了", "在", "我", "有", "和", "不", "这", "他"),
}


def langid_scores(toks: Column) -> dict[str, Column]:
    """Stopword-hit score per language for a token array column."""
    return {lang: count_matching(toks, words) for lang, words in LANG_STOPWORDS.items()}


def langid_from_tokens(toks: Column) -> Column:
    """Argmax language by stopword hits over an ALREADY-TOKENIZED array
    ('und' = undetermined on a zero score), computed as a when-chain over
    score columns — entirely JVM-side. Taking the token array (rather
    than re-tokenizing internally) lets callers feed the SAME array to
    both the argmax and any score/hit columns they emit alongside it —
    mixed tokenizers made ``predicted`` disagree with ``best`` on text
    containing tabs/newlines/double spaces."""
    scores = langid_scores(toks)
    langs = list(scores)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.lit("und")
    # Reverse order so earlier languages win ties deterministically.
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, lang).otherwise(expr)
    return F.when(best == 0, "und").otherwise(expr)


def langid(text: Column) -> Column:
    """Language-ID for raw natural text: regex whitespace tokenization
    (tabs/newlines/runs of spaces all split) + :func:`langid_from_tokens`."""
    return langid_from_tokens(F.split(F.lower(text), r"\s+"))
