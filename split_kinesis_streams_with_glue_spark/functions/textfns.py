"""Text expression helpers (SURVEY.md X3): tokenization, shingling,
fingerprints — all built-in ``pyspark.sql.functions`` compositions.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: BPE-ish token pattern: letter runs, digit runs, or single non-space symbol.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: small language marker lexicons for the n-gram/stopword language-ID
#: heuristic. Deliberately tiny and deterministic: the point is the operator
#: shape (per-language evidence scores + argmax), not lexical coverage.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "a"],
    "de": ["der", "die", "und", "ist", "das", "ein"],
    "fr": ["le", "la", "et", "est", "les", "une"],
    "es": ["el", "la", "y", "es", "los", "una"],
    "zh": ["的", "是", "了", "在", "和", "有"],
}


def whitespace_tokens(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, r"\s+"), lambda w: w != "")


def word_shingles(tokens: Column, n: int = 3) -> Column:
    """Distinct n-word shingles from a token array. Pure array HOF:
    sequence + transform + slice, evaluated per element outside codegen;
    text is shingled with ``text_shingles``, which tests check against
    this formulation.

    Docs shorter than ``n`` tokens yield an EMPTY set via an explicit
    guard: ``sequence(0, -1)`` is the descending ``[0, -1]`` in Spark, not
    empty, and the ``slice`` at start 0 would throw."""
    return F.when(
        F.size(tokens) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(tokens) - n),
                lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))


def text_shingles(text: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles of a text, lower-cased: the same array, in
    the same order, as ``word_shingles(whitespace_tokens(lower(text)), n)``
    (an empty array for null or fewer than ``n`` words), but from built-in
    regex expressions only, so it runs in whole-stage codegen where the
    lambda composition is interpreted per element.

    Whitespace runs collapse to one space, then one zero-width match per
    token start (a position not preceded by a non-space) captures that
    token and the ``n - 1`` after it."""
    c = F.col(text) if isinstance(text, str) else text
    norm = F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))
    window = " ".join(["[^ ]+"] * n)
    return F.coalesce(
        F.array_distinct(
            F.regexp_extract_all(norm, F.lit(f"(?<![^ ])(?=({window}))"), F.lit(1))
        ),
        F.array().cast("array<string>"),
    )


def fingerprint(text: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of case/whitespace-normalized
    text. md5 is available in every engine (incl. DuckDB), so exact-dup
    fingerprints are oracle-checkable."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.trim(F.lower(c)), r"\s+", " "))


def rolling_hashes(tokens: Column, window: int = 8) -> Column:
    """Winnowing-style rolling fingerprints: xxhash64 over each
    ``window``-token slice. Basis for content-defined chunk dedup.
    Same short-input guard as ``word_shingles`` (descending sequence +
    slice-at-0 crash otherwise)."""
    return F.when(
        F.size(tokens) >= window,
        F.transform(
            F.sequence(F.lit(0), F.size(tokens) - window),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice(tokens, i + 1, window))),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
