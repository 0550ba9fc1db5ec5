"""Text primitives: characters, tokens, shingles.

These generalize the reference's flagship client (char frequency,
``Sample Client/SampleClient.cpp:34-50``) into reusable column builders.
Tokenization is whitespace splitting with empty-token filtering — identical
semantics to DuckDB ``string_split`` oracles (both engines keep a trailing
empty token on trailing delimiters; both sides filter it).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def chars(text: Column | str) -> Column:
    """Array of single characters (split on the empty pattern)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, ""), lambda ch: ch != "")


def tokens(text: Column | str) -> Column:
    """Whitespace tokens, empties dropped."""
    c = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(c, " "), lambda t: t != "")


def quality_score(n_tokens: Column, n_uniq: Column, n_chars: Column) -> Column:
    """The doc quality score from a doc's token count, distinct-token count
    and character length: lexical diversity + length saturation. NULL for
    a doc with no tokens."""
    return (
        0.5 * (n_uniq.cast("double") / F.nullif(n_tokens, F.lit(0)))
        + 0.3 * F.least(n_tokens / F.lit(20.0), F.lit(1.0))
        + 0.2 * F.least(n_chars / F.lit(100.0), F.lit(1.0))
    )


def _positions(count: Column) -> Column:
    # sequence(1, 0) in Spark yields a DESCENDING [1, 0], not [] — guard the
    # shorter-than-n case explicitly.
    return F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )


def char_ngrams(text: Column | str, n: int) -> Column:
    """Array of character n-grams via transform over a position sequence —
    JVM-side, no UDF. Empty array for texts shorter than n.

    Deliberately the ``substr(i, n)``-per-position form. The tempting
    "split to a char array once, element_at per gram" rewrite is a trap
    INSIDE a single expression: the lambda captures the split as an
    unevaluated subexpression, so every ``element_at`` re-splits the
    whole text — measured 2.2 s → 67 s on char_trigram_profile at sf0.1.
    ``substr``'s per-call offset scan is O(position) in BYTES (a ~ns/char
    pointer walk), negligible against the gram explode that follows at
    any realistic document length."""
    c = F.col(text) if isinstance(text, str) else text
    count = F.length(c) - F.lit(n - 1)
    return F.transform(_positions(count), lambda i: c.substr(i, F.lit(n)))


def char_ngrams_of_chars(cs: Column, n: int) -> Column:
    """Char n-grams from an ALREADY-SPLIT char array column — project
    ``F.split(text, "")`` into its own column first, exactly the
    :func:`ngrams_of_tokens` contract. From a materialized array each
    ``element_at`` is O(1), so the gram pass is O(len) per document;
    measured 2.4 s → 1.25 s vs :func:`char_ngrams` on the sf0.1 trigram
    profile, with the gap growing for longer documents (substr's offset
    scan) — but NEVER inline the split into this call (see the
    char_ngrams docstring: re-splitting per element access is 30×)."""
    count = F.size(cs) - F.lit(n - 1)
    return F.transform(
        _positions(count),
        lambda i: F.concat(*[F.element_at(cs, i + j) for j in range(n)]),
    )


def ngrams_of_tokens(toks: Column, n: int) -> Column:
    """Word n-grams from an ALREADY-TOKENIZED array column.

    Use this (after projecting ``tokens(text)`` into its own column) rather
    than :func:`token_ngrams` when the source text is non-trivial: expanding
    ``tokens(text)`` inline here would re-run split+filter over the full
    text once per n-gram lambda evaluation — measured ~4× slowdown on the
    minhash pipeline.
    """
    count = F.size(toks) - F.lit(n - 1)
    return F.transform(_positions(count), lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def token_ngrams(text: Column | str, n: int) -> Column:
    """Array of word n-grams (space-joined) — shingles for Jaccard/MinHash.
    Convenience form; prefer tokenize-once + :func:`ngrams_of_tokens` in
    hot paths (see that function's warning)."""
    return ngrams_of_tokens(tokens(text), n)


# -- SQL-string twins (r12) ----------------------------------------------------
#
# Building large in-row HOF pipelines with pyspark Column calls costs one
# py4j round-trip per node — measured ~2 s of pure driver time per call on
# the gopher tree. These helpers emit Spark SQL strings for selectExpr so
# a whole stage is one parse. Semantics are kept IDENTICAL to the Column
# builders above (same guards, same empty-array behavior).

EMPTY_INT_ARRAY_SQL = "CAST(array() AS ARRAY<INT>)"


def tokens_sql(text: str = "text") -> str:
    """SQL twin of :func:`tokens`."""
    return f"filter(split({text}, ' '), t -> t <> '')"


def seq1_sql(n_expr: str) -> str:
    """SQL twin of ``_positions``: sequence(1, n) guarded against the
    descending sequence(1, 0)."""
    return (
        f"CASE WHEN {n_expr} >= 1 THEN sequence(1, {n_expr}) "
        f"ELSE {EMPTY_INT_ARRAY_SQL} END"
    )


def ngrams_sql(tk: str, n: int) -> str:
    """SQL twin of :func:`ngrams_of_tokens` (space-joined n-token slices
    from an already-projected token array column)."""
    return (
        f"transform({seq1_sql(f'size({tk}) - {n - 1}')}, "
        f"i -> concat_ws(' ', slice({tk}, i, {n})))"
    )
