"""Text expressions shared by the text-analysis and dedup operators.

Every helper has a Spark form and a DuckDB-SQL form with identical semantics,
so oracle queries stay exact. All Spark forms are built-in column expressions
(codegen'd, no Python in the hot path).

Lambda bodies (``transform``/``filter``) run interpreted, with no common-
subexpression elimination, so anything a lambda reads that does not depend
on the lambda variable is recomputed per element. :func:`word_ngrams`
therefore takes the NAME of an already-projected token column, never an
expression: the usual shape is
``df.select("doc_id", tokens("text").alias("tok"))`` then
``word_ngrams("tok", n)``, which tokenizes each document once.
``scripts/explain_audit.py`` flags any plan that puts a column-reading
expression inside a lambda body.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# BPE-ish surface tokenizer: alnum runs or single non-space symbols.
# Works identically under Java regex (Spark) and RE2-ish (DuckDB).
TOKEN_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

# Tiny per-language stopword lists for the n-gram-heuristic language ID.
# Deterministic and duplicated verbatim into oracle SQL.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that"),
    "de": ("der", "die", "das", "und", "ist", "ein", "nicht", "mit"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es"),
    "fr": ("le", "la", "de", "et", "un", "est", "que", "pour"),
    "zh": ("de5", "shi4", "bu4", "le5", "wo3", "you3", "zai4", "ren2"),
}


# canonical-normalization regex shared by curation + the dedup cascade
# (lives here so importing it carries no registration side effects)
NORM_RE = "[^a-z0-9]+"


def tokens(col: Column | str) -> Column:
    """Whitespace word tokens (lowercased, empties dropped)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != F.lit(""))


def dd_tokens(expr: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({expr}), '\\s+'), t -> t <> '')"
    )


def word_ngrams(tok: str, n: int) -> Column:
    """Positional word n-grams of the token-array column named ``tok``;
    empty when len < n.

    Only a column name is accepted: an inline expression such as
    ``tokens(F.col("text"))`` would be re-evaluated 2·n times per n-gram
    inside the lambda (see the module docstring). Guarded with ``when``
    because Spark's ``sequence(1, 0)`` is *descending* ``[1, 0]``, not
    empty.
    """
    if not isinstance(tok, str):
        raise TypeError(
            "word_ngrams takes the name of a projected token column, e.g. "
            "df.select(tokens('text').alias('tok')) then word_ngrams('tok', n)"
        )
    tok = F.col(tok)
    ng = F.transform(
        F.sequence(F.lit(1), F.size(tok) - F.lit(n - 1)),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tok, i + F.lit(k)) for k in range(n)]
        ),
    )
    return F.when(F.size(tok) >= n, ng).otherwise(
        F.array().cast("array<string>")
    )


def dd_word_ngrams(list_expr: str, n: int) -> str:
    """DuckDB form of :func:`word_ngrams`; ``list_expr`` should be a simple
    column reference (it is inlined several times)."""
    parts = " || ' ' || ".join(f"({list_expr})[i+{k}]" for k in range(n))
    return (
        f"CASE WHEN len({list_expr}) >= {n} THEN "
        f"list_transform(generate_series(1, len({list_expr}) - {n - 1}), i -> {parts}) "
        f"ELSE [] END"
    )


def regex_token_count(col: Column | str) -> Column:
    """Token count under the BPE-ish TOKEN_REGEX."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(TOKEN_REGEX), F.lit(0)))


def dd_regex_token_count(expr: str) -> str:
    return f"len(regexp_extract_all({expr}, '{TOKEN_REGEX}'))"
