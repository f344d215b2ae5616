"""Document tokens and the word shingles built on them.

A document's tokens are its text split on each single space:
``split(text, ' ')`` in Spark, ``string_split(text, ' ')`` in DuckDB.
Leading, trailing and doubled spaces give empty tokens, so ``''`` is
one empty token and ``' a'`` is ``['', 'a']``; any other whitespace
stays inside its token; a NULL text gives a NULL array. ``tokens`` and
``tokens_sql`` are the only spellings of this rule in the package.

A text of n tokens has max(n - k, 0) + 1 k-token shingles: window i
(0-based) joins tokens i+1 .. i+k with single spaces, and a text
shorter than k tokens is one shingle of all its tokens. A NULL text
yields the one shingle ``''``. The DuckDB oracles spell the same
windows as ``range(greatest(len(ws) - k, 0) + 1)`` and
``ws[i + 1 : i + k]``.

The windows are built from k shifted slices of the token array zipped
together (``arrays_zip(slice(ws, 1, m), …, slice(ws, k, m))`` with
m = max(n - k + 1, 1)), exploded, and joined with ``concat_ws``. Every
step has generated code. The ``transform(sequence(…), i -> …)`` lambda
spelling it replaces is a higher-order function, which Spark evaluates
row by row in the interpreter. ``concat_ws`` skips the NULL padding
that ``arrays_zip`` adds past the end of a short text, which is what
makes a short text one shingle of all its tokens.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens(expr: Column | str = "text") -> Column:
    """The token array of ``expr``, a column or column name."""
    return F.split(expr, " ")


def tokens_sql(dialect: str, expr: str = "text") -> str:
    """SQL text of the token array of ``expr`` for ``dialect`` "spark"
    or "duckdb"."""
    if dialect == "spark":
        return f"split({expr}, ' ')"
    if dialect == "duckdb":
        return f"string_split({expr}, ' ')"
    raise ValueError(f"unknown SQL dialect {dialect!r}")


def word_shingles(
    df: DataFrame,
    k: int,
    *keep: str,
    out: str = "shingle",
    pos: str | None = None,
) -> DataFrame:
    """One row per k-token shingle of ``df.text``: the ``keep`` columns,
    the window's 0-based position as ``pos`` when it is named, and the
    shingle as ``out``."""
    ws = F.col("_ws")
    m = F.greatest(F.size(ws) - (k - 1), F.lit(1))
    windows = F.arrays_zip(*[F.slice(ws, j, m) for j in range(1, k + 1)])
    if pos is None:
        gen, at = F.explode_outer(windows).alias("_w"), []
    else:
        # posexplode_outer gives a NULL text's one row position NULL.
        gen = F.posexplode_outer(windows).alias("_p", "_w")
        at = [F.coalesce(F.col("_p"), F.lit(0)).alias(pos)]
    shingle = F.concat_ws(" ", *[F.col("_w")[str(j)] for j in range(k)])
    # Split once into its own projection: each of the k + 1 references
    # to the token array would otherwise re-split the text.
    return (
        df.select(*keep, tokens().alias("_ws"))
        .select(*keep, gen)
        .select(*keep, *at, shingle.alias(out))
    )
