"""Whitespace tokens and their fixed-width views — the one Spark-side
definition every text kernel, curation stage and registry query uses,
so they all agree on what a token, an n-gram and a segment tile are.

A token is a maximal run of non-space characters: ``text`` split on
the single space character, empty strings dropped. Tabs and newlines
are token characters. The DuckDB oracle SQL spells the same rule as
``list_filter(string_split(text, ' '), x -> x <> '')``; the oracle is
the reference the registry is checked against, so it keeps its own
copy.

The n-gram and tile expressions read a token-array column named
``t``: stage the tokens once per row (``F.expr(WS_TOKENS).alias("t")``)
and derive the views from that column, because CollapseProject keeps
a non-cheap alias referenced more than once (SPARK-36718) and the
split would otherwise run once per reference.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Spark SQL text, not a Column: callers splice it into larger SQL
# expressions as well as wrapping it in F.expr
WS_TOKENS = "filter(split(text, ' '), x -> x <> '')"


def ngrams(n: int) -> Column:
    """Token n-grams of ``t`` in position order: ``n`` consecutive
    tokens joined by single spaces, one per start 1..size(t)-n+1.
    Callers keep rows with size(t) >= n (a shorter array would make
    ``sequence`` count down)."""
    parts = ", ".join(
        ["element_at(t, i)"] + [f"element_at(t, i+{j})" for j in range(1, n)]
    )
    return F.expr(
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> concat_ws(' ', {parts}))"
    )


def segment_tiles(n: int) -> Column:
    """Non-overlapping ``n``-token tiles of ``t`` as struct(s, seg):
    ``s`` is the tile's first token position (1-based), ``seg`` its
    tokens joined by single spaces; the last tile may be shorter.
    Callers keep rows with size(t) > 0."""
    return F.expr(
        f"transform(sequence(1, size(t), {int(n)}), "
        f"i -> struct(i AS s, concat_ws(' ', slice(t, i, {int(n)})) AS seg))"
    )
