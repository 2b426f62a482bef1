"""Cross-document span kernels over whitespace tokens: repeated-span
coverage (the RefinedWeb / Lee et al. boilerplate strip, over token
n-grams instead of suffix arrays) and keep-first segment dedup (the
C4 "three-sentence span" / CCNet paragraph rule, over fixed token
tiles because the corpus has no paragraph breaks).

Both take a STAGED frame: one row per document with its id column and
its token array ``t`` (``F.expr(operators.tokens.WS_TOKENS)``), plus
any columns the caller wants carried through. The id column must be
unique per row, or the per-document reassembly would merge token
streams. Each returns the common per-document relation; the curation
stage and the registry query each project their own output from it.

Scale shape: nothing pairwise. Token and gram/tile explodes are
linear; a gram's document frequency and a tile's first occurrence are
one aggregation each over the gram/tile key; the token stream itself
never crosses a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .tokens import ngrams, segment_tiles


def span_coverage(
    staged: DataFrame, id_col: str, min_docs: int, n: int
) -> DataFrame:
    """``staged`` left-joined to ``cov``: the set of token positions
    of each document covered by any occurrence of an ``n``-gram that
    appears in >= ``min_docs`` distinct documents (NULL when none is).

    Positions aggregate to ONE array per document, so the shuffle is
    bounded by MATCHED grams only, and a caller rebuilds the surviving
    text per row (array_except of 1..size(t) and cov) without the
    tokens crossing a shuffle. The gram document frequency is
    annotated in place with a window over the gram partition
    (dense_rank by id peaks at the distinct-document count; max fans
    it back — both spill-safe) instead of a groupBy joined back, so
    the corpus-sized gram explode executes once."""
    grams = (
        staged.filter(F.size("t") >= n)
        .select(id_col, F.posexplode(ngrams(n)).alias("s0", "g"))
        .select(id_col, (F.col("s0") + 1).alias("s"), "g")
    )
    dr = F.dense_rank().over(Window.partitionBy("g").orderBy(id_col))
    cd = F.max("_dr").over(Window.partitionBy("g"))
    cov = (
        grams.withColumn("_dr", dr)
        .withColumn("_cd", cd)
        .filter(F.col("_cd") >= min_docs)
        .select(
            id_col,
            F.explode(F.sequence(F.col("s"), F.col("s") + n - 1)).alias("pos"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("pos").alias("cov"))
    )
    return staged.join(cov, id_col, "left")


def keep_first_segments(staged: DataFrame, id_col: str, n: int) -> DataFrame:
    """(id, n_kept, text) for every document with at least one
    surviving tile: the corpus is tiled into non-overlapping
    ``n``-token segments, the globally first occurrence — min
    (id, s) — of every distinct segment survives, and ``text`` is the
    document's surviving tiles in position order joined by single
    spaces. Documents whose every tile occurred earlier have no row.

    The winner per segment is ONE segment-keyed min(struct(id, s))
    aggregation — partially aggregatable, so a web-scale boilerplate
    tile collapses map-side instead of one task sorting a mega-group
    in a row_number window. It equals the row_number() = 1 formulation
    because (id, s) is unique. Reassembly is a per-document collect +
    array_sort bounded by the document's own tiles; the segment text
    crosses the shuffle once, because the winner must carry it."""
    segs = (
        staged.filter(F.size("t") > 0)
        .select(id_col, F.explode(segment_tiles(n)).alias("x"))
        .select(id_col, F.col("x.s").alias("s"), F.col("x.seg").alias("seg"))
    )
    winners = (
        segs.groupBy("seg")
        .agg(F.min(F.struct(id_col, "s")).alias("w"))
        .select(F.col(f"w.{id_col}").alias(id_col), F.col("w.s").alias("s"), "seg")
    )
    return winners.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("s", "seg"))),
                lambda x: x["seg"],
            ),
            " ",
        ).alias("text"),
    )
