"""Document-quality kernels: the Gopher duplicate-bigram repetition
signal (Rae et al. 2021) and the CCNet-style unigram language-model
score with its per-language mean and standard deviation.

Cross-engine determinism (the DuckDB oracles compare bit-for-bit):
each term's log-probability is rounded to 9 dp and summed as DECIMAL,
which is exact and order-independent under any shuffle; only the
final per-document average is re-rounded to 6 dp. The per-language
stats sum (score, score^2) as fixed-scale decimals and cast to double
only for the final arithmetic.
"""

from __future__ import annotations

import pandas as pd  # module level: pandas_udf string hints must
# resolve in module globals under `from __future__ import annotations`
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .tokens import WS_TOKENS


def dup_bigram_frac(text: Column) -> Column:
    """Duplicate-bigram fraction of ``text``'s whitespace tokens:
    1 - distinct adjacent token pairs / adjacent pairs, 0.0 with fewer
    than two tokens (and for NULL text).

    One Arrow-batched pandas UDF: on a 32-core host the Python set
    over token pairs took 1.4 s on 195k docs against 9 s for Catalyst
    zip_with + concat + array_distinct, whose higher-order functions
    run interpreted per element. The value is bit-identical to that
    formulation: the same float64 ``1.0 - distinct / n``, and a pair
    of space-free tokens is as distinct as their space-joined string.
    Callers keep their length and stopword predicates as Catalyst
    predicates, so a filter evaluates them before this UDF."""

    @F.pandas_udf("double")
    def _dup_bigram_frac(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            toks = [x for x in (t or "").split(" ") if x]
            nb = len(toks) - 1
            out.append(
                1.0 - len(set(zip(toks, toks[1:]))) / nb if nb > 0 else 0.0
            )
        return pd.Series(out, dtype="float64")

    return _dup_bigram_frac(text)


def doc_term_counts(docs: DataFrame, id_col: str) -> DataFrame:
    """(id, term, cnt) from ONE whitespace-token explode of ``text``:
    the staging frame every unigram-model computation derives from."""
    return (
        docs.select(id_col, F.explode(F.expr(WS_TOKENS)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("cnt"))
    )


def weighted_decimal_sum(weight_col: str, logp_col: str) -> Column:
    """sum(cnt * logp) in exact decimal arithmetic — equal to summing
    logp once per token instance, and order-independent. cnt casts to
    DECIMAL(10,0) so the product stays inside precision 38."""
    return F.sum(F.col(weight_col).cast("decimal(10,0)") * F.col(logp_col))


def unigram_scores(docs: DataFrame, id_col: str) -> DataFrame:
    """(id, n_tokens, score): each document's token count and average
    token log-probability under the corpus's own unigram model,
    rounded to 6 dp. Documents without tokens have no row.

    One token explode: the model (term -> ctf) and the per-document
    score (cnt x logp, decimal) derive from the staged (id, term, cnt)
    frame. The corpus total is a no-explode scan-sum of per-row token
    counts (equal to counting exploded instances); deriving it from
    the model would give that frame a second consumer, and Catalyst
    copies, not shares, such subplans."""
    dtf = doc_term_counts(docs, id_col)
    tf = dtf.groupBy("term").agg(F.sum("cnt").alias("ctf"))
    tot = docs.agg(F.sum(F.size(F.expr(WS_TOKENS))).alias("n_total"))
    lp = tf.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(F.log(F.col("ctf") / F.col("n_total")), 9)
        .cast("decimal(20,9)").alias("logp"),
    )
    n_tok = F.sum("cnt")
    return (
        dtf.join(lp, "term")
        .groupBy(id_col)
        .agg(
            n_tok.alias("n_tokens"),
            F.round(
                weighted_decimal_sum("cnt", "logp").cast("double") / n_tok, 6
            ).alias("score"),
        )
    )


def lm_quality_stats(
    docs: DataFrame, id_col: str
) -> tuple[DataFrame, Column, Column]:
    """(scored, mu, sigma) over ``docs(id, text, lang)``: ``scored``
    is (id, lang, n_tokens, score) per document with at least one
    token; ``mu`` and ``sigma`` are the mean and population standard
    deviation of ``score`` within the row's language, as window
    columns over ``scored``. Select them next to its columns (a
    filter cannot hold a window column) — left as expressions so a
    caller's verdict compiles into one projection over the window.

    The stats are a window over the language partition of the scored
    rows, not a groupBy joined back, so the corpus-sized score
    pipeline executes once; no per-language single-task sort (the
    ntile shape) either.

    The explicit isNotNull(id) filter changes no row (ids are keys),
    but the score side's inner join on id infers that filter into its
    copy of the token-explode subtree; carrying it on the model side
    too keeps both (id, term) exchanges canonically equal, so AQE runs
    the explode stage once and reuses it."""
    docs = docs.filter(F.col(id_col).isNotNull())
    scored = docs.select(id_col, "lang").join(
        unigram_scores(docs, id_col), id_col
    )
    wl = Window.partitionBy("lang")
    n = F.count("*").over(wl)
    sum_s = (
        F.sum(F.round(F.col("score"), 6).cast("decimal(20,6)")).over(wl)
        .cast("double")
    )
    sum_s2 = (
        F.sum(
            F.round(F.col("score") * F.col("score"), 9).cast("decimal(25,9)")
        ).over(wl).cast("double")
    )
    mu = sum_s / n
    sigma = F.sqrt(F.greatest((sum_s2 - sum_s * sum_s / n) / n, F.lit(0.0)))
    return scored, mu, sigma
