"""Corpus-mixture selection kernels: the per-group top-K quota
(C4/RefinedWeb anti-spam rule), temperature-based language
rebalancing (XLM-R alpha sampling) and the deterministic
train/val/test split stamp.

Selection is never random: ranks use a total order, and acceptance
and split draws are the engine's stateless md5 bucket
(functions/bucket.py), so a document's fate is identical on rerun,
resume and under a change of parallelism.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.bucket import salted_bucket

_BUCKETS = 1_000_000  # acceptance/split resolution: thresholds are
# integer bucket counts, exact in both engines


def group_top_k(
    docs: DataFrame, group_col: str, order: list, limit: Column | int
) -> DataFrame:
    """The first ``limit`` rows of each ``group_col`` group under the
    total order ``order`` (sort columns, ending in a unique key);
    ``limit`` is a literal or a per-row column constant within a
    group. A rank <= K predicate over the group window, which Spark
    plans as WindowGroupLimit when ``limit`` is a literal: a
    per-partition top-K heap BEFORE the shuffle, so a hot group ships
    K rows per map task, not millions."""
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        docs.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= limit)
        .drop("_rn")
    )


def temperature_keep(docs: DataFrame, id_col: str, alpha: float) -> DataFrame:
    """Kept rows of ``docs(id, lang, ...)`` plus their language's
    ``keep_thresh``: keep rate r_l = (n_l / n_min)^(alpha-1), so the
    smallest language keeps 100% and dominant ones downsample toward
    a flatter mixture. A row is kept when its UNSALTED md5 bucket of
    ``id`` is below the integer threshold round(r_l * 10^6) — the
    formula the temperature_sampled_corpus oracle pins. The
    per-language counts are a languages-sized aggregate, safe to
    broadcast at any corpus size."""
    c = docs.groupBy("lang").agg(F.count("*").alias("n"))
    m = c.agg(F.min("n").alias("n_min"))
    r = c.crossJoin(F.broadcast(m)).select(
        "lang",
        F.round(
            F.pow(F.col("n") / F.col("n_min"), alpha - 1) * _BUCKETS, 0
        ).cast("long").alias("keep_thresh"),
    )
    return (
        docs.join(F.broadcast(r), "lang")
        .filter(salted_bucket(id_col, _BUCKETS) < F.col("keep_thresh"))
    )


def split_label(id_col: str, train_thresh: int, val_thresh: int) -> Column:
    """Deterministic 'train'/'val'/'test' label of ``id_col``: buckets
    [0, train_thresh) of 10^6 are train, [train_thresh, val_thresh)
    val, the rest test. A stateless scan-stage expression, so a
    document's split never changes when the corpus grows — the
    property that keeps eval sets uncontaminated across refreshes.
    The bucket is "split:"-salted: the documents reaching a stamp
    already passed sampling stages' acceptance buckets, and an
    unsalted stamp on the same key would draw val/test only from
    strata whose keep threshold exceeds the train fraction (stacked
    decisions on one bucket are correlated, not independent)."""
    b = salted_bucket(id_col, _BUCKETS, salt="split:")
    return (
        F.when(b < train_thresh, "train")
        .when(b < val_thresh, "val")
        .otherwise("test")
    )
