"""Evaluation metric kernel (SURVEY.md A3-A6, M2) — pure DataFrame aggs.

The reference computes accuracy / per-class F1 / macro-F1 with sklearn on
driver-local arrays ([R] ref:utils.py). Here the same math is distributed
SQL: one groupBy(gold, pred) shuffle produces the confusion counts, and
precision/recall/F1/macro-F1 fold from it with no further wide stage —
O(#classes²) rows after the first agg, so it scales to any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def confusion(df: DataFrame, gold: str = "gold", pred: str = "pred") -> DataFrame:
    """A4 — (gold, pred, n) counts."""
    return df.groupBy(F.col(gold).alias("gold"), F.col(pred).alias("pred")).agg(
        F.count(F.lit(1)).alias("n")
    )


def accuracy(df: DataFrame, gold: str = "gold", pred: str = "pred") -> DataFrame:
    """A3 — single-row accuracy."""
    return df.agg(
        F.avg((F.col(gold) == F.col(pred)).cast("double")).alias("accuracy")
    )


def f1_per_class(df: DataFrame, gold: str = "gold", pred: str = "pred") -> DataFrame:
    """A5 — per-class precision/recall/F1 from the confusion counts.

    Classes are the union of gold and pred values (sklearn semantics).
    Zero-division → 0.0, matching sklearn's default.
    """
    cm = confusion(df, gold, pred)
    classes = (
        cm.select(F.col("gold").alias("cls"))
        .union(cm.select(F.col("pred").alias("cls")))
        .distinct()
    )
    tp = cm.filter(F.col("gold") == F.col("pred")).select(
        F.col("gold").alias("cls"), F.col("n").alias("tp")
    )
    gold_tot = cm.groupBy(F.col("gold").alias("cls")).agg(F.sum("n").alias("n_gold"))
    pred_tot = cm.groupBy(F.col("pred").alias("cls")).agg(F.sum("n").alias("n_pred"))
    j = (
        classes.join(tp, "cls", "left")
        .join(gold_tot, "cls", "left")
        .join(pred_tot, "cls", "left")
        .fillna(0, subset=["tp", "n_gold", "n_pred"])
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold")).otherwise(0.0)
    return j.select(
        "cls",
        prec.alias("precision"),
        rec.alias("recall"),
        F.when(
            (prec + rec) > 0, 2 * prec * rec / (prec + rec)
        ).otherwise(0.0).alias("f1"),
    )


def macro_f1(df: DataFrame, gold: str = "gold", pred: str = "pred") -> DataFrame:
    """A6 — the headline metric (single row)."""
    return f1_per_class(df, gold, pred).agg(F.avg("f1").alias("macro_f1"))
