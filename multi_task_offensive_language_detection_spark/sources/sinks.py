"""Prediction sinks (SURVEY.md S6): the reference's submission-CSV format
(id,label — headerless, sorted by id) plus generic parquet/csv writers."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_submission_csv(
    df: DataFrame, path: str, id_col: str = "id", label_col: str = "label"
) -> None:
    """OffensEval submission format: headerless ``id,label`` rows, totally
    ordered by id (range-partitioned sort; coalesce(1) only because the
    submission format demands a single file — NOT a pattern for data)."""
    (
        df.select(F.col(id_col).cast("string"), F.col(label_col))
        .orderBy(id_col)
        .coalesce(1)
        .write.mode("overwrite")
        .option("header", "false")
        .csv(path)
    )
