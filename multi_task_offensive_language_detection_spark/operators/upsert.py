"""MERGE INTO / upsert semantics from stock operators.

The Iceberg/Delta ``MERGE INTO target USING updates ON key WHEN MATCHED
UPDATE WHEN NOT MATCHED INSERT`` statement, composed Spark-first for
environments without a lakehouse runtime (this sandbox has no Iceberg
jars — SURVEY.md §0.4): tag each source with a priority, union, keep the
highest-priority row per key with one window. Exactly one shuffle (on
the merge key); on a partitioned target the same plan runs with the
update set partition-pruned, which is how MERGE engines execute it too
(copy-on-write rewrite of touched partitions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def merge_upsert(
    target: DataFrame, updates: DataFrame, keys: list[str], tiebreak: str | None = None
) -> DataFrame:
    """Rows from ``updates`` replace same-key rows of ``target``; unmatched
    update rows are inserted; everything else passes through.

    Deterministic between the two sources: the priority column (not
    dropDuplicates' arbitrary pick) guarantees an update always beats the
    target row. WITHIN ``updates``, ANSI MERGE requires at most one source
    row per key (multiple matches are a runtime error in real MERGE
    engines); callers that cannot guarantee that must pass ``tiebreak`` —
    a column ordered DESC after the priority — so the surviving duplicate
    is stable. Without it, ties among duplicate update keys are broken
    arbitrarily by shuffle order.

    Schemas must be union-compatible (``unionByName``)."""
    tagged = updates.withColumn("_src", F.lit(2)).unionByName(
        target.withColumn("_src", F.lit(1))
    )
    order = [F.col("_src").desc()]
    if tiebreak is not None:
        order.append(F.col(tiebreak).desc())
    w = W.partitionBy(*keys).orderBy(*order)
    return (
        tagged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )
