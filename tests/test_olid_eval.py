"""The reference's own evaluation paradigm (SURVEY.md §5.1 → §5.2.1):
OLID-v1-shaped corpus, train/test by deterministic mod split, per-subtask
macro-F1 on the held-out stratum ≥ 0.99 vs the pinned labels
(BASELINE.json:2). Exercises the same A/B/C heads as the clips pipeline
but on the 14k-row OLID-distribution fixture."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.functions.scrub import scrub_pii
from multi_task_offensive_language_detection_spark.functions.text import normalize_ws
from multi_task_offensive_language_detection_spark.operators import taxonomy
from multi_task_offensive_language_detection_spark.operators.metrics import (
    f1_per_class,
    macro_f1,
)


@pytest.fixture(scope="module")
def olid(spark):
    from tests.fixtures.olid_gen import make_olid

    pdf = make_olid()
    df = spark.createDataFrame(pdf)
    norm = normalize_ws(scrub_pii(F.lower(F.col("transcript"))))
    return taxonomy.with_labels(df.withColumn("norm_text", norm)).cache()


def test_split_shape(olid):
    n_test = olid.filter(F.col("split") == "test").count()
    assert 800 <= n_test <= 950  # 860-shaped stratum
    assert olid.count() == 14100


def test_label_distribution_olid_shaped(olid):
    """Generator sanity: A ratio ≈ 1:2, B TIN-dominant, per the paper."""
    n = olid.count()
    n_off = olid.filter(F.col("subtask_a") == "OFF").count()
    assert 0.28 < n_off / n < 0.38
    n_tin = olid.filter(F.col("subtask_b") == "TIN").count()
    n_unt = olid.filter(F.col("subtask_b") == "UNT").count()
    assert n_tin > 5 * n_unt


@pytest.mark.parametrize(
    ("gold", "pred"),
    [("subtask_a", "label_a"), ("subtask_b", "label_b"), ("subtask_c", "label_c")],
)
def test_heldout_macro_f1(olid, gold, pred):
    d = (
        olid.filter(F.col("split") == "test")
        .filter(F.col(gold).isNotNull())
        .select(F.col(gold).alias("gold"), F.col(pred).alias("pred"))
        .fillna("MISSING", subset=["pred"])
    )
    f1 = macro_f1(d).first()["macro_f1"]
    assert f1 >= 0.99, f"{gold} held-out macro-F1 {f1:.4f} < 0.99"


def test_train_stratum_also_clean(olid):
    """No train/test leakage question arises — the head is rule-based —
    but the train stratum must score equally well (same distribution)."""
    d = (
        olid.filter(F.col("split") == "train")
        .select(F.col("subtask_a").alias("gold"), F.col("label_a").alias("pred"))
    )
    per = {r["cls"]: r["f1"] for r in f1_per_class(d).collect()}
    assert min(per.values()) >= 0.99
