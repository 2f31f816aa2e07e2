"""M2 — metric kernel vs hand-computed sklearn-convention values."""

from __future__ import annotations

import pytest

from multi_task_offensive_language_detection_spark.operators import metrics


@pytest.fixture(scope="module")
def preds(spark):
    rows = [
        # gold, pred  → per-class: A: tp=2 fp=1 fn=1; B: tp=1 fp=1 fn=2; C: tp=1 fp=1 fn=0
        ("A", "A"),
        ("A", "A"),
        ("A", "B"),
        ("B", "A"),
        ("B", "B"),
        ("B", "C"),
        ("C", "C"),
    ]
    return spark.createDataFrame(rows, "gold string, pred string")


def test_accuracy(preds):
    assert abs(metrics.accuracy(preds).collect()[0]["accuracy"] - 4 / 7) < 1e-12


def test_confusion(preds):
    cm = {(r["gold"], r["pred"]): r["n"] for r in metrics.confusion(preds).collect()}
    assert cm[("A", "A")] == 2 and cm[("B", "C")] == 1 and ("C", "A") not in cm


def test_f1_per_class(preds):
    f1 = {r["cls"]: r for r in metrics.f1_per_class(preds).collect()}
    # A: p=2/3 r=2/3 f1=2/3 ; B: p=1/2 r=1/3 f1=0.4 ; C: p=1/2 r=1 f1=2/3
    assert abs(f1["A"]["f1"] - 2 / 3) < 1e-12
    assert abs(f1["B"]["f1"] - 0.4) < 1e-12
    assert abs(f1["C"]["f1"] - 2 / 3) < 1e-12


def test_macro_f1(preds):
    expect = (2 / 3 + 0.4 + 2 / 3) / 3
    assert abs(metrics.macro_f1(preds).first()["macro_f1"] - expect) < 1e-12


def test_zero_division_class(spark):
    """A class never predicted → precision 0, recall 0, f1 0 (sklearn
    semantics), and it still appears in the per-class table."""
    df = spark.createDataFrame([("A", "B"), ("B", "B")], "gold string, pred string")
    f1 = {r["cls"]: r for r in metrics.f1_per_class(df).collect()}
    assert f1["A"]["precision"] == 0.0 and f1["A"]["recall"] == 0.0 and f1["A"]["f1"] == 0.0
