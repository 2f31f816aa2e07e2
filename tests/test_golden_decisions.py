"""M5 exit criterion: the engine independently reproduces the pinned
reference decisions (keep/drop + drop_reason + A/B/C labels + scrubbed
transcript) at per-subtask macro-F1 ≥ 0.99 (BASELINE.json:2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.operators.metrics import macro_f1
from multi_task_offensive_language_detection_spark.plans.pipeline import score_transcripts
from multi_task_offensive_language_detection_spark.sources.clips import read_clips


@pytest.fixture(scope="module")
def joined(spark, artifacts, clips_fixture):
    clips_dir, golden_path = clips_fixture
    clips = read_clips(spark, clips_dir).select("clip_id", "dur_ms", "transcript", "part_id")
    scored = score_transcripts(clips, "transcript", artifacts, dur_ms_col="dur_ms")
    golden = spark.read.parquet(golden_path)
    j = scored.alias("e").join(golden.alias("g"), "clip_id", "inner").cache()
    assert j.count() == 2000
    return j


def test_keep_decision_exact(joined):
    mism = joined.filter(F.col("e.keep") != F.col("g.keep"))
    rows = mism.select("clip_id", "g.stratum", "transcript", "e.drop_reason", "g.drop_reason", "e.ppl").collect()
    assert not rows, f"{len(rows)} keep mismatches, e.g. {rows[:5]}"


def test_drop_reason_exact(joined):
    mism = joined.filter(
        ~(
            (F.col("e.drop_reason") == F.col("g.drop_reason"))
            | (F.col("e.drop_reason").isNull() & F.col("g.drop_reason").isNull())
        )
    )
    rows = mism.select("clip_id", "g.stratum", "transcript", "e.drop_reason", "g.drop_reason").collect()
    assert not rows, f"{len(rows)} drop_reason mismatches, e.g. {rows[:5]}"


@pytest.mark.parametrize("level", ["label_a", "label_b", "label_c"])
def test_subtask_macro_f1(joined, level):
    # hierarchy: evaluate only rows the GOLD labels at that level (the
    # reference's masked-loss convention, SURVEY.md §3.1 step 3)
    d = joined.filter(F.col(f"g.{level}").isNotNull()).select(
        F.col(f"g.{level}").alias("gold"), F.col(f"e.{level}").alias("pred")
    )
    f1 = macro_f1(d.fillna("MISSING", subset=["pred"])).first()["macro_f1"]
    assert f1 >= 0.99, f"{level} macro-F1 {f1:.4f} < 0.99"


def test_scrubbed_transcript_golden(joined):
    mism = joined.filter(F.col("e.scrubbed_transcript") != F.col("g.scrubbed_transcript"))
    rows = mism.select("transcript", "e.scrubbed_transcript", "g.scrubbed_transcript").collect()
    assert not rows, f"{len(rows)} scrub mismatches, e.g. {rows[:3]}"


def test_kept_clean_rows_transcript_equality(joined):
    """BASELINE.json:15 invariant: kept rows with no scrub edits pass
    through byte-identical."""
    bad = joined.filter(
        F.col("e.keep") & (F.col("g.n_edits") == 0)
        & (F.col("e.scrubbed_transcript") != F.col("transcript"))
    )
    assert bad.count() == 0


def test_hierarchy_invariant(joined):
    assert joined.filter((F.col("e.label_a") == "NOT") & F.col("e.label_b").isNotNull()).count() == 0
    assert joined.filter((F.col("e.label_b") != "TIN") & F.col("e.label_c").isNotNull()).count() == 0
    assert joined.filter((F.col("e.label_a") == "OFF") & F.col("e.label_b").isNull()).count() == 0


def test_flagship_fixture_matches_live_kernels(spark):
    """Drift guard for the pinned oracle side table backing the
    pipeline_documents_full driver key (tools/build_flagship_fixture.py):
    the committed (lang, conf, ppl, rep_char_run) columns must equal a
    fresh run of the production kernels at sf0.001. Fails after any
    artifact or kernel change (ARTIFACT_VERSION bump) until the fixture
    is regenerated — which is exactly the reminder it exists to give."""
    import os

    import pandas as pd

    from multi_task_offensive_language_detection_spark.artifacts_build import build_all

    fx_path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests",
        "fixtures",
        "data",
        "flagship_scores.parquet",
    )
    assert os.path.exists(fx_path), "run tools/build_flagship_fixture.py"
    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").withColumnRenamed(
        "text", "transcript"
    )
    sig = int(
        d.agg(F.sum(F.col("doc_id") * F.col("n_chars"))).collect()[0][0]
    )
    live = (
        score_transcripts(d, "transcript", build_all())
        .select(
            "doc_id",
            F.col("scores.langid_lang").alias("lang"),
            F.col("scores.langid_conf").alias("conf"),
            F.col("scores.ppl").alias("ppl"),
            "rep_char_run",
        )
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    fx = (
        pd.read_parquet(fx_path)
        .query(f"corpus_sig == {sig}")
        .drop(columns=["corpus_sig"])
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert len(fx) == len(live) > 0
    pd.testing.assert_frame_equal(fx, live, check_exact=True)
