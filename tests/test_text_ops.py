"""Unit tests: token truncation, emoji, submission sink, taxonomy signal
edges, hashtag segmentation."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from multi_task_offensive_language_detection_spark.functions.text import (
    truncate_tokens,
)
from multi_task_offensive_language_detection_spark.operators.emoji import (
    demojize_py,
    demojize_udf,
)
from multi_task_offensive_language_detection_spark.sources.sinks import (
    write_submission_csv,
)


def _one(spark, text, col):
    return (
        spark.createDataFrame([(text,)], "t string")
        .select(col(F.col("t")).alias("out"))
        .collect()[0]["out"]
    )


def test_truncate_tokens(spark):
    assert _one(spark, "a b c d e f g", lambda c: truncate_tokens(c, 3)) == "a b c"


def test_demojize_pinned_table():
    assert demojize_py("on \U0001F525 today \U0001F602!") == (
        "on :fire: today :face_with_tears_of_joy:!"
    )
    assert demojize_py("plain text") == "plain text"


def test_demojize_udf(spark):
    df = spark.createDataFrame([("a \U0001F44D b",), (None,)], "t string")
    got = [r["d"] for r in df.select(demojize_udf("t").alias("d")).collect()]
    assert got[0] == "a :thumbs_up: b"
    assert got[1] == ""


def test_submission_csv_sink(spark, tmp_path):
    df = spark.createDataFrame(
        [(3, "OFF"), (1, "NOT"), (2, "OFF")], "id long, label string"
    )
    out = str(tmp_path / "sub")
    write_submission_csv(df, out)
    files = [f for f in os.listdir(out) if f.endswith(".csv")]
    assert len(files) == 1  # single-file submission
    lines = open(os.path.join(out, files[0])).read().strip().splitlines()
    assert lines == ["1,NOT", "2,OFF", "3,OFF"]  # headerless, id-sorted


def test_taxonomy_priority_ind_over_grp(spark):
    """A text with BOTH a second-person and a group signal → IND (pinned
    decision order, taxonomy.label_c)."""
    from multi_task_offensive_language_detection_spark.operators import taxonomy

    df = spark.createDataFrame(
        [("you fans are all idiots",)], "norm_text string"
    )
    r = taxonomy.with_labels(df).collect()[0]
    assert (r["label_a"], r["label_b"], r["label_c"]) == ("OFF", "TIN", "IND")


def test_hashtag_segmentation_goldens(spark):
    from multi_task_offensive_language_detection_spark.operators.hashtag import (
        _default_vocab,
        dict_split,
        segment_hashtags,
        segment_tag,
    )

    v = _default_vocab()
    mx = max(map(len, v))
    # greedy longest-match over the engine vocabulary
    assert segment_tag("thepeoplesaid", v, mx) == "the people said"
    assert segment_tag("GoodMorning", v, mx) == "good morning"
    assert segment_tag("Spark2024Rocks", v, mx) == "spark 2024 rocks"
    # unknown chars accrete, never vanish: output reassembles to input
    for tag in ("qqqzzz", "thexxhouse", "a1b2"):
        assert "".join(segment_tag(tag, v, mx).split()) == tag.lower()
    assert dict_split("thehouse", v, mx) == ["the", "house"]
    df = spark.createDataFrame(
        [(1, "hello #TheHouse and #thepeoplesaid ok"), (2, "no tags here"), (3, None)],
        "k long, t string",
    )
    out = {r["k"]: r["s"] for r in df.select("k", segment_hashtags(F.col("t")).alias("s")).collect()}
    assert out[1] == "hello the house and the people said ok"
    assert out[2] == "no tags here"
    assert out[3] is None  # NULL preserved, like native string ops


def test_hashtag_segmentation_lossless_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from multi_task_offensive_language_detection_spark.operators.hashtag import (
        _default_vocab,
        segment_tag,
    )

    v = _default_vocab()
    mx = max(map(len, v))

    @given(st.text(alphabet="abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789", min_size=1, max_size=24))
    @settings(max_examples=200, deadline=None)
    def check(tag):
        out = segment_tag(tag, v, mx)
        # segmentation never invents or drops characters
        assert "".join(out.split()) == tag.lower()

    check()


def test_hashtag_fixture_matches_live_segmenter(spark):
    """Drift guard for the pinned oracle backing str_hashtag_segment
    (tools/build_pinned_oracles.py): the committed segmentations must
    equal a fresh run of the live UDF over sf0.001. Fails after any
    vocab-artifact or segmenter change: regenerate via
    `python tools/build_pinned_oracles.py`."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from multi_task_offensive_language_detection_spark.operators.hashtag import (
        segment_hashtags,
        synth_hashtags_col,
    )

    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        pytest.skip("testdata not present")
    fx_path = os.path.join(
        os.path.dirname(__file__), "fixtures", "data", "hashtag_segments.parquet"
    )
    d = spark.read.parquet(os.path.join(sf, "documents.parquet"))
    sig = d.agg(F.sum(F.col("doc_id") * F.col("n_chars"))).collect()[0][0]
    live = d.select(
        "doc_id", segment_hashtags(synth_hashtags_col()).alias("live_seg")
    )
    fx = (
        spark.read.parquet(fx_path)
        .filter(F.col("corpus_sig") == int(sig))
        .select("doc_id", "segmented")
    )
    j = live.join(fx, "doc_id", "inner").cache()
    assert j.count() == d.count()
    mism = j.filter(F.col("live_seg") != F.col("segmented")).collect()
    assert not mism, f"{len(mism)} fixture drifts, e.g. {mism[:3]}"


def test_hashtag_fixture_handwritten_rows_pin_semantics():
    """The pinned hashtag fixture carries HANDWRITTEN rows (corpus_sig
    -1, written in tools/build_pinned_oracles.py from the documented
    semantics + the vocab list, never from the engine). The live
    segmenter must reproduce them — a semantics-drifting change cannot
    silently re-pin itself by regenerating the fixture, because these
    rows are not regenerated."""
    import os

    import pandas as pd

    from multi_task_offensive_language_detection_spark.operators.hashtag import (
        _default_vocab,
        segment_hashtags_in_text,
    )

    fx_path = os.path.join(
        os.path.dirname(__file__), "fixtures", "data", "hashtag_segments.parquet"
    )
    fx = pd.read_parquet(fx_path)
    hand = fx[fx["corpus_sig"] == -1]
    assert len(hand) >= 10, "handwritten golden rows missing from fixture"
    assert hand["tag"].notna().all()
    # engine-pinned rows must NOT carry a tag (they are regenerable)
    assert fx[fx["corpus_sig"] != -1]["tag"].isna().all()
    v = _default_vocab()
    mx = max(map(len, v))
    for _, row in hand.iterrows():
        got = segment_hashtags_in_text(row["tag"], v, mx)
        assert got == row["segmented"], (
            f"segmenter disagrees with handwritten golden for {row['tag']!r}: "
            f"{got!r} != {row['segmented']!r}"
        )
