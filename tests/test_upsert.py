"""MERGE INTO semantics composed from stock operators (operators/upsert)."""

from __future__ import annotations

from multi_task_offensive_language_detection_spark.operators import upsert


def test_merge_upsert_updates_win_and_inserts_append(spark):
    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, name string, v double"
    )
    updates = spark.createDataFrame(
        [(2, "b2", 99.0), (4, "d", 40.0)], "k long, name string, v double"
    )
    out = {r["k"]: r for r in upsert.merge_upsert(target, updates, ["k"]).collect()}
    assert sorted(out) == [1, 2, 3, 4]
    assert out[2]["name"] == "b2" and out[2]["v"] == 99.0  # matched → update wins
    assert out[4]["name"] == "d"  # unmatched update → insert
    assert out[1]["v"] == 10.0 and out[3]["v"] == 30.0  # untouched pass through


def test_merge_upsert_composite_key(spark):
    target = spark.createDataFrame([(1, "x", 1.0), (1, "y", 2.0)], "k long, s string, v double")
    updates = spark.createDataFrame([(1, "y", 5.0)], "k long, s string, v double")
    out = {(r["k"], r["s"]): r["v"] for r in upsert.merge_upsert(target, updates, ["k", "s"]).collect()}
    assert out == {(1, "x"): 1.0, (1, "y"): 5.0}


def test_merge_upsert_duplicate_update_keys_tiebreak_is_deterministic(spark):
    # ANSI MERGE forbids duplicate source keys; when a caller has them
    # anyway, the tiebreak column makes the surviving row stable
    target = spark.createDataFrame([(1, "old", 0.0)], "k long, name string, ver double")
    updates = spark.createDataFrame(
        [(1, "v1", 1.0), (1, "v3", 3.0), (1, "v2", 2.0), (2, "n1", 1.0), (2, "n2", 2.0)],
        "k long, name string, ver double",
    )
    for _ in range(3):  # stable across repeated plans/shuffles
        out = {
            r["k"]: r
            for r in upsert.merge_upsert(target, updates, ["k"], tiebreak="ver").collect()
        }
        assert out[1]["name"] == "v3" and out[1]["ver"] == 3.0
        assert out[2]["name"] == "n2"

