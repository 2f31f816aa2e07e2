"""Physical-plan shape assertions (SURVEY.md §4, the '.explain and
iterate' discipline): these lock in the optimizations so a refactor that
silently adds a Python stage or breaks pushdown fails CI."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F


def _formatted_plan(df, spark) -> str:
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _tree(plan: str) -> str:
    return plan.split("\n\n")[0]


@pytest.fixture(scope="module")
def scored_plan(spark, artifacts, clips_fixture):
    from multi_task_offensive_language_detection_spark.plans.pipeline import (
        salted_repartition,
        score_transcripts,
    )
    from multi_task_offensive_language_detection_spark.sources.clips import (
        prune_to_parts,
        read_clips,
    )

    clips_dir, _ = clips_fixture
    clips = prune_to_parts(read_clips(spark, clips_dir), [1, 2, 3]).select(
        "clip_id", "dur_ms", "transcript", "part_id"
    )
    scored = score_transcripts(
        salted_repartition(clips, 8), "transcript", artifacts, dur_ms_col="dur_ms"
    )
    return _formatted_plan(scored, spark)


def test_single_python_stage(scored_plan):
    """langid+ppl fold into ONE ArrowEvalPython node — one Arrow boundary."""
    tree = _tree(scored_plan)
    assert len(re.findall(r"ArrowEvalPython", tree)) == 1, tree
    assert "BatchEvalPython" not in scored_plan  # no row-at-a-time Python


def test_flagship_scores_in_one_task_per_core(spark, clips_fixture, tmp_path):
    """The flagship job's scoring exchange hash-partitions on the unique
    clip_id into defaultParallelism partitions: one balanced Python task
    per core, each paying the per-task worker cost once."""
    from multi_task_offensive_language_detection_spark.plans.pipeline import (
        run_clips_pipeline,
    )

    store = spark._jsparkSession.sharedState().statusStore()
    before = store.executionsList().size()
    run_clips_pipeline(spark, clips_fixture[0], str(tmp_path / "out"), str(tmp_path / "ledger"))
    runs = store.executionsList()
    plans = [runs.apply(i).physicalPlanDescription() for i in range(before, runs.size())]
    scoring = [p for p in plans if "ArrowEvalPython" in p]
    assert len(scoring) == 1, plans
    n = spark.sparkContext.defaultParallelism
    exchanges = set(re.findall(r"hashpartitioning\((\w+)#\d+, (\d+)\)", scoring[0]))
    assert exchanges == {("clip_id", str(n)), ("part_id", str(n))}, scoring[0]


def test_partition_pruning(scored_plan):
    assert re.search(r"PartitionFilters: \[part_id.* IN \(1,2,3\)\]", scored_plan)


def test_bytes_column_never_read(scored_plan):
    m = re.search(r"ReadSchema: (\S+)", scored_plan)
    assert m and "bytes" not in m.group(1), m.group(1)


def test_one_shuffle_before_scoring(scored_plan):
    """Exactly the salt exchange sits between scan and Python stage."""
    tree = _tree(scored_plan)
    assert len(re.findall(r"Exchange", tree)) == 1, tree


def test_filter_pushdown_documents(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("n_chars").between(100, 400))
        .select("doc_id", "n_chars")
    )
    plan = _formatted_plan(df, spark)
    assert "GreaterThanOrEqual(n_chars,100)" in plan
    assert "LessThanOrEqual(n_chars,400)" in plan
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m and "text" not in m.group(1)  # column pruning


def test_broadcast_join_in_plan(spark):
    from multi_task_offensive_language_detection_spark.checks import QUERIES

    df = QUERIES["join_broadcast_inner"](spark, "/root/testdata/sf0.001")
    assert "BroadcastHashJoin" in _formatted_plan(df, spark)


def test_topk_does_not_full_sort(spark):
    from multi_task_offensive_language_detection_spark.checks import QUERIES

    df = QUERIES["sort_by_key"](spark, "/root/testdata/sf0.001")
    assert "TakeOrderedAndProject" in _formatted_plan(df, spark)


def test_lsh_cap_is_broadcast_anti_no_cartesian(spark):
    """The bucket cap must stay a broadcast anti-join (tiny oversized-
    bucket list), never a sort-based window or a cartesian product."""
    from multi_task_offensive_language_detection_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"some text body number {i} with enough shingle length") for i in range(50)],
        "doc_id long, text string",
    )
    plan = _formatted_plan(dedup.minhash_lsh_pairs(df, "doc_id", "text"), spark)
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan), plan[:2000]
    assert "Window" not in plan  # the cap must not sort the banded frame
    plan2 = _formatted_plan(dedup.simhash_pairs(df, "doc_id", "text"), spark)
    assert "CartesianProduct" not in plan2
    assert re.search(r"BroadcastHashJoin .*LeftAnti", plan2)


def test_tpch_q5_q6_pushdown_no_cartesian(spark):
    from multi_task_offensive_language_detection_spark.checks import QUERIES

    p5 = _formatted_plan(
        QUERIES["tpch_q5_local_supplier_volume"](spark, "/root/testdata/sf0.001"), spark
    )
    assert "CartesianProduct" not in p5
    assert "BroadcastHashJoin" in p5
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(o_orderdate", p5)
    p6 = _formatted_plan(
        QUERIES["tpch_q6_forecast_revenue"](spark, "/root/testdata/sf0.001"), spark
    )
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate", p6)
    m = re.search(r"ReadSchema: (\S+)", p6)
    assert m and "l_orderkey" not in m.group(1)  # column pruning on the scan


def test_merge_upsert_one_shuffle_no_cartesian(spark):
    """MERGE semantics = tagged union + priority window: exactly one
    exchange (on the merge key), never a join/cartesian."""
    from multi_task_offensive_language_detection_spark.operators import upsert

    t = spark.range(100).selectExpr("id AS k", "cast(id AS double) AS v")
    u = spark.range(0, 100, 10).selectExpr("id AS k", "cast(id + 1000 AS double) AS v")
    plan = _formatted_plan(upsert.merge_upsert(t, u, ["k"]), spark)
    tree = _tree(plan)
    assert len(re.findall(r"Exchange", tree)) == 1, tree
    assert "CartesianProduct" not in plan and "Join" not in tree
    assert "Window" in tree


def test_bucketed_join_no_exchange(spark, tmp_path):
    """operators/bucketed.py promise: same-bucket-count tables join with
    ZERO Exchange nodes (the shuffle was amortized into the writes) and,
    when sorted within buckets, zero Sort nodes above the scans."""
    from multi_task_offensive_language_detection_spark.operators.bucketed import (
        bucketed_equijoin,
        write_bucketed,
    )

    a = spark.range(200).select(F.col("id").alias("k"), (F.col("id") * 2).alias("va"))
    b = spark.range(150).select(F.col("id").alias("k"), (F.col("id") + 7).alias("vb"))
    write_bucketed(a, "t_bkt_a", "k", 4)
    write_bucketed(b, "t_bkt_b", "k", 4)
    j = bucketed_equijoin(spark, "t_bkt_a", "t_bkt_b", "k")
    plan = _formatted_plan(j, spark)
    tree = _tree(plan)
    assert "Exchange" not in tree, tree
    assert "SortMergeJoin" in tree or "ShuffledHashJoin" in tree, tree
    # result correctness vs the un-bucketed join
    expect = sorted((r["k"], r["va"], r["vb"]) for r in a.join(b, "k").collect())
    got = sorted((r["k"], r["va"], r["vb"]) for r in j.collect())
    assert got == expect
    spark.sql("DROP TABLE IF EXISTS t_bkt_a")
    spark.sql("DROP TABLE IF EXISTS t_bkt_b")


def test_chunk_and_vad_single_python_stage(spark):
    """r5 audio ops: chunking's UDF + explode stay ONE ArrowEvalPython
    (the explode runs JVM-side over the returned array — no second
    Python boundary), and VAD is likewise a single Arrow stage with no
    row-at-a-time Python anywhere."""
    from multi_task_offensive_language_detection_spark.operators.audio import (
        chunk_clips,
        with_vad_stats,
    )

    df = spark.createDataFrame(
        [("c1", b"\x00\x00" * 400, "pcm_s16le", 16000)],
        "clip_id string, bytes binary, codec string, sr_hz int",
    )
    for out in (chunk_clips(df, 20), with_vad_stats(df)):
        plan = _formatted_plan(out, spark)
        tree = _tree(plan)
        assert len(re.findall(r"ArrowEvalPython", tree)) == 1, tree
        assert "BatchEvalPython" not in plan


def test_decontaminate_broadcasts_reference_no_cartesian(spark):
    """r5 decontamination: the reference gram side must broadcast (both
    the semi and the anti join are BroadcastHashJoins — zero shuffle of
    the training side beyond its own gram explode) and nothing plans as
    a cartesian/nested-loop product."""
    from multi_task_offensive_language_detection_spark.operators.dedup import (
        decontaminate,
    )

    train = spark.range(100).selectExpr(
        "id as doc_id", "concat('alpha beta gamma delta epsilon zeta ', id) as text"
    )
    ref = spark.range(5).selectExpr("id as rid", "'alpha beta gamma delta' as text")
    plan = _formatted_plan(decontaminate(train, ref, "text", "doc_id", n=4), spark)
    tree = _tree(plan)
    assert "CartesianProduct" not in tree and "BroadcastNestedLoop" not in tree, tree
    assert len(re.findall(r"BroadcastHashJoin", tree)) >= 2, tree


def test_sample_mixture_is_pure_filter_no_shuffle(spark):
    """Mixture sampling's row selection must stay a bare Filter over the
    scan — the per-group rates ride a G-row driver collect, so the
    returned plan has NO Exchange and NO Join (the property that makes
    it retry-deterministic and embarrassingly parallel at 10^12 rows)."""
    from multi_task_offensive_language_detection_spark import checks

    df = checks.QUERIES["sample_mixture"](spark, "/root/testdata/sf0.001")
    tree = _tree(_formatted_plan(df, spark))
    assert "Exchange" not in tree, tree
    assert "Join" not in tree, tree


def test_stream_interval_join_no_cartesian(spark):
    """The interval join must key on user_id (equi part) with the time
    band as a post-join condition — a missing equi key would plan a
    BroadcastNestedLoopJoin/CartesianProduct that cannot scale."""
    from multi_task_offensive_language_detection_spark import checks

    df = checks.QUERIES["stream_interval_join"](spark, "/root/testdata/sf0.001")
    plan = _formatted_plan(df, spark)
    tree = _tree(plan)
    assert "CartesianProduct" not in tree, tree
    assert "BroadcastNestedLoopJoin" not in tree, tree
    assert re.search(r"SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin", tree), tree


@pytest.fixture(scope="module")
def lsh_executed_plans(spark, tmp_path_factory):
    """Final executed plans of minhash_lsh_pairs and lsh_index_query,
    read from the frames that were collected: ``.count()`` plans a
    different query, and an adaptive plan that has not run shows no
    exchange reuse yet."""
    from multi_task_offensive_language_detection_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"some text body number {i % 7} with enough shingle length") for i in range(50)],
        "doc_id long, text string",
    )
    idx = str(tmp_path_factory.mktemp("lsh") / "idx")
    dedup.lsh_index_write(df.filter("doc_id < 30"), "doc_id", "text", idx)
    plans = {}
    for name, out in (
        ("pairs", dedup.minhash_lsh_pairs(df, "doc_id", "text")),
        ("index_query", dedup.lsh_index_query(df.filter("doc_id >= 30"), "doc_id", "text", idx)),
    ):
        assert out.collect(), name
        plans[name] = out._jdf.queryExecution().executedPlan().executedPlan().toString()
    return plans


def test_lsh_verify_intersects_once_per_pair(lsh_executed_plans):
    """The LSH verify evaluates array_intersect once per candidate pair:
    the executed plans of minhash_lsh_pairs and lsh_index_query each
    hold the expression exactly once (a threshold filter pushed into the
    join condition inlines it there twice more, plus once in the
    projection), and both verify joins stay ShuffledHashJoin."""
    for plan in lsh_executed_plans.values():
        assert plan.count("array_intersect(") == 1, plan
        assert len(re.findall(r"ShuffledHashJoin \[k", plan)) == 2, plan


def test_lsh_features_run_once_through_reused_exchange(lsh_executed_plans):
    """The LSH features UDF runs ONCE per query and nothing is cached:
    the banding explode, the bucket-cap count and both verify joins read
    one keyed exchange of the packed features, which AQE reuses. A
    second ArrowEvalPython means an exchange split (a pruned column, an
    inferred filter pushed below it), and an InMemoryTableScan means a
    persisted features frame."""
    for name, plan in lsh_executed_plans.items():
        assert plan.count("ArrowEvalPython") == 1, (name, plan)
        assert "InMemoryTableScan" not in plan, (name, plan)
        assert "ReusedExchange" in plan, (name, plan)
