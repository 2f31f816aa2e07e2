"""Regenerate PLANS.md — formatted physical plans of the instructive
queries, with one-line annotations of what each plan is REQUIRED to
show (the '.explain and iterate' evidence; the hard assertions live in
tests/test_plan_shape.py, this file makes them reviewable).

    python tools/dump_plans.py
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.001"

#: (check key, what the plan must show)
PLANS = [
    (
        "pipeline_documents",
        "exactly ONE ArrowEvalPython (the fused scoring UDF), zero "
        "BatchEvalPython, bytes column never scanned",
    ),
    (
        "dedup_minhash_lsh",
        "final plan (after one run): ONE ArrowEvalPython (the features "
        "UDF) under one keyed Exchange of the packed features, the "
        "verify sides on that features exchange as ReusedExchange, NO "
        "InMemoryRelation; pair generation via one hash-agg + "
        "generators, NO two-sided self-join, no CartesianProduct. The "
        "bucket cap plans as BroadcastHashJoin LeftAnti (CI-locked); at "
        "run time AQE removes it when no bucket is over the cap, as here",
    ),
    (
        "join_bucketed",
        "SortMergeJoin with ZERO Exchange nodes above the scans — the "
        "shuffle was amortized into the bucketed writes",
    ),
    (
        "tpch_q5_local_supplier_volume",
        "dimension chain broadcast (region->nation->supplier pruned "
        "before the fact joins), fact join shuffles once on orderkey, "
        "pushed date filters visible in the orders scan",
    ),
    (
        "merge_upsert",
        "tagged union + one Exchange on the merge key + Window — no "
        "join anywhere",
    ),
    (
        "tpch_q1_pricing_summary",
        "partial+final HashAggregate pair, shipdate predicate pushed "
        "to the parquet scan",
    ),
    (
        "audio_chunk_stats",
        "ONE ArrowEvalPython for the whole decode->chunk chain — "
        "explode_outer keeps Catalyst from duplicating the Python "
        "stage behind a synthesized pre-Generate filter (r5 fix)",
    ),
    (
        "sample_mixture",
        "row selection is a bare Filter over the scan — NO Exchange, NO "
        "Join (rates come from a G-row driver collect); hash-based keep "
        "is retry-deterministic and embarrassingly parallel (r6)",
    ),
    (
        "stream_interval_join",
        "keyed join (SortMerge/ShuffledHash on user_id) with the time "
        "band as a join-condition filter — no "
        "CartesianProduct/BroadcastNestedLoopJoin; under streaming the "
        "watermark+interval bound is the state-retention contract (r6)",
    ),
    (
        "audio_vad_stats",
        "TWO chained ArrowEvalPython in the CHECK (the synthetic-clip "
        "generator feeds the VAD; the generator exists only in the "
        "fixture path) — the production op with_vad_stats alone is ONE "
        "Arrow stage, CI-locked in test_plan_shape; zero BatchEvalPython",
    ),
]

#: keys printed as their final adaptive plan, after one run: their
#: requirement is exchange reuse, which AQE applies only at run time
#: (an unrun adaptive plan prints every reused subtree again)
RUN_FIRST = {"dedup_minhash_lsh"}


def main() -> None:
    from multi_task_offensive_language_detection_spark import checks
    from multi_task_offensive_language_detection_spark.session import build_session

    spark = build_session(app_name="dump-plans", master="local[4]")
    out = [
        "# Physical plans (generated by tools/dump_plans.py at sf0.001)",
        "",
        "Annotated `.explain('formatted')` output for the instructive",
        "queries. The REQUIREMENTS below are CI-locked in",
        "tests/test_plan_shape.py — this file is the human-readable copy.",
        "",
    ]
    for key, requirement in PLANS:
        df = checks.QUERIES[key](spark, SF)
        if key in RUN_FIRST:
            df.collect()
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        tree = plan.split("\n\n")[0].split("+- == Initial Plan ==")[0]
        out += [
            f"## {key}",
            "",
            f"**Must show:** {requirement}",
            "",
            "```",
            tree.rstrip(),
            "```",
            "",
        ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(PLANS)} plans)")
    spark.stop()


if __name__ == "__main__":
    main()
